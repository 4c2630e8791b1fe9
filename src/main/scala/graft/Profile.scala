package graft

import org.apache.spark.sql.SparkSession

/** Profiling harness (not part of the library surface). Runs on the
  * shipped session (`Bench.session`) with `$SPARK_GRAFT_CPUS` cores
  * (default 4) over the tables in `$SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  *   - `time [q,q,...]`: Bench's protocol for a few queries — warm-up at
  *     sf0.001, best of 2, operator caches released between runs;
  *   - `explain q,q,... [outDir [tag]]`: formatted physical plans, to
  *     stdout, or to `outDir/<q>_<tag>.txt` (tag defaults to `before`);
  *   - `stageprof [q]`: per-stage wall, task-time sum and task count of
  *     one warm run, plus the time no stage was running;
  *   - `plancounts`: static Exchange / nested-loop census per query,
  *     the source of PlanGuardSpec's exchange budgets.
  *
  * A runtime SQL conf under test is flipped with `spark.conf.set` for a
  * one-off A/B; the session itself is Bench's.
  */
object Profile {

  private val Usage = Seq(
    "time [q,q,...]",
    "explain q,q,... [outDir [tag]]",
    "stageprof [q]",
    "plancounts")

  private val WarmDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (!Usage.exists(_.split(' ').head == mode)) {
      System.err.println(s"unknown Profile mode '$mode'; modes:")
      Usage.foreach(u => System.err.println(s"  $u"))
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rest = args.drop(1)
    def queryList(default: Seq[String]) =
      rest.headOption.map(_.split(",").toSeq).getOrElse(default)
    mode match {
      case "time" => time(spark, sfDir, queryList(Seq("q56_incr_dedup")))
      case "explain" =>
        explain(spark, sfDir, queryList(Nil), rest.lift(1), rest.lift(2).getOrElse("before"))
      case "stageprof" => stageprof(spark, sfDir, rest.headOption.getOrElse("q115_pretrain_curate"))
      case "plancounts" => plancounts(spark)
    }
    spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, qs: Seq[String]): Unit = {
    qs.foreach { q =>
      SparkEntry.queries(q)(spark, WarmDir).count()
      graft.ops.CacheScope.releaseAll()
    }
    qs.foreach { q =>
      var rows = 0L
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = SparkEntry.queries(q)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.ops.CacheScope.releaseAll()
        dt
      }
      println(f"[time] $q rows=$rows t=${times.min}%.2fs")
      System.gc() // outside the timed window — see Bench's tail note
    }
  }

  private def explain(spark: SparkSession, sfDir: String, qs: Seq[String],
      outDir: Option[String], tag: String): Unit = {
    outDir.foreach(new java.io.File(_).mkdirs())
    qs.foreach { q =>
      val txt = SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(dir) =>
          val p = java.nio.file.Paths.get(s"$dir/${q}_$tag.txt")
          java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
          println(s"[explain] wrote $p (${txt.length} chars)")
        case None =>
          println(s"===== $q =====")
          println(txt)
      }
      graft.ops.CacheScope.releaseAll()
    }
  }

  /** The UI-less stand-in for the stage page: run the query once warm
    * under a SparkListener and print every stage's duration, task count
    * and name, longest first. Submission gaps (driver-side planning and
    * collect work) show up as the time no stage was running.
    */
  private def stageprof(spark: SparkSession, sfDir: String, q: String): Unit = {
    SparkEntry.queries(q)(spark, WarmDir).count()
    graft.ops.CacheScope.releaseAll()
    // warm run at the target SF too (codegen for the big-SF plan)
    SparkEntry.queries(q)(spark, sfDir).count()
    graft.ops.CacheScope.releaseAll()
    final case class StageRec(name: String, sub: Long, comp: Long, nt: Int,
      taskMs: Long)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskMs.computeIfAbsent(te.stageId,
          _ => new java.util.concurrent.atomic.AtomicLong())
          .addAndGet(te.taskInfo.duration)
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        stages.put(info.stageId, StageRec(info.name,
          info.submissionTime.getOrElse(-1L),
          info.completionTime.getOrElse(-1L), info.numTasks,
          Option(taskMs.get(info.stageId)).map(_.get()).getOrElse(0L)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    val df = SparkEntry.queries(q)(spark, sfDir)
    val tc = System.nanoTime()
    val rows = df.count()
    val wall = (System.nanoTime() - t0) / 1e9
    graft.ops.CacheScope.releaseAll()
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq.sortBy(_._2.sub)
    val stageWall = all.map(r => r._2.comp - r._2.sub).sum
    val totalTaskMs = all.map(_._2.taskMs).sum
    // driver-idle gaps: periods with NO stage running (planning/collect)
    val intervals = all.map(r => (r._2.sub, r._2.comp)).sortBy(_._1)
    var gapMs = 0L; var cursor = wall0
    intervals.foreach { case (s, c) =>
      if (s > cursor) gapMs += s - cursor
      cursor = math.max(cursor, c)
    }
    println(f"[stageprof] $q rows=$rows wall=$wall%.2fs " +
      f"(construct=${(tc - t0) / 1e9}%.2fs) stages=${all.size} " +
      f"stage_wall_sum=${stageWall / 1000.0}%.2fs task_sum=${totalTaskMs / 1000.0}%.2fs " +
      f"no_stage_running=${gapMs / 1000.0}%.2fs")
    all.sortBy(r => -(r._2.comp - r._2.sub)).take(25).foreach { case (id, r) =>
      println(f"[stageprof]   ${(r.comp - r.sub) / 1000.0}%6.2fs task_sum=${r.taskMs / 1000.0}%6.2fs tasks=${r.nt}%-4d s$id ${r.name.take(110)}")
    }
  }

  /** AQE off so the plan shape is deterministic. */
  private def plancounts(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = SparkEntry.queries(q)(spark, WarmDir).queryExecution.executedPlan
      var ex = 0; var bnlj = 0
      p.foreach { n =>
        if (n.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]) ex += 1
        if (n.nodeName.contains("BroadcastNestedLoop") ||
          n.nodeName.contains("CartesianProduct")) bnlj += 1
      }
      println(s"[plan] $q exchanges=$ex bnlj=$bnlj")
    }
  }
}
