// Spark jobs run by each size-switched iterative operator on each of its
// two paths, for comparing two checkouts. A spark-shell script:
//
//   spark-shell --master 'local[4]' --driver-memory 2g \
//     --driver-class-path target/scala-2.13/classes -i tools/round_jobs.scala
//
// Fixtures are the specs' chains: the FixpointSpec 300-chain, the
// ClosureSpec 40-chain and the ScaleSpec 40-hop connected-components
// chain. `driver` runs the op with its default threshold, `distributed`
// with driverThreshold = 0. Prints one line per case,
//   [jobs] <op> <path> call=<jobs of the call> collect=<jobs of collecting its result> rows=<n>
// Jobs are counted by a listener; a marker job flushes the listener bus
// before each read.
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.ops.{CacheScope, Closure, Fixpoint}
import graft.scale.Dedup

val session = graft.Bench.session("4").getOrCreate()
session.sparkContext.setLogLevel("ERROR")
import session.implicits._

val jobs = new AtomicInteger()
val marker = new java.util.concurrent.LinkedBlockingQueue[String]()
session.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
      case Some(m) if m.startsWith("round_jobs marker") => marker.put(m)
      case _ => jobs.incrementAndGet()
    }
})
var markers = 0
def settled(): Int = {
  markers += 1
  val m = s"round_jobs marker $markers"
  session.sparkContext.setJobDescription(m)
  session.sparkContext.parallelize(Seq(1), 1).count()
  session.sparkContext.setJobDescription(null)
  while (marker.take() != m) {}
  jobs.getAndSet(0)
}

def measure(op: String, path: String)(call: => DataFrame): Unit = {
  settled()
  val out = call
  val c = settled()
  val n = out.collect().length
  val k = settled()
  println(s"[jobs] $op $path call=$c collect=$k rows=$n")
  CacheScope.releaseAll()
}

val subs = (1 until 300).map(i => (i.toLong, i + 1L)).toDF("o", "n")
val dag = (1 until 40).map(i => (s"T$i", s"T${i + 1}")).toDF("child", "parent")
val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
// one warm pass so codegen and first-use jobs do not land on one side
Fixpoint.resolve(subs, "o", "n").collect()
CacheScope.releaseAll()

measure("Fixpoint.resolve", "driver")(Fixpoint.resolve(subs, "o", "n"))
measure("Fixpoint.resolve", "distributed")(Fixpoint.resolve(subs, "o", "n", driverThreshold = 0))
measure("Closure.ancestors", "driver")(Closure.ancestors(dag))
measure("Closure.ancestors", "distributed")(
  Closure.ancestors(dag, maxRounds = 8, driverThreshold = 0))
measure("Dedup.connectedComponents", "driver")(Dedup.connectedComponents(chain, "id_a", "id_b"))
measure("Dedup.connectedComponents", "distributed")(
  Dedup.connectedComponents(chain, "id_a", "id_b", maxRounds = 45, driverThreshold = 0))
System.exit(0)
