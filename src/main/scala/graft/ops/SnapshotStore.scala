package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType

/** Crash-atomic snapshot store: versioned entity directories published
  * through a single manifest flip.
  *
  * The reference gets multi-table commit atomicity from Oracle
  * transactions (Dao.java:142-155); the snapshot-file analog is:
  *
  *   1. write every entity of the new state under `v<N>/<entity>` —
  *      never touching the live directories;
  *   2. atomically replace the `MANIFEST` file (one `ATOMIC_MOVE`
  *      rename) mapping each entity to its version directory;
  *   3. garbage-collect version directories no longer referenced.
  *
  * A crash during (1) leaves the manifest — and therefore every reader
  * — on the previous fully-consistent state (the orphan staging dir is
  * GC'd by the next successful publish). A crash during (2) resolves to
  * either the old or the new manifest, never a mix. A crash during (3)
  * leaves only unreferenced garbage. Publishing a SUBSET of entities
  * (e.g. the annotate pass rewriting only `annotations`) keeps the
  * other entities' pointers unchanged in the same atomic flip.
  *
  * Readers resolve through [[path]], which falls back to the flat
  * legacy layout (`storeDir/<entity>`) for stores that predate the
  * manifest — so side tables never written by a publish (e.g. staged
  * `dbsnp`) keep resolving too.
  *
  * On a distributed filesystem the same protocol holds wherever rename
  * is atomic (HDFS: yes; object stores: swap step 2 for a conditional
  * PUT of the manifest object — the data layout is unchanged).
  *
  * Reader isolation: every commit also snapshots its manifest under
  * `manifests/v<N>`, and [[publish]]/[[publishBucketed]] take a
  * `retain` count — GC keeps every path referenced by the newest
  * `retain` manifests, not just the live one. A reader that resolved
  * version N keeps valid paths until N falls out of the retention
  * window (the lease = `retain` × publish cadence), and [[readAt]]
  * time-travels to any retained version. `retain = 1` (default)
  * reproduces the minimal-footprint behavior: only the live state's
  * files survive — the right setting for the reference's
  * single-writer daily batch.
  */
object SnapshotStore {

  val ManifestName = "MANIFEST"

  private def manifestFile(storeDir: String) = new File(storeDir, ManifestName)

  /** entity -> version-relative path (e.g. "variants" -> "v3/variants"). */
  def readManifest(storeDir: String): Map[String, String] =
    parseManifest(manifestFile(storeDir))

  private def parseManifest(f: File): Map[String, String] = {
    if (!f.exists()) Map.empty
    else Files.readAllLines(f.toPath, StandardCharsets.UTF_8)
      .toArray(Array.empty[String])
      .iterator
      .map(_.trim)
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed manifest line: $line")
        line.substring(0, i) -> line.substring(i + 1)
      }
      .toMap
  }

  /** Resolve an entity's current data path: manifest-pinned version dir
    * if published, else the flat legacy path `storeDir/<entity>`.
    * Bucketed entities resolve through [[paths]]/[[read]] instead.
    */
  def path(storeDir: String, entity: String): String =
    readManifest(storeDir).get(entity) match {
      case Some(rel) => s"$storeDir/$rel"
      case None      => s"$storeDir/$entity"
    }

  /** Every data path the entity currently resolves to: the per-bucket
    * pointers for a bucket-published entity (possibly spanning several
    * version dirs — unchanged buckets are carried by reference), else
    * the single [[path]].
    */
  def paths(storeDir: String, entity: String): Seq[String] = {
    val pre = bucketKeyPrefix(entity)
    val bucketed = readManifest(storeDir)
      .collect { case (k, rel) if k.startsWith(pre) => rel }
      .toSeq.sorted
    if (bucketed.nonEmpty) bucketed.map(rel => s"$storeDir/$rel")
    else Seq(path(storeDir, entity))
  }

  /** Read an entity's current snapshot regardless of layout (bucketed,
    * single-version, or legacy flat). Bucket dirs are leaf base paths,
    * so no partition column is inferred — readers see the data schema
    * only, identical to the non-bucketed layout.
    */
  def read(spark: SparkSession, storeDir: String, entity: String): DataFrame =
    spark.read.parquet(paths(storeDir, entity): _*)

  /** True when the entity resolves to existing data. */
  def exists(storeDir: String, entity: String): Boolean =
    paths(storeDir, entity).exists(p => new File(p).exists())

  /** [[read]] with `schema`, which the files must carry (no inference
    * job), or an empty frame of `schema` when the entity has no data yet
    * (a fresh store, an optional side table never staged).
    */
  def readOrEmpty(
      spark: SparkSession,
      storeDir: String,
      entity: String,
      schema: StructType): DataFrame =
    if (exists(storeDir, entity)) spark.read.schema(schema).parquet(paths(storeDir, entity): _*)
    // a LocalRelation, so the optimizer prunes the joins against it
    else spark.createDataFrame(java.util.List.of[Row](), schema)

  /** `f` over `xs`, one driver thread per element: the entities of one
    * publish write concurrently. Waits for every call to finish, then
    * rethrows the first failure.
    */
  private[graft] def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(xs.size, 1))
    try {
      val pending = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      pending.map(p => scala.util.Try(p.get())).map(_.fold(e => throw Option(e.getCause).getOrElse(e), identity))
    } finally pool.shutdown()
  }

  private val VersionDir = "^v(\\d+)$".r

  private val ManifestsDir = "manifests"

  private def manifestSnapshots(storeDir: String): Seq[(Int, File)] =
    Option(new File(new File(storeDir), ManifestsDir).listFiles())
      .getOrElse(Array.empty)
      .iterator
      .flatMap(f => f.getName match {
        case VersionDir(n) => Some(n.toInt -> f)
        case _             => None
      })
      .toSeq.sortBy(_._1)

  /** Versions whose manifest snapshots are still retained — each is a
    * valid [[readAt]] target (newest last; the last one is the live
    * state).
    */
  def retainedVersions(storeDir: String): Seq[Int] =
    manifestSnapshots(storeDir).map(_._1)

  /** The manifest as of retained version `v` (empty if expired/unknown). */
  def readManifestAt(storeDir: String, v: Int): Map[String, String] =
    parseManifest(new File(new File(storeDir), s"$ManifestsDir/v$v"))

  /** Time-travel read: the entity's snapshot as of retained version
    * `v`. Fails fast when `v` has expired from the retention window
    * rather than resolving to a mix of live and deleted paths.
    */
  def readAt(spark: SparkSession, storeDir: String, entity: String, v: Int): DataFrame = {
    val m = readManifestAt(storeDir, v)
    require(m.nonEmpty, s"version v$v is not retained in $storeDir " +
      s"(retained: ${retainedVersions(storeDir).mkString(", ")})")
    val pre = bucketKeyPrefix(entity)
    val rels = m.collect { case (k, rel) if k.startsWith(pre) => rel }.toSeq.sorted match {
      case Seq()    => m.get(entity).toSeq
      case bucketed => bucketed
    }
    require(rels.nonEmpty, s"entity $entity is not in retained version v$v")
    spark.read.parquet(rels.map(rel => s"$storeDir/$rel"): _*)
  }

  private def nextVersion(storeDir: String): Int = {
    val onDisk = Option(new File(storeDir).listFiles()).getOrElse(Array.empty)
      .iterator.map(_.getName).collect { case VersionDir(n) => n.toInt }
    val referenced = readManifest(storeDir).values
      .iterator.map(_.takeWhile(_ != '/')).collect { case VersionDir(n) => n.toInt }
    val snapshotted = manifestSnapshots(storeDir).iterator.map(_._1)
    ((onDisk ++ referenced ++ snapshotted).maxOption.getOrElse(0)) + 1
  }

  /** Stage-and-commit: write each frame under the next version dir,
    * then flip the manifest once. Entities not in `frames` keep their
    * current pointers. Returns the committed version number. `retain`
    * = how many trailing versions stay readable after this commit
    * (see the class doc; 1 = live state only).
    */
  def publish(storeDir: String, frames: Seq[(String, DataFrame)], retain: Int = 1): Int = {
    new File(storeDir).mkdirs()
    val v = nextVersion(storeDir)
    frames.foreach { case (entity, df) =>
      df.write.mode("overwrite").parquet(s"$storeDir/v$v/$entity")
    }
    // a full publish SUPERSEDES any earlier bucketed layout of the same
    // entity: drop its bucket pointers and bucket-count key, or readers
    // would keep resolving the stale bucket data over the new version
    val stale = frames.flatMap { case (e, _) =>
      readManifest(storeDir).keys.filter(k =>
        k.startsWith(bucketKeyPrefix(e)) || k == bucketCountKey(e))
    }
    val updated = readManifest(storeDir).removedAll(stale) ++
      frames.map { case (e, _) => e -> s"v$v/$e" }
    commitManifest(storeDir, v, updated)
    gc(storeDir, updated, retain)
    v
  }

  // ---- bucket-selective publish --------------------------------------

  /** Stable bucket assignment: hash of the natural-key columns, mod the
    * bucket count. Deterministic across runs and engines (xxhash64 of
    * the key VALUES, not of any physical layout), so a row's bucket
    * never moves unless `numBuckets` changes.
    */
  def bucketExpr(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int")

  /** One entity's input to [[publishBucketed]].
    *
    * @param snapshot    the FULL next snapshot (only changed buckets of
    *                    it are ever written)
    * @param changedKeys any frame carrying `keyCols` for exactly the
    *                    rows whose content changed this load — inserts,
    *                    updates, AND deletes (a delete shrinks its
    *                    bucket, so the bucket must rewrite)
    * @param numBuckets  the bucket count ([[bucketsFor]] sizes it from
    *                    a byte count the caller measures); changing it
    *                    forces a one-time full rewrite (re-bucketing)
    */
  case class BucketedEntity(
      snapshot: DataFrame,
      changedKeys: DataFrame,
      keyCols: Seq[String],
      numBuckets: Int)

  private def bucketKeyPrefix(entity: String) = s"$entity/bucket="
  private def bucketCountKey(entity: String) = s"$entity/.buckets"

  /** The bucket count an entity was last published with (None for
    * non-bucketed/legacy layouts). Callers that pre-partition an
    * incoming batch with [[bucketExpr]] over this count get a diff
    * whose shuffle is aligned and balanced with the stored layout.
    *
    * Read-side trade, stated: a PATH-based store cannot tell Spark the
    * data is hash-partitioned (no catalog bucketing metadata), so the
    * DiffSync full-outer join still exchanges both sides. The
    * zero-shuffle variant of the same merge needs `bucketBy` catalog
    * tables (proven in BucketedDiffSpec) and gives up this store's
    * atomic multi-entity version flip; this layout keeps the flip and
    * pays one balanced exchange per load — at 100 TB the write
    * amplification (fixed here) dominates that exchange by orders of
    * magnitude.
    */
  def bucketCount(storeDir: String, entity: String): Option[Int] =
    readManifest(storeDir).get(bucketCountKey(entity)).map(_.toInt)

  /** The bytes of measured input per bucket that [[bucketsFor]] aims at:
    * 1 GiB. It bounds what the caller measures, not the file a bucket
    * writes. ClinvarStore measures an entity's audit table, which holds
    * an `_old` copy of every content column and the delete rows besides
    * the next snapshot's rows, so a reload's bucket file comes out at up
    * to about half of this. Unmeasured at scale: every workload so far
    * publishes one bucket per entity.
    */
  val TargetBucketBytes: Long = 1L << 30

  /** The bucket count to publish `entity` with when its data measures
    * `bytes`: the count it was last published with, until `bytes`
    * outgrows that count's target 4×; else (a first bucketed publish, or
    * outgrown) `bytes` / [[TargetBucketBytes]] rounded up to a power of
    * two, at least 1. A changed count re-buckets the entity once (the
    * full rewrite of [[publishBucketed]]); the 4× slack keeps a growing
    * entity from re-bucketing on every doubling.
    */
  def bucketsFor(storeDir: String, entity: String, bytes: Long): Int =
    bucketCount(storeDir, entity).filter(n => bytes <= 4L * n * TargetBucketBytes).getOrElse {
      val files = (bytes + TargetBucketBytes - 1) / TargetBucketBytes
      if (files <= 1) 1 else (java.lang.Long.highestOneBit(files - 1) << 1).toInt
    }

  /** The bytes of the data files under `dir` (none when it is missing),
    * from a filesystem listing: no Spark job. Names starting with `_` or
    * `.` (commit markers, checksums) are not data.
    */
  def dataBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !"_.".contains(p.getFileName.toString.head))
        .map(Files.size).sum
      finally walk.close()
    }
  }

  /** Bucket-selective stage-and-commit — the write-amplification fix
    * for a CDC load at scale.
    *
    * [[publish]] rewrites every entity in full each load; at 100 TB a
    * daily run that changes 0.1% of rows would rewrite 100% of them.
    * The reference pays per-changed-row DML instead (Dao.java:218-248).
    * This is the snapshot-file analog: each entity hash-partitions into
    * `numBuckets` stable buckets of its natural key, a publish writes
    * ONLY the buckets containing inserts/updates/deletes under the new
    * version dir, and every unchanged bucket is carried into the new
    * manifest BY REFERENCE to the version that last wrote it. I/O per
    * load drops from |snapshot| to ~|changed fraction| · bucket size.
    *
    * Atomicity is unchanged: all changed-bucket writes stage under
    * `v<N>` without touching live data, then ONE manifest flip commits
    * every entity's pointer map together. A crash mid-stage leaves
    * readers on the previous consistent state; GC (strictly post-flip)
    * removes precisely the no-longer-referenced bucket dirs, so a
    * version dir survives exactly as long as one of its buckets is
    * still live.
    *
    * The changed-bucket set is collected to the driver — bounded by
    * `numBuckets` ints, never by data size. A bucket whose rows are all
    * deleted simply loses its manifest entry (readers skip it).
    */
  def publishBucketed(
      storeDir: String,
      frames: Seq[(String, BucketedEntity)],
      retain: Int = 1): Int = {
    new File(storeDir).mkdirs()
    val prior = readManifest(storeDir)
    val v = nextVersion(storeDir)
    // every entity stages concurrently under its own dir of v<N>; the
    // manifest is built and flipped once, after every write succeeded
    val staged = inParallel(frames) { case (entity, be) =>
      val pre = bucketKeyPrefix(entity)
      // first bucketed publish of this entity — or a numBuckets change —
      // rewrites all buckets (rows move between buckets otherwise)
      val fullRewrite = !prior.get(bucketCountKey(entity)).map(_.toInt).contains(be.numBuckets)
      val changed: Set[Int] =
        if (fullRewrite) (0 until be.numBuckets).toSet
        else be.changedKeys
          .select(bucketExpr(be.keyCols, be.numBuckets).as("bucket"))
          .distinct().collect().map(_.getInt(0)).toSet
      if (changed.nonEmpty) {
        be.snapshot
          .withColumn("bucket", bucketExpr(be.keyCols, be.numBuckets))
          .filter(col("bucket").isin(changed.toSeq: _*))
          // hash-repartition on the bucket id → each bucket dir gets ONE
          // file, whose size follows from the caller's numBuckets
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$storeDir/v$v/$entity")
      }
      val next = (0 until be.numBuckets).flatMap { k =>
        if (changed(k)) {
          val rel = s"v$v/$entity/bucket=$k"
          // a changed bucket with zero surviving rows stages no dir —
          // it drops out of the manifest and readers skip it
          if (new File(s"$storeDir/$rel").exists()) Some(s"$pre$k" -> rel) else None
        } else prior.get(s"$pre$k").map(rel => s"$pre$k" -> rel)
      }
      if (next.nonEmpty) next :+ (bucketCountKey(entity) -> be.numBuckets.toString)
      else {
        // entity emptied out entirely: stage a zero-row parquet (schema
        // preserved) so readers still resolve — without it, paths()
        // would fall back to the nonexistent legacy flat dir and fail
        val rel = s"v$v/$entity/bucket=0"
        be.snapshot.limit(0).write.mode("overwrite").parquet(s"$storeDir/$rel")
        Seq(s"${pre}0" -> rel, bucketCountKey(entity) -> be.numBuckets.toString)
      }
    }
    val entries = frames.map(_._1).zip(staged).foldLeft(prior) { case (m, (entity, next)) =>
      m.removedAll(prior.keys.filter(k =>
        k == entity || k.startsWith(bucketKeyPrefix(entity)) || k == bucketCountKey(entity))) ++ next
    }
    commitManifest(storeDir, v, entries)
    gc(storeDir, entries, retain)
    v
  }

  /** Atomic manifest replacement: one ATOMIC_MOVE rename over the live
    * name (the single commit point), THEN the snapshot copy under
    * `manifests/v<N>`. The ordering matters: a pre-flip snapshot
    * crashed between the two steps would be a phantom — a retained
    * pointer to a never-committed state whose half-staged files GC
    * would then keep alive. Post-flip, a crash in the window merely
    * loses that version's time-travel pointer; consistency and
    * retention of genuinely committed versions are unaffected (gc
    * always protects the LIVE manifest's paths from `entries`, not
    * from its snapshot file).
    */
  private def commitManifest(storeDir: String, v: Int, entries: Map[String, String]): Unit = {
    val body = entries.toSeq.sorted.map { case (e, p) => s"$e\t$p" }.mkString("", "\n", "\n")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val tmp = Paths.get(storeDir, s".$ManifestName.tmp")
    Files.write(tmp, bytes)
    Files.move(
      tmp, manifestFile(storeDir).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val snapDir = Paths.get(storeDir, ManifestsDir)
    Files.createDirectories(snapDir)
    Files.write(snapDir.resolve(s"v$v"), bytes)
  }

  /** Delete version-dir content referenced by neither the live manifest
    * nor any retained manifest snapshot — superseded versions,
    * superseded buckets inside still-live versions (a bucket-selective
    * publish leaves the replaced bucket's old copy stale while its
    * siblings stay carried), and orphaned half-written staging dirs
    * alike. Precise to the referenced PATH: a version dir survives
    * exactly as long as something under it is live or within the
    * retention window. Expired manifest snapshots are dropped first, so
    * an expired version stops being a [[readAt]] target in the same
    * pass that deletes its files. Runs strictly after the manifest
    * flip, so a failure here never affects consistency.
    */
  private def gc(storeDir: String, manifest: Map[String, String], retain: Int): Unit = {
    val snapshots = manifestSnapshots(storeDir)
    val expired = snapshots.dropRight(math.max(retain, 1))
    expired.foreach { case (_, f) => f.delete() }
    val retained = snapshots.drop(expired.size)
    val live = manifest.values.toSet ++
      retained.iterator.flatMap { case (_, f) => parseManifest(f).values }
    Option(new File(storeDir).listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case VersionDir(_) => pruneUnreferenced(f, f.getName, live)
        case _ =>
      }
    }
  }

  /** Depth-first prune: keep any path that IS a live reference (with
    * everything under it); delete files and now-empty dirs that carry
    * no live reference. Returns true iff something under `f` survives.
    */
  private def pruneUnreferenced(f: File, rel: String, live: Set[String]): Boolean =
    if (live.contains(rel)) true
    else if (f.isDirectory) {
      val kept = Option(f.listFiles()).getOrElse(Array.empty)
        .map(c => pruneUnreferenced(c, s"$rel/${c.getName}", live))
      if (kept.exists(identity)) true else { f.delete(); false }
    } else { f.delete(); false }

}
