package graft.ops

import java.io.File

import graft.SparkSpec

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("snapstore").toString

  private def readIds(store: String, entity: String): Set[Long] =
    spark.read.parquet(SnapshotStore.path(store, entity))
      .select("id").as[Long].collect().toSet

  test("publish then read-back; superseded version is GC'd") {
    val store = tmpStore()
    val v1 = SnapshotStore.publish(store, Seq(
      "a" -> Seq(1L, 2L).toDF("id"), "b" -> Seq(10L).toDF("id")))
    assert(readIds(store, "a") === Set(1L, 2L) && readIds(store, "b") === Set(10L))
    val v2 = SnapshotStore.publish(store, Seq(
      "a" -> Seq(3L).toDF("id"), "b" -> Seq(10L, 11L).toDF("id")))
    assert(v2 === v1 + 1)
    assert(readIds(store, "a") === Set(3L) && readIds(store, "b") === Set(10L, 11L))
    // the v1 dir is unreferenced after the flip and must be gone
    assert(!new File(store, s"v$v1").exists())
  }

  test("subset publish keeps the other entities' pointers in the same flip") {
    val store = tmpStore()
    SnapshotStore.publish(store, Seq(
      "a" -> Seq(1L).toDF("id"), "b" -> Seq(10L).toDF("id")))
    SnapshotStore.publish(store, Seq("b" -> Seq(20L).toDF("id")))
    assert(readIds(store, "a") === Set(1L)) // untouched entity still resolves
    assert(readIds(store, "b") === Set(20L))
  }

  test("crash before the manifest flip leaves readers on the old consistent state") {
    val store = tmpStore()
    SnapshotStore.publish(store, Seq(
      "a" -> Seq(1L).toDF("id"), "b" -> Seq(10L).toDF("id")))
    // simulate a loader that staged half a version then died: data dirs
    // exist, manifest never flipped
    Seq(99L).toDF("id").write.parquet(s"$store/v7/a")
    assert(readIds(store, "a") === Set(1L) && readIds(store, "b") === Set(10L))
    // next successful publish claims a HIGHER version and GCs the orphan
    val v = SnapshotStore.publish(store, Seq("a" -> Seq(2L).toDF("id")))
    assert(v > 7)
    assert(!new File(store, "v7").exists())
    assert(readIds(store, "a") === Set(2L) && readIds(store, "b") === Set(10L))
  }

  // ---- bucket-selective publish ---------------------------------------

  private def bucketsOf(ids: Seq[Long], numBuckets: Int): Map[Long, Int] =
    ids.toDF("id")
      .select(org.apache.spark.sql.functions.col("id"),
        SnapshotStore.bucketExpr(Seq("id"), numBuckets).as("b"))
      .as[(Long, Int)].collect().toMap

  private def bucketOf(id: Long, numBuckets: Int): Int =
    bucketsOf(Seq(id), numBuckets)(id)

  /** bucket -> (manifest rel path, per-file MD5s) for entity `e`. */
  private def bucketState(store: String, e: String): Map[Int, (String, Map[String, String])] =
    SnapshotStore.readManifest(store).collect {
      case (k, rel) if k.startsWith(s"$e/bucket=") =>
        val b = k.substring(k.indexOf("bucket=") + 7).toInt
        val files = Option(new File(store, rel).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(java.nio.file.Files.readAllBytes(f.toPath))
            f.getName -> md.map("%02x".format(_)).mkString
          }.toMap
        b -> (rel, files)
    }

  private def readKv(store: String, e: String): Map[Long, String] =
    SnapshotStore.read(spark, store, e).as[(Long, String)].collect().toMap

  test("bucketed publish: only changed buckets rewrite; carried buckets stay byte-identical") {
    val store = tmpStore()
    val n = 4
    val all = (1L to 100L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), n)))
    assert(readKv(store, "e") === all.toMap)
    assert(SnapshotStore.bucketCount(store, "e") === Some(n))
    assert(SnapshotStore.bucketCount(store, "nope") === None)
    val before = bucketState(store, "e")
    assert(before.keySet === (0 until n).toSet) // first publish = full rewrite

    // change ONE key; only its bucket may rewrite
    val changedBucket = bucketOf(1L, n)
    val updated = all.toMap.updated(1L, "CHANGED")
    val v2 = SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      updated.toSeq.toDF("id", "v"), Seq(1L).toDF("id"), Seq("id"), n)))
    assert(readKv(store, "e") === updated)
    val after = bucketState(store, "e")
    assert(after(changedBucket)._1.startsWith(s"v$v2/"))
    (0 until n).filter(_ != changedBucket).foreach { b =>
      // unchanged buckets: same manifest pointer, same files, same bytes
      assert(after(b) === before(b), s"bucket $b was rewritten")
    }
    // the superseded copy of the changed bucket is GC'd from the old
    // version dir while its carried siblings survive in place
    assert(!new File(store, before(changedBucket)._1).exists())
    assert(new File(store, after((changedBucket + 1) % n)._1).exists())
  }

  test("bucketed publish: fully-deleted bucket drops its manifest entry; readers skip it") {
    val store = tmpStore()
    val n = 4
    val all = (1L to 50L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), n)))
    val buckets = bucketsOf(all.map(_._1), n)
    val doomed = buckets(7L)
    val goneIds = all.map(_._1).filter(buckets(_) == doomed)
    val remaining = all.filterNot { case (id, _) => goneIds.contains(id) }
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      remaining.toDF("id", "v"), goneIds.toDF("id"), Seq("id"), n)))
    assert(!bucketState(store, "e").contains(doomed))
    assert(readKv(store, "e") === remaining.toMap)
  }

  test("bucketed publish: numBuckets change forces a one-time full re-bucketing rewrite") {
    val store = tmpStore()
    val all = (1L to 40L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    val v2 = SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 8)))
    val after = bucketState(store, "e")
    assert(after.keySet.subsetOf((0 until 8).toSet) && after.nonEmpty)
    after.values.foreach { case (rel, _) => assert(rel.startsWith(s"v$v2/")) }
    assert(readKv(store, "e") === all.toMap)
  }

  test("sized buckets: an entity that grows past 4x its target re-buckets and keeps every row") {
    val store = tmpStore()
    val t = SnapshotStore.TargetBucketBytes
    def publish(rows: Seq[(Long, String)], bytes: Long) =
      SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
        rows.toDF("id", "v"), rows.map(_._1).toDF("id"), Seq("id"),
        SnapshotStore.bucketsFor(store, "e", bytes))), retain = 2)
    // a first publish sizes from the bytes: a power of two, at least 1
    assert(SnapshotStore.bucketsFor(store, "e", 0L) === 1)
    assert(SnapshotStore.bucketsFor(store, "e", t) === 1)
    assert(SnapshotStore.bucketsFor(store, "e", 3 * t) === 4)
    val small = (1L to 40L).map(i => i -> s"a$i")
    val v1 = publish(small, SnapshotStore.dataBytes(s"$store/nope"))
    assert(SnapshotStore.bucketCount(store, "e") === Some(1))
    // the listing counts the data files only
    val files = new File(store, s"v$v1/e").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(SnapshotStore.dataBytes(s"$store/v$v1/e") === files.map(_.length).sum)
    assert(files.nonEmpty && SnapshotStore.dataBytes(s"$store/v$v1/e") > 0)

    // up to 4x its target the entity keeps its count; past it, re-sizes
    assert(SnapshotStore.bucketsFor(store, "e", 4 * t) === 1)
    val grown = (1L to 400L).map(i => i -> s"b$i")
    val v2 = publish(grown, 4 * t + 1)
    assert(SnapshotStore.bucketCount(store, "e") === Some(8))
    val after = bucketState(store, "e")
    assert(after.size > 1 && after.keySet.subsetOf((0 until 8).toSet))
    after.values.foreach { case (rel, _) => assert(rel.startsWith(s"v$v2/")) }
    assert(readKv(store, "e") === grown.toMap)
    // the previous version, one bucket, still reads
    assert(SnapshotStore.readAt(spark, store, "e", v1).as[(Long, String)].collect().toMap ===
      small.toMap)
  }

  test("bucketed publish: zero changed rows leaves every pointer (and all bytes) in place") {
    val store = tmpStore()
    val all = (1L to 30L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    val before = bucketState(store, "e")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    assert(bucketState(store, "e") === before)
  }

  test("bucketed entity emptied out entirely still resolves (zero-row snapshot staged)") {
    val store = tmpStore()
    val all = (1L to 10L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v").limit(0), all.map(_._1).toDF("id"), Seq("id"), 4)))
    assert(SnapshotStore.exists(store, "e"))
    assert(readKv(store, "e") === Map.empty[Long, String])
  }

  test("full publish supersedes an earlier bucketed layout of the same entity (and back)") {
    val store = tmpStore()
    val all = (1L to 20L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    // legacy full publish must clear the bucket pointers, or readers
    // would keep resolving the stale bucket data
    SnapshotStore.publish(store, Seq("e" -> Seq((99L, "NEW")).toDF("id", "v")))
    assert(readKv(store, "e") === Map(99L -> "NEW"))
    assert(SnapshotStore.bucketCount(store, "e") === None)
    // bucketed again on top of the flat layout: full re-bucketing
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    assert(readKv(store, "e") === all.toMap)
  }

  test("crash before a bucketed flip leaves readers on the old state; next publish GCs the orphan") {
    val store = tmpStore()
    val all = (1L to 20L).map(i => i -> s"a$i")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    // loader died after staging bucket data, before the manifest flip
    Seq((99L, "GHOST")).toDF("id", "v").write.parquet(s"$store/v9/e/bucket=0")
    assert(readKv(store, "e") === all.toMap)
    val v = SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), 4)))
    assert(v > 9 && !new File(store, "v9").exists())
    assert(readKv(store, "e") === all.toMap)
  }

  // ---- version retention + time travel --------------------------------

  test("retain=2 keeps the previous version readable via readAt until it expires") {
    val store = tmpStore()
    val v1 = SnapshotStore.publish(store, Seq("a" -> Seq(1L).toDF("id")), retain = 2)
    val v2 = SnapshotStore.publish(store, Seq("a" -> Seq(2L).toDF("id")), retain = 2)
    assert(SnapshotStore.retainedVersions(store) === Seq(v1, v2))
    assert(readIds(store, "a") === Set(2L)) // live read unaffected
    assert(SnapshotStore.readAt(spark, store, "a", v1)
      .select("id").as[Long].collect().toSet === Set(1L))
    val v3 = SnapshotStore.publish(store, Seq("a" -> Seq(3L).toDF("id")), retain = 2)
    assert(SnapshotStore.retainedVersions(store) === Seq(v2, v3))
    // v1 expired: snapshot dropped AND its files GC'd in the same pass
    assert(!new File(store, s"v$v1").exists())
    assert(SnapshotStore.readAt(spark, store, "a", v2)
      .select("id").as[Long].collect().toSet === Set(2L))
    intercept[IllegalArgumentException] {
      SnapshotStore.readAt(spark, store, "a", v1)
    }
  }

  test("bucketed retention: a reader pinned to the old version sees the pre-update state") {
    val store = tmpStore()
    val n = 4
    val all = (1L to 40L).map(i => i -> s"a$i")
    val v1 = SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      all.toDF("id", "v"), Seq.empty[Long].toDF("id"), Seq("id"), n)), retain = 2)
    val updated = all.toMap.updated(1L, "CHANGED")
    SnapshotStore.publishBucketed(store, Seq("e" -> SnapshotStore.BucketedEntity(
      updated.toSeq.toDF("id", "v"), Seq(1L).toDF("id"), Seq("id"), n)), retain = 2)
    assert(readKv(store, "e") === updated)
    // the superseded copy of the changed bucket survives the window, so
    // the pinned manifest resolves to a complete consistent snapshot
    assert(SnapshotStore.readAt(spark, store, "e", v1)
      .as[(Long, String)].collect().toMap === all.toMap)
  }

  test("default retention keeps only the live version (minimal footprint unchanged)") {
    val store = tmpStore()
    val v1 = SnapshotStore.publish(store, Seq("a" -> Seq(1L).toDF("id")))
    val v2 = SnapshotStore.publish(store, Seq("a" -> Seq(2L).toDF("id")))
    assert(SnapshotStore.retainedVersions(store) === Seq(v2))
    assert(!new File(store, s"v$v1").exists())
  }

  test("legacy flat layout resolves when no manifest exists") {
    val store = tmpStore()
    Seq(5L).toDF("id").write.parquet(s"$store/a")
    assert(SnapshotStore.exists(store, "a") && !SnapshotStore.exists(store, "b"))
    assert(readIds(store, "a") === Set(5L))
    // first publish moves 'a' to the versioned layout; flat side tables
    // not covered by the manifest keep resolving
    Seq(7L).toDF("id").write.parquet(s"$store/side")
    SnapshotStore.publish(store, Seq("a" -> Seq(6L).toDF("id")))
    assert(readIds(store, "a") === Set(6L))
    assert(readIds(store, "side") === Set(7L))
  }
}
