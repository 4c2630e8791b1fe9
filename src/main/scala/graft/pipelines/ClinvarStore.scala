package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.types.StructType

import graft.ops.{AliasSync, CacheScope, DiffSync, SnapshotStore}

/** The ClinVar store layout — the Oracle tables of §1.1 that the
  * reference's Dao.java reads and writes — and the one step that
  * publishes a pass's diffs into it. LoadMain writes the first six
  * entities, AnnotateMain `annotations`; every CLI reads them here.
  */
object ClinvarStore {

  /** One store entity: its snapshot schema (as DDL, in column order)
    * and natural key; every other column is content. The key columns
    * come first, as the publish writes a snapshot: key, then content.
    */
  final case class Entity(name: String, ddl: String, keyCols: Seq[String]) {
    val schema: StructType = StructType.fromDDL(ddl)
    val contentCols: Seq[String] = schema.fieldNames.toSeq.diff(keyCols)

    /** The current snapshot, read with [[schema]]; empty on a fresh store. */
    def read(spark: SparkSession, storeDir: String): DataFrame =
      SnapshotStore.readOrEmpty(spark, storeDir, name, schema)

    /** The 4-way CDC classification of `incoming` against `current`. */
    def diff(incoming: DataFrame, current: DataFrame): DataFrame =
      DiffSync(incoming, current, keyCols, contentCols)
  }

  // symbol/rcv_acc ride as content so the diff carries the full
  // snapshot row (the write side rebuilds the store from it)
  val Variants = Entity("variants",
    "rgd_id BIGINT, symbol STRING, rcv_acc STRING, name STRING, object_type STRING, " +
      "clinical_significance STRING, review_status STRING, method_type STRING, " +
      "submitter STRING, trait_name STRING, notes STRING, ref_nuc STRING, var_nuc STRING, " +
      "date_last_evaluated STRING",
    Seq("rgd_id"))
  val XdbIds = Entity("xdb_ids",
    "rgd_id BIGINT, xdb_key INT, acc_id STRING", Seq("rgd_id", "xdb_key", "acc_id"))
  val HgvsNames = Entity("hgvs_names",
    "rgd_id BIGINT, hgvs_type STRING, name STRING", Seq("rgd_id", "hgvs_type", "name"))
  // notes rides as content: the alias's RCV id (J7 scoping key)
  val Aliases = Entity("aliases",
    "rgd_id BIGINT, value STRING, notes STRING", Seq("rgd_id", "value"))
  // variant_to_gene (J3)
  val GeneAssociations = Entity("gene_associations",
    "rgd_id BIGINT, gene_id STRING", Seq("rgd_id", "gene_id"))
  // natural key = assembly+chr+coords (MapPositions.qc/sync:104-152, J5)
  val MapPositions = Entity("map_positions",
    "rgd_id BIGINT, assembly STRING, chromosome STRING, start_pos BIGINT, stop_pos BIGINT",
    Seq("rgd_id", "assembly", "chromosome", "start_pos", "stop_pos"))
  // the 5 columns the reference's exact-match probe looks up before
  // deciding touch vs insert (VariantAnnotator.java:180-187
  // getAnnotationKey; Dao.java:635-637); with_info is content
  val Annotations = Entity("annotations",
    "annotated_rgd_id BIGINT, term_acc STRING, aspect STRING, evidence STRING, " +
      "xref_source STRING, with_info STRING",
    Seq("annotated_rgd_id", "term_acc", "aspect", "evidence", "xref_source"))

  /** Every action a ClinVar diff classifies a row into: DiffSync's five
    * and AliasSync's `keep`. A pass counts exactly these.
    */
  val Actions: Seq[String] = Seq(
    DiffSync.Insert, DiffSync.Update, DiffSync.Delete, DiffSync.Match, DiffSync.KeepStale,
    AliasSync.Keep)

  /** An entity's counter groups: the column naming each diff row's
    * group, and every value it takes.
    */
  final case class Groups(by: Column, values: Seq[String])

  /** LoadMain's grouping: one group per entity, named after it. */
  val ByEntity: Entity => Groups = e => Groups(lit(e.name), Seq(e.name))

  /** One diff as its [[audit]] wrote it: the audit table read back, and
    * the (group, action) -> count counters (K7) of its non-zero pairs.
    */
  final case class Audit(entity: Entity, table: DataFrame, counters: Map[(String, String), Long])

  private def auditPath(storeDir: String, e: Entity) = s"$storeDir/audit/${e.name}"

  /** Write each diff as its audit table (K8), the entities concurrently,
    * and return each one read back from what was written. Every later
    * step of the pass plans against that leaf scan, so each diff is
    * computed exactly once, by its own audit write; the read-back takes
    * the diff's schema, so no inference job runs.
    *
    * The counters ride on the same write: one [[Observation]] counts
    * every fixed (group, action) pair of `groups` × [[Actions]], and all
    * rows. A row outside those pairs (a new action or group) fails the
    * audit rather than dropping from the counters; a failed audit throws
    * before [[publish]] can flip the manifest.
    */
  def audit(storeDir: String, diffs: Seq[(Entity, DataFrame)], groups: Entity => Groups): Seq[Audit] =
    SnapshotStore.inParallel(diffs) { case (e, d) =>
      val g = groups(e)
      val pairs = for (v <- g.values; a <- Actions) yield (v, a)
      val obs = Observation()
      val path = auditPath(storeDir, e)
      d.observe(obs, count(lit(1)).as("rows"), pairs.map { case (v, a) =>
          count(when(g.by === v && col(DiffSync.ActionCol) === a, 1)).as(s"$v.$a")
        }: _*)
        .write.mode("overwrite").parquet(path)
      val m = obs.get
      val counts = pairs.map { case (v, a) => (v, a) -> m(s"$v.$a").asInstanceOf[Long] }
      val rows = m("rows").asInstanceOf[Long]
      val lost = rows - counts.map(_._2).sum
      if (lost != 0)
        throw new IllegalStateException(s"audit of ${e.name}: $lost of $rows rows fall " +
          s"outside the counted groups ${g.values.mkString(",")} and actions ${Actions.mkString(",")}")
      Audit(e, d.sparkSession.read.schema(d.schema).parquet(path), counts.filter(_._2 > 0).toMap)
    }

  /** Publish a pass from its [[audit]] tables: write every entity's next
    * snapshot through ONE bucket-selective manifest flip
    * ([[SnapshotStore.publishBucketed]], the analog of the reference's
    * Oracle transaction and per-changed-row DML, Dao.java:218-248), and
    * release the pass's caches. Each entity's bucket count is sized from
    * its audit files' bytes, one bucket per 1 GiB of audit
    * ([[SnapshotStore.bucketsFor]]); a bucket's snapshot file is smaller
    * than its share of the audit. Entities not
    * in `audits` keep their pointers. Returns the audits' counters,
    * (group, action) -> count.
    */
  def publish(storeDir: String, audits: Seq[Audit]): Map[(String, String), Long] = {
    SnapshotStore.publishBucketed(
      storeDir,
      audits.map { case Audit(e, d, _) =>
        e.name -> SnapshotStore.BucketedEntity(
          snapshot = DiffSync.nextSnapshot(d, e.keyCols, e.contentCols),
          changedKeys = d.filter(col(DiffSync.ActionCol).isin(DiffSync.Changed: _*)),
          keyCols = e.keyCols,
          numBuckets = SnapshotStore.bucketsFor(
            storeDir, e.name, SnapshotStore.dataBytes(auditPath(storeDir, e))))
      })
    // repeated passes in one session (the convergence loop, a daily
    // batch job) must not accumulate the pipeline-internal caches
    CacheScope.releaseAll()
    audits.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _)
  }
}
