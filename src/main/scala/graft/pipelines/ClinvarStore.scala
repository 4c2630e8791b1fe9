package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.{CacheScope, DiffSync, SnapshotStore}

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

  /** Natural-key hash buckets per entity. 16 keeps fixture stores at a
    * sane file count; at 100 TB, size it so one bucket ≈ one ~1 GB
    * file (e.g. 4096 for a 4 TB entity) — the publish writes one file
    * per CHANGED bucket either way.
    */
  val Buckets = 16

  /** Write each diff as its audit table (K8), the entities concurrently,
    * and return each one read back from what was written. Every later
    * step of the pass plans against that leaf scan, so each diff is
    * computed exactly once, by its own audit write; the read-back takes
    * the diff's schema, so no inference job runs.
    */
  def audit(storeDir: String, diffs: Seq[(Entity, DataFrame)]): Seq[(Entity, DataFrame)] =
    SnapshotStore.inParallel(diffs) { case (e, d) =>
      val path = s"$storeDir/audit/${e.name}"
      d.write.mode("overwrite").parquet(path)
      e -> d.sparkSession.read.schema(d.schema).parquet(path)
    }

  /** The (group, action) -> count counters (K7) of `diffs`, in one job;
    * `group` names each entity's counter group (a literal, or a column
    * such as annotate's `aspect`).
    */
  def counters(diffs: Seq[(Entity, DataFrame)], group: Entity => Column): Map[(String, String), Long] =
    diffs.map { case (e, d) => d.select(group(e).as("group"), col(DiffSync.ActionCol)) }
      .reduce(_.unionByName(_))
      .groupBy("group", DiffSync.ActionCol).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Publish a pass from its [[audit]] tables: collect their counters,
    * write every entity's next snapshot through ONE bucket-selective
    * manifest flip ([[SnapshotStore.publishBucketed]], the analog of the
    * reference's Oracle transaction and per-changed-row DML,
    * Dao.java:218-248), and release the pass's caches. Entities not in
    * `audits` keep their pointers. Returns (group, action) -> count.
    */
  def publish(
      storeDir: String,
      audits: Seq[(Entity, DataFrame)],
      group: Entity => Column): Map[(String, String), Long] = {
    val counts = counters(audits, group)
    SnapshotStore.publishBucketed(
      storeDir,
      audits.map { case (e, d) =>
        e.name -> SnapshotStore.BucketedEntity(
          snapshot = DiffSync.nextSnapshot(d, e.keyCols, e.contentCols),
          changedKeys = d.filter(col(DiffSync.ActionCol).isin(DiffSync.Changed: _*)),
          keyCols = e.keyCols,
          numBuckets = Buckets)
      })
    // repeated passes in one session (the convergence loop, a daily
    // batch job) must not accumulate the pipeline-internal caches
    CacheScope.releaseAll()
    counts
  }
}
