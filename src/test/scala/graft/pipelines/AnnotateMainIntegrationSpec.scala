package graft.pipelines

import graft.SparkSpec

/** End-to-end §3.2 surface: LoadMain store → AnnotateMain (dims on
  * disk, real concept-chain + ortholog fan-out) → bucketed subset
  * publish → convergence. The unit specs cover AnnotatePipeline; this
  * covers the MAIN — dims file formats, store round-trip through the
  * bucketed layout, and the second-run all-match contract.
  */
class AnnotateMainIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("load -> annotate -> converge: inserts then all-match through the bucketed store") {
    val store = java.nio.file.Files.createTempDirectory("annstore").toFile.getAbsolutePath
    val dims = java.nio.file.Files.createTempDirectory("anndims").toFile.getAbsolutePath
    val xml = graft.SparkEntry.fixturePath("data/fixtures/vcv_sample.xml")
    LoadMain.run(spark, xml, store)

    // dims: gene 672 (BRCA1, the carpe-compliant deletion's gene) →
    // gene_rgd 5001 with ortholog 7001; the fixture TSV already maps
    // concept C200 + gene 672 → OMIM 113705, resolved here to RDO:0000001
    Seq(("672", 5001L), ("9907", 5002L)).toDF("gene_id", "gene_rgd_id")
      .write.parquet(s"$dims/genes.parquet")
    Seq(("RDO:0000001", "OMIM:113705"), ("RDO:0000002", "OMIM:613647"))
      .toDF("term_acc", "synonym").write.parquet(s"$dims/rdo_synonyms.parquet")
    Seq(("RDO:0000001", "Breast-ovarian cancer, familial 1"),
      ("RDO:0000002", "Hereditary spastic paraplegia 48"))
      .toDF("term_acc", "name").write.parquet(s"$dims/terms.parquet")
    Seq((5001L, 7001L)).toDF("gene_rgd_id", "homolog_rgd_id")
      .write.parquet(s"$dims/orthologs.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(
        graft.SparkEntry.fixturePath("data/fixtures/gene_condition_source_id.tsv")),
      java.nio.file.Paths.get(s"$dims/gene_condition_source_id.tsv"))

    // run 1: the BRCA1 deletion annotates via the concept chain (direct
    // IAGP) and fans out to its ortholog (ISO) — both aspect D inserts
    val r1 = AnnotateMain.run(spark, store, dims)
    assert(r1.getOrElse(("D", "insert"), 0L) >= 2L, s"r1=$r1")
    // sized from the audit's bytes: one bucket (1 GiB of audit) holds the fixture
    assert(graft.ops.SnapshotStore.bucketCount(store, "annotations") === Some(1))
    val annots = graft.ops.SnapshotStore.read(spark, store, "annotations")
    // the published snapshot has exactly its declared schema (names,
    // types, column order)
    assert(annots.schema === ClinvarStore.Annotations.schema)
    assert(annots.count() >= 2)
    assert(annots.filter(annots("evidence") === "ISO").count() >= 1)

    // run 2 over the unchanged store: every annotation must classify as
    // match (the reference's touch), and the bucket-selective publish
    // must rewrite NOTHING — every manifest pointer carried
    val manifestBefore = graft.ops.SnapshotStore.readManifest(store)
    val r2 = AnnotateMain.run(spark, store, dims)
    assert(r2.keys.forall(_._2 == "match"), s"r2=$r2")
    assert(graft.ops.SnapshotStore.readManifest(store) === manifestBefore,
      "an all-match annotate pass rewrote buckets")
    assert(graft.ops.SnapshotStore.read(spark, store, "annotations").schema
      === ClinvarStore.Annotations.schema)
  }
}
