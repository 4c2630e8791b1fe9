// Operator counts and outputs of the ClinVar annotate and alias dataflows,
// for comparing two checkouts. A spark-shell script:
//
//   DATA=perfbench/.work/data/seed7-n1000-<hash> STORE=<loaded store> OUT=<dir> \
//     [CMP=<the other checkout's OUT>] \
//     spark-shell --master 'local[4]' --driver-class-path target/scala-2.13/classes \
//       -i tools/plan_ops.scala
//
// STORE is a store that $DATA/v1.xml has been loaded into (a
// `perfbench/run.py --workload clinvar_bootstrap` run leaves one at
// perfbench/.work/store; copy it, a later run overwrites it). Prints
//   [ops] annotate  Aggregate=.. Join=..   (the optimized plan of
//                   AnnotatePipeline.run on the bootstrap store, i.e. with
//                   no stored annotations)
//   [aqe] annotate  shuffles=.. broadcasts=.. aggregates=..  (its final
//                   adaptive plan, after one execution)
//   [ops] aliases   Aggregate=.. Join=..   (the aliases diff of reloading
//                   $DATA/v1.xml into STORE)
// and writes both outputs under OUT. With CMP, also prints the rows each
// output has that the other checkout's lacks, both ways ([same] lines;
// 0 and 0 means the same rows).
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import graft.ingest.XmlIngest
import graft.ops.NameNormalize
import graft.pipelines.{AnnotatePipeline, ClinvarStore, LoadPipeline}

spark.conf.set("spark.sql.shuffle.partitions", "4")
spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.sparkContext.setLogLevel("WARN")

val data = sys.env("DATA")
val store = sys.env("STORE")
val out = sys.env("OUT")
val dims = s"$data/dims"

def ops(df: DataFrame): String = {
  val p = df.queryExecution.optimizedPlan
  s"Aggregate=${p.collect { case a: Aggregate => a }.size} Join=${p.collect { case j: Join => j }.size}"
}

object Aqe extends AdaptiveSparkPlanHelper {
  def counts(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan
    def n(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Any]) = collectWithSubqueries(p)(pf).size
    s"shuffles=${n { case e: ShuffleExchangeExec => e }} " +
      s"broadcasts=${n { case e: BroadcastExchangeExec => e }} aggregates=${n { case a: BaseAggregateExec => a }}"
  }
}

def compare(name: String, df: DataFrame): Unit = sys.env.get("CMP").foreach { cmp =>
  val other = spark.read.parquet(s"$cmp/$name")
  println(s"[same] $name ${df.exceptAll(other).count()} ${other.exceptAll(df).count()}")
}

// --- annotate, as AnnotateMain.run plans it on a store with no annotations
val variantGene = ClinvarStore.GeneAssociations.read(spark, store)
  .join(broadcast(spark.read.parquet(s"$dims/genes.parquet")), Seq("gene_id"))
  .select(col("rgd_id"), col("gene_id"), col("gene_rgd_id"))
val annotate = AnnotatePipeline.run(
  ClinvarStore.Variants.read(spark, store), ClinvarStore.XdbIds.read(spark, store), variantGene,
  XmlIngest.conceptToOmim(spark, s"$dims/gene_condition_source_id.tsv"),
  spark.read.parquet(s"$dims/rdo_synonyms.parquet"),
  NameNormalize.termIndex(spark.read.parquet(s"$dims/terms.parquet"), "term_acc", "name"),
  NameNormalize.termIndex(spark.read.parquet(s"$dims/hpo_terms.parquet"), "term_acc", "name"),
  spark.read.parquet(s"$dims/orthologs.parquet"),
  spark.createDataFrame(java.util.List.of[Row](), ClinvarStore.Annotations.schema))
println(s"[ops] annotate ${ops(annotate)}")
println(s"[aqe] annotate ${Aqe.counts(annotate)}")
annotate.write.mode("overwrite").parquet(s"$out/annotate")
compare("annotate", annotate)

// --- the aliases diff of a reload, as LoadMain.run plans it
val vars = XmlIngest.variants(XmlIngest.parseRecords(XmlIngest.readRecords(spark, s"$data/v1.xml"))).cache()
val load = LoadPipeline.run(
  vars.select(col("symbol"), col("rcvAcc").as("rcv_acc"), col("name"),
    col("objectType").as("object_type"), col("clinicalSignificance").as("clinical_significance"),
    col("reviewStatus").as("review_status"), col("methodType").as("method_type"),
    col("submitter"), col("traitName").as("trait_name"), col("notes"),
    col("refNuc").as("ref_nuc"), col("varNuc").as("var_nuc"),
    col("dateLastEvaluated").as("date_last_evaluated")),
  XmlIngest.xdbIds(vars).select(col("symbol"), col("xdbKey").as("xdb_key"), col("accId").as("acc_id")),
  XmlIngest.hgvsNames(vars).select(col("symbol"), col("hgvsType").as("hgvs_type"), col("name")),
  XmlIngest.aliases(vars).select(col("symbol"), col("value")),
  XmlIngest.geneAssociations(vars).select(col("symbol"), col("geneId").as("gene_id")),
  XmlIngest.mapPositions(vars).filter(col("assembly") =!= "")
    .select(col("symbol"), col("assembly"), col("chromosome"),
      col("startPos").as("start_pos"), col("stopPos").as("stop_pos")),
  LoadPipeline.Store(
    ClinvarStore.Variants.read(spark, store), ClinvarStore.XdbIds.read(spark, store),
    ClinvarStore.HgvsNames.read(spark, store), ClinvarStore.Aliases.read(spark, store),
    ClinvarStore.GeneAssociations.read(spark, store), ClinvarStore.MapPositions.read(spark, store)))
val aliases = load.children.collectFirst { case (ClinvarStore.Aliases, d) => d }.get
println(s"[ops] aliases ${ops(aliases)}")
aliases.write.mode("overwrite").parquet(s"$out/aliases")
println(s"[rows] aliases ${spark.read.parquet(s"$out/aliases").groupBy("action").count().collect().mkString(" ")}")
compare("aliases", aliases)

System.exit(0)
