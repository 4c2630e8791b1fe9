package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{AliasSync, DiffSync, FallbackJoin, RankedSetMerge, SetMerge}
import ClinvarStore.{Aliases, GeneAssociations, HgvsNames, MapPositions, Variants, XdbIds}

/** The `--load` dataflow (SURVEY §3.1; reference: Manager.run
  * Manager.java:100-137 → QC.run QC.java:29-94 → Loader.run
  * Loader.java:25-87), set-oriented:
  *
  *   ingest variants → 3-stage fallback identity match (J1) →
  *   per-field merges vs the matched store row (A1/A2/A3) →
  *   4-way DiffSync per entity (§2.6) → guarded stale deletes →
  *   the parent's last-modified touch, cascaded from the child diffs.
  *
  * The reference runs QC/Loader per record with JDBC point lookups;
  * here every step is one distributed join/agg over the whole batch.
  * Dims (the current store) shuffle once per natural key; the heavy
  * incoming side flows map-side into each merge.
  */
object LoadPipeline {

  /** The persistent store snapshot: the six load entities of
    * [[ClinvarStore]], one field each, in their declared schemas.
    */
  final case class Store(
      variants: DataFrame,
      xdbIds: DataFrame,
      hgvsNames: DataFrame,
      aliases: DataFrame,
      geneAssocs: DataFrame,
      mapPositions: DataFrame)

  /** A load's classified diffs: the five child entities, and the
    * variants diff before the last-modified touch cascaded from them.
    */
  final case class Result(variants: DataFrame, children: Seq[(ClinvarStore.Entity, DataFrame)]) {
    /** The variants diff with its `touched` flag, cascaded from
      * `childDiffs` (the lazy [[children]], or their written audits).
      * Loader.java:56-78: any child-table change for a processed variant
      * touches the parent's last-modified date, which protects
      * child-churn-only variants from the stale-GC cutoff; delete-action
      * (stale) variants are never touched.
      */
    def touched(childDiffs: Seq[DataFrame]): DataFrame = {
      val childTouch = childDiffs
        .map(_.filter(col("action").isin(DiffSync.Changed: _*)).select("rgd_id"))
        .reduce(_.unionByName(_))
        .distinct()
        .withColumn("_child_touch", lit(true))
      variants
        .join(childTouch, Seq("rgd_id"), "left")
        .withColumn(
          "touched",
          col("action") =!= "delete" &&
            (coalesce(col("_child_touch"), lit(false)) ||
              col("action").isin("insert", "update")))
        .drop("_child_touch")
    }

    def diff(e: ClinvarStore.Entity): DataFrame =
      if (e == Variants) touched(children.map(_._2))
      else children.collectFirst { case (`e`, d) => d }.get
  }

  /** Identity-match incoming records against the store: by RCV
    * accession, else symbol, else name; multi-match = no-match
    * (Dao.getVariantByRCVandName, Dao.java:80-127). New records get
    * fresh surrogate ids above the store's max (K1).
    */
  def matchIdentity(incoming: DataFrame, store: Store): DataFrame = {
    val dim = store.variants.select(col("rgd_id"), col("rcv_acc"), col("symbol"), col("name"))
    val stages = Seq(
      FallbackJoin.Stage(dim.filter(col("rcv_acc").isNotNull && col("rcv_acc") =!= ""),
        Seq("rcv_acc" -> "rcv_acc"), Seq("rgd_id" -> "matched_rgd_id")),
      FallbackJoin.Stage(dim, Seq("symbol" -> "symbol"), Seq("rgd_id" -> "matched_rgd_id")),
      FallbackJoin.Stage(dim, Seq("name" -> "name"), Seq("rgd_id" -> "matched_rgd_id")))
    val matched = FallbackJoin(incoming, stages)
    // surrogate ids for unmatched (insert path, Dao.insertVariant:142-155):
    // contiguous new ids above max(store id). Scale shape: a range-sort
    // distributes the insert rows over all partitions and zipWithIndex
    // assigns per-partition offset ranges — dense, deterministic (the
    // sort key (symbol, name, rcv_acc) totally orders incoming records)
    // and NO single-task window (a first full load is 100% inserts; a
    // global row_number would funnel them all through one task).
    val maxId = broadcast(store.variants.agg(
      coalesce(max(col("rgd_id")), lit(0L)).as("_max_id")))
    val hit = matched
      .filter(col("matched_stage") > 0)
      .withColumn("rgd_id", col("matched_rgd_id"))
      .drop("matched_rgd_id")
    val miss = matched.filter(col("matched_stage") === 0).drop("matched_rgd_id")
    val sorted = miss.orderBy(col("symbol"), col("name"), col("rcv_acc"))
    val idxSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(
          "_idx", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      idxSchema)
    val inserts = indexed
      .crossJoin(maxId)
      .withColumn("rgd_id", col("_max_id") + col("_idx") + lit(1L))
      .drop("_idx", "_max_id")
    hit.unionByName(inserts.select(hit.columns.map(col).toIndexedSeq: _*))
  }

  /** TreeSet-normalize a `|`-list and re-join with `joinSep` — the
    * collection classes' end-of-run form (split on `|`, TreeSet, join;
    * Utils.concatenate absorbs the always-leading empty element, hence
    * the non-empty filter).
    */
  private def collectionNormalize(c: Column, joinSep: String): Column =
    concat_ws(joinSep,
      array_sort(array_distinct(filter(split(c, "\\|"), x => x =!= ""))))

  def mergeFields(identified: DataFrame, store: Store): DataFrame = {
    val cur = store.variants.select(
      col("rgd_id"),
      col("clinical_significance").as("_cs_cur"),
      col("review_status").as("_rs_cur"),
      col("method_type").as("_mt_cur"),
      col("submitter").as("_sub_cur"),
      col("notes").as("_no_cur"),
      col("trait_name").as("_tn_cur"),
      col("date_last_evaluated").as("_dt_cur"),
      lit(1).as("_in_store"))
    // Field treatments mirror QC.run (QC.java:29-94) exactly — the
    // reference uses THREE different merge shapes, not one:
    //  - clinical_significance: rank-ordered union with the store row
    //    (mergeCS, QC.java:145-224);
    //  - review_status / method_type: union with the store row AFTER
    //    deleting case-insensitive substring occurrences of the
    //    incoming value (QC.merge, QC.java:112-142);
    //  - submitter / notes / trait_name: REPLACED by the TreeSet-
    //    normalized union of the INCOMING side only — the end-of-run
    //    collections (SubmitterCollection:48-77, NotesCollection:55-84,
    //    TraitNameCollection:53-76) use the store value purely for the
    //    changed/unchanged compare, so store-only values age out.
    //    Notes re-join with "; " and trim to 4000 UTF-8 bytes,
    //    submitters keep "|" and trim, trait names keep "|" untrimmed;
    //    blank incoming notes leave the store value in place
    //    (NotesCollection.add:37-39 skips blanks). Insert rows bypass
    //    the collections (QC.run only feeds them when the variant
    //    matched), so the incoming value lands raw.
    identified.join(cur, Seq("rgd_id"), "left")
      .withColumn("clinical_significance",
        RankedSetMerge.mergeCSUdf(col("clinical_significance"), col("_cs_cur")))
      .withColumn("review_status", SetMerge.qcMergeUdf(col("review_status"), col("_rs_cur")))
      .withColumn("method_type", SetMerge.qcMergeUdf(col("method_type"), col("_mt_cur")))
      .withColumn("submitter",
        when(col("_in_store").isNotNull && col("submitter").isNotNull,
          graft.functions.TrimUtf8Bytes(collectionNormalize(col("submitter"), "|"), 4000))
          .otherwise(coalesce(col("submitter"), col("_sub_cur"))))
      .withColumn("notes",
        when(col("_in_store").isNotNull,
          when(col("notes").isNull || trim(col("notes")) === "", col("_no_cur"))
            .otherwise(
              graft.functions.TrimUtf8Bytes(collectionNormalize(col("notes"), "; "), 4000)))
          .otherwise(col("notes")))
      .withColumn("trait_name",
        when(col("_in_store").isNotNull && col("trait_name").isNotNull,
          collectionNormalize(col("trait_name"), "|"))
          .otherwise(coalesce(col("trait_name"), col("_tn_cur"))))
      .withColumn("date_last_evaluated",
        greatest(coalesce(col("date_last_evaluated"), col("_dt_cur")),
          coalesce(col("_dt_cur"), col("date_last_evaluated"))))
      .drop("_cs_cur", "_rs_cur", "_mt_cur", "_sub_cur", "_no_cur", "_tn_cur",
        "_dt_cur", "_in_store")
  }

  /** Full load: identity match + merges + per-entity DiffSync + guarded
    * deletes. `incomingXdb/Hgvs/Alias` are keyed by the incoming
    * `symbol`; they are re-keyed to rgd ids through the identity match.
    */
  def run(
      incomingVariants: DataFrame, // symbol + the variants content columns
      incomingXdb: DataFrame,      // symbol, xdb_key, acc_id
      incomingHgvs: DataFrame,     // symbol, hgvs_type, name
      incomingAliases: DataFrame,  // symbol, value
      incomingGenes: DataFrame,    // symbol, gene_id
      incomingMapPos: DataFrame,   // symbol, assembly, chromosome, start_pos, stop_pos
      store: Store,
      maxXdbDeleteFraction: Double = 0.08): Result = {

    // persisted: ~7 consumers below (variant diff, key maps, RCV sets,
    // child rekeys) would otherwise each re-run the 3-stage
    // match and the insert-path range sort from scratch, and cut to a
    // leaf so each of their plans analyzes none of it; CacheScope-
    // registered so batch drivers release it between loads
    val identified = graft.ops.CacheScope.cut(matchIdentity(incomingVariants, store))
    val merged = mergeFields(identified, store)

    val variantsDiff = Variants.diff(merged, store.variants)

    val keyMap = identified.select(col("symbol").as("_sym"), col("rgd_id"))

    def rekey(child: DataFrame): DataFrame =
      child.join(keyMap, child("symbol") === col("_sym")).drop("_sym", "symbol")

    val xdbDiff = DiffSync.guardDeletes(
      XdbIds.diff(rekey(incomingXdb), store.xdbIds), maxXdbDeleteFraction)
    val hgvsDiff = HgvsNames.diff(rekey(incomingHgvs), store.hgvsNames)
    // alias diff (J7): case-insensitive value match, deletes scoped to
    // the record's RCV set (Aliases.qc, Aliases.java:51-90) — NOT plain
    // key equality. The valid RCV set = ClinVar xdb accessions (key 52)
    // incoming + in-store, plus the record's own primary RCV
    // (XdbIds.getClinVarIds, XdbIds.java:62-74); AliasSync dedups it.
    val rcvKeyMap = identified.select(
      col("symbol").as("_sym"), col("rgd_id"), col("rcv_acc"))
    val incomingAliasesKeyed = incomingAliases
      .join(rcvKeyMap, incomingAliases("symbol") === col("_sym"))
      .drop("_sym", "symbol")
    val rcvSets = rekey(incomingXdb).filter(col("xdb_key") === 52)
      .select(col("rgd_id"), col("acc_id").as("rcv"))
      .unionByName(store.xdbIds.filter(col("xdb_key") === 52)
        .select(col("rgd_id"), col("acc_id").as("rcv")))
      .unionByName(identified.select(col("rgd_id"), col("rcv_acc").as("rcv")))
    val aliasDiff = AliasSync(incomingAliasesKeyed, store.aliases, rcvSets)
    // association diff (GeneAssociations.sync:78-109): retain/remove set
    // algebra = the same full-outer classification on (rgd_id, gene_id)
    val geneDiff = GeneAssociations.diff(rekey(incomingGenes), store.geneAssocs)
    // map-position diff (MapPositions.qc/sync:104-152, rgdcore
    // MapDataSyncer semantics)
    val mapPosDiff = MapPositions.diff(rekey(incomingMapPos), store.mapPositions)

    Result(variantsDiff, Seq(
      XdbIds -> xdbDiff, HgvsNames -> hgvsDiff, Aliases -> aliasDiff,
      GeneAssociations -> geneDiff, MapPositions -> mapPosDiff))
  }
}
