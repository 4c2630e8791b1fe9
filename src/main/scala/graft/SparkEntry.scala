package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TrimUtf8Bytes
import graft.ops._
import graft.scale._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the scale/LLM-pipeline operators), each phrased over
  * the driver's TPC-H-ish parquet tables so the DuckDB oracle can verify
  * it. Column names are aliased identically in the Spark code and the
  * oracle SQL (the driver's compare sorts columns by name before
  * hashing).
  */
object SparkEntry {

  /** Read a testdata table, normalizing the `ts` column to the long-nanos
    * contract every query is written against. The driver has generated
    * `events.parquet` with two vintages of `ts`: INT64 nanos (surfaces as
    * LongType under `spark.sql.legacy.parquet.nanosAsLong`) and
    * `timestamp[us]` (surfaces as TIMESTAMP / TIMESTAMP_NTZ, on which long
    * arithmetic fails analysis). Deriving nanos at the read boundary keeps
    * q10/q49 and the streaming twins working against BOTH vintages; the
    * cast-to-TIMESTAMP leg interprets NTZ in the session time zone (UTC,
    * set by every entry point), matching DuckDB's epoch_ns on the same
    * file.
    */
  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  /** Resolve a committed repo fixture (under `data/fixtures`) from ANY
    * working directory: try the cwd first (the driver runs from the
    * repo root), else walk up from the compiled-classes location
    * (`target/scala-2.13/classes` → repo root) — so driver runs, sbt
    * tests, and external invocations all see the same file.
    */
  private[graft] def fixturePath(rel: String): String = {
    val cwd = new java.io.File(rel)
    if (cwd.exists()) cwd.getAbsolutePath
    else {
      var d = new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      while (d != null && !new java.io.File(d, rel).exists()) d = d.getParentFile
      require(d != null, s"fixture not found from any root: $rel")
      new java.io.File(d, rel).getAbsolutePath
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * DiffSync (SURVEY §2.6) — the reference engine's core — classifying a
    * simulated incoming orders snapshot against the current one.
    */
  def entry(spark: SparkSession): DataFrame =
    diffSyncClassified(spark, "/root/testdata/sf0.001")

  // === shared query bodies ===================================================

  /** Simulated CDC pair over `orders`: incoming = keys not divisible by 5
    * (with content perturbed on multiples of 7), current = keys not
    * divisible by 3.
    */
  private def snapshots(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val orders = t(spark, dir, "orders")
    val incoming = orders
      .filter(col("o_orderkey") % 5 =!= 0)
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice"))
          .as("val"))
    val current = orders
      .filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("val"))
    (incoming, current)
  }

  private def diffSyncClassified(spark: SparkSession, dir: String): DataFrame = {
    val (incoming, current) = snapshots(spark, dir)
    DiffSync(incoming, current, Seq("o_orderkey"), Seq("val"))
  }

  private val orderPriorityRanks: Map[String, Int] = Map(
    "1-URGENT" -> 0, "2-HIGH" -> 10, "3-MEDIUM" -> 20,
    "5-LOW" -> 30, "4-NOT SPECIFIED" -> 40)

  private val AnnLshPlanes = 6

  // q38 banding: r = 3 bits/band holds recall 1 for the fixture's loose
  // 0.42 threshold (pairs at cos 0.42-0.51 survive 10 OR-ed bands);
  // tighter thresholds would use wider bands for stronger pruning
  private val EmbedNearDupPlanes = 30
  private val EmbedNearDupBands = 10

  // q54 packing shards per language (scales with the cluster at 100 TB)
  private val SeqPackShards = 8

  // === the query surface =====================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- A1/A5-A7: pipe-set merge (TreeSet dedup + sort + join) -------------
    "q01_set_merge_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          SetMerge.mergeSet(col("l_returnflag")).as("flags"),
          count(lit(1)).as("n"))
    }),

    // --- §2.6 DiffSync: 4-way CDC classification ----------------------------
    "q02_diff_sync" -> ((s, dir) => {
      DiffSync.counts(diffSyncClassified(s, dir))
        .withColumnRenamed("count", "n")
    }),

    // --- J1/J2/J9: priority-staged fallback join ----------------------------
    "q03_fallback_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), (col("o_custkey") % 25).as("alt_key"))
      val stage1 = FallbackJoin.Stage(
        dim = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0),
        keys = Seq("o_custkey" -> "c_custkey"),
        payload = Seq("c_mktsegment" -> "match_val"))
      val stage2 = FallbackJoin.Stage(
        dim = t(s, dir, "nation"),
        keys = Seq("alt_key" -> "n_nationkey"),
        payload = Seq("n_name" -> "match_val"))
      FallbackJoin(orders, Seq(stage1, stage2))
        .select("o_orderkey", "match_val", "matched_stage")
    }),

    // --- A2: ranked set-merge (clinical-significance pattern) ---------------
    "q04_ranked_merge" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(RankedSetMerge
          .rankedMergeAgg(col("o_orderpriority"), orderPriorityRanks)
          .as("priorities"))
    }),

    // --- X16/J9: normalized-name entity resolution --------------------------
    "q05_normalize_name" -> ((s, dir) => {
      t(s, dir, "part")
        .select(NameNormalize.normalizeName(col("p_name")).as("norm_name"))
        .groupBy("norm_name")
        .agg(count(lit(1)).as("n"))
    }),

    // --- O2: duplicate ranking window (pick 1 winner per normalized name) ---
    "q06_dup_rank" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .withColumn("norm_name", NameNormalize.normalizeName(col("p_name")))
      val w = Window.partitionBy("norm_name")
      val rn = row_number().over(
        w.orderBy(col("p_retailprice").desc, col("p_size").desc, col("p_partkey").asc))
      parts
        .withColumn("n_dups", count(lit(1)).over(w))
        .withColumn("rn", rn)
        .filter(col("rn") === 1)
        .select(col("norm_name"), col("p_partkey").as("winner_partkey"), col("n_dups"))
    }),

    // --- §2.6: threshold-guarded delete (8% ceiling pattern) -----------------
    "q07_guarded_delete" -> ((s, dir) => {
      val diff = diffSyncClassified(s, dir)
      DiffSync.counts(DiffSync.guardDeletes(diff, 0.08))
        .withColumnRenamed("count", "n")
    }),

    // --- X1: UTF-8-byte-aware truncation (custom Catalyst expression) -------
    "q08_trim_utf8" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          TrimUtf8Bytes(
            concat_ws(" ", col("p_name"), col("p_type"), col("p_brand"),
              col("p_name"), col("p_type")),
            80).as("trimmed"))
    }),

    // --- K5/A11/O1: VCF-style group-merge + lexicographic-chr sort ----------
    "q09_vcf_group_sort" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          (col("user_id") % 23).cast("string").as("chr"),
          (col("event_id") % 1000).as("pos"),
          col("event_type"))
        .groupBy("chr", "pos")
        .agg(
          concat_ws(",", array_sort(collect_set(col("event_type")))).as("alleles"),
          count(lit(1)).as("n"))
        .orderBy(col("chr"), col("pos"))
    }),

    // --- A3: newest-wins resolution (last-evaluated-date pattern) -----------
    // (`ts` is normalized to LongType nanos at the t() read boundary)
    "q10_newest_wins" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      t(s, dir, "events")
        .withColumn("n_events", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(w.orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(
          col("user_id"),
          expr("ts div 1000000").as("last_ms"),
          col("value").as("last_value"),
          col("n_events"))
    }),

    // --- F4/K7: classification counters -------------------------------------
    "q11_counter_buckets" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          col("event_type"),
          when(col("value") < 5.0, "low")
            .when(col("value") < 50.0, "mid")
            .otherwise("high")
            .as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- F8/X2/X5-X7: xref routing + digit-strip + link-text ----------------
    "q12_xref_routing" -> ((s, dir) => {
      val routed = t(s, dir, "events")
        .withColumn("acc", regexp_replace(col("props"), "\\D", ""))
        .withColumn(
          "xdb_key",
          when(col("event_type") === "click", 48)
            .when(col("event_type") === "view", 54)
            .when(col("event_type") === "purchase", 6)
            .when(col("event_type") === "signup", 21)
            .otherwise(lit(null).cast("int")))
        .filter(col("xdb_key").isNotNull)
      routed.select(
        col("event_id"),
        col("xdb_key"),
        col("acc"),
        when(col("xdb_key") === 48, concat(lit("rs"), col("acc")))
          .otherwise(col("acc"))
          .as("link_text"))
    }),

    // --- A12: PubMed-id aggregation pattern ----------------------------------
    "q13_pubmed_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          SetMerge.mergeSet(
            concat(lit("PMID:"), regexp_replace(col("props"), "\\D", "")))
            .as("pmids"))
    }),

    // --- A13: unmatchable-condition histogram --------------------------------
    "q14_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(upper(substring(col("text"), 1, 3)).as("cond"))
        .agg(count(lit(1)).as("hit_count"))
    }),

    // --- A14: scalar stats ----------------------------------------------------
    "q15_scalar_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          sum(length(col("text"))).as("sum_len"),
          count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // --- scale: exact dedup (hash-groupBy) ------------------------------------
    "q16_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    }),

    // --- scale: token counting -------------------------------------------------
    "q17_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_len"))
    }),

    // --- scale: quality scoring ------------------------------------------------
    "q18_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextStats.punctCount(col("text")).as("n_punct"),
          TextStats.stopwordCount(col("text")).as("n_stop"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.qualityBucket(col("text")).as("quality"))
    }),

    // --- scale: language id ------------------------------------------------------
    "q19_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextStats.langId(col("text")).as("pred_lang"))
    }),

    // --- scale: minhash signature (word-level, md5 — oracle-checkable) ----------
    "q20_minhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id")
        .agg(
          min(md5(concat(lit("0:"), col("w")).cast("binary"))).as("h0"),
          min(md5(concat(lit("1:"), col("w")).cast("binary"))).as("h1"),
          min(md5(concat(lit("2:"), col("w")).cast("binary"))).as("h2"),
          min(md5(concat(lit("3:"), col("w")).cast("binary"))).as("h3"))
    }),

    // --- scale: brute-force cosine ANN top-k -------------------------------------
    "q21_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 50 === 0)
      Similarity
        .bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
    }),

    // --- scale: document fingerprint ----------------------------------------------
    "q22_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
    }),

    // --- scale: shingled MinHash-LSH near-dup pairs + exact-Jaccard verify --------
    // (documents.parquet is a single small file = 1 scan partition; the
    // shingle/minhash map work is the hot path, so spread it across the
    // cluster first — at real scale the input arrives in many partitions
    // and this repartition is unnecessary)
    "q23_lsh_pairs" -> ((s, dir) => {
      Dedup.minhashPairsExact(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.2)
    }),

    // --- scale: simhash near-dup fingerprint (md5-bit, hex output) ----------------
    "q24_simhash" -> ((s, dir) => {
      TextStats.simhashMd5(t(s, dir, "documents"), "doc_id", "text")
    }),

    // --- scale: hyperplane-LSH-bucketed ANN ---------------------------------------
    "q25_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 50 === 0)
      Similarity
        .lshTopK(emb, probes, "vec_id", "embedding", 5, numPlanes = AnnLshPlanes, dims = 64)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
    }),

    // --- A8-A10: group-merge-split (annotation post-processing chain) -------------
    "q26_merge_split" -> ((s, dir) => {
      // merge per-customer order comment-ish payloads, then split any
      // oversize merged list into <=120-char chunks at a '|' boundary
      val li = t(s, dir, "lineitem")
        .select(
          col("l_suppkey"),
          concat(col("l_returnflag"), lit("_"), col("l_linestatus"),
            lit("_"), col("l_orderkey") % 100).as("xref"))
      MergeSplit
        .mergeThenSplit(
          li,
          keyCols = Seq("l_suppkey"),
          out = "xrefs", src = col("xref"), splitRegex = "[|]",
          maxLen = 120)
        .select(col("l_suppkey"), col("xrefs"))
    }),

    // --- F7: alias admission filter + case-insensitive dedup ------------------
    // (Aliases.addIncomingAlias, Aliases.java:28-49: reject null/empty/
    // 'not provided'/'not specified' (case-insens), reject alias ==
    // traitName, dedup case-insensitively keeping the first)
    "q27_alias_filter" -> ((s, dir) => {
      val raw = concat(lit("Alias_"), col("event_id") % 50)
      val aliased = t(s, dir, "events").select(
        col("user_id"),
        col("event_id"),
        concat(lit("alias_"), col("user_id") % 50).as("trait_name"),
        when(col("event_id") % 10 === 0, lit(null).cast("string"))
          .when(col("event_id") % 10 === 1, "")
          .when(col("event_id") % 10 === 2, "not provided")
          .when(col("event_id") % 10 === 3, "Not Specified")
          .when(col("event_id") % 10 === 4, upper(raw))
          .otherwise(raw)
          .as("alias"))
      val admitted = aliased.filter(
        col("alias").isNotNull && col("alias") =!= "" &&
          !lower(col("alias")).isin("not provided", "not specified") &&
          lower(col("alias")) =!= lower(col("trait_name")))
      val w = Window.partitionBy(col("user_id"), lower(col("alias")))
        .orderBy(col("event_id"))
      admitted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "alias")
    }),

    // --- J4: xdb-id diff with surrogate-key transfer --------------------------
    // (XdbIds.isIncomingXdbIdInRgd, XdbIds.java:108-120: full outer on
    // the natural key; matched incoming rows inherit the DB KEY)
    "q28_xdb_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val incoming = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select((col("o_custkey") % 8).as("xdb_key"), col("o_orderkey").as("acc_id"))
        .withColumn("_inc", lit(true))
      val current = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(
          (col("o_custkey") % 8).as("xdb_key"), col("o_orderkey").as("acc_id"),
          (col("o_orderkey") * 10 + 1).as("db_key"))
      incoming.join(current, Seq("xdb_key", "acc_id"), "full_outer")
        .select(
          col("xdb_key"), col("acc_id"),
          col("db_key"), // null = new row, key assigned at write time
          when(col("_inc").isNotNull && col("db_key").isNotNull, "match")
            .when(col("_inc").isNotNull, "insert")
            .otherwise("delete")
            .as("action"))
    }),

    // --- J8: chained broadcast dim joins (concept -> OMIM -> RDO shape) -------
    "q29_concept_chain" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("n_name"), col("r_name"))
    }),

    // --- J10: ortholog-style 1-to-many fan-out join ---------------------------
    // (VariantAnnotator.java:321-335: human gene -> homologs across
    // searchable species; here supplier -> sibling nations in-region)
    "q30_fanout" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val sib = nation.select(
        col("n_regionkey").as("sib_region"), col("n_nationkey").as("sib_key"),
        col("n_name").as("homolog_nation"))
      t(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(sib),
          col("n_regionkey") === col("sib_region") && col("sib_key") =!= col("n_nationkey"))
        .select(col("s_suppkey"), col("homolog_nation"))
    }),

    // --- X12/J14: substitution-chain fixpoint (obsolete-term resolution) ------
    "q31_fixpoint" -> ((s, dir) => {
      val subs = t(s, dir, "part")
        .filter(col("p_partkey") % 50 < 3)
        .select(col("p_partkey").as("old_id"), (col("p_partkey") + 1).as("new_id"))
      Fixpoint.resolve(subs, "old_id", "new_id")
    }),

    // --- X8: cytogenetic-band chromosome extraction ---------------------------
    "q32_band_parse" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          concat(
            (col("p_partkey") % 23 + 1).cast("string"),
            when(col("p_partkey") % 2 === 0, "p").otherwise("q"),
            col("p_size").cast("string")).as("band"))
        .select(
          col("p_partkey"), col("band"),
          regexp_extract(col("band"), "^([0-9XY]+)[pq]", 1).as("chr"))
    }),

    // --- X9/X10: assembly decode map + start/stop swap-normalize --------------
    "q33_decode_swap" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_returnflag") === "R", 13)
            .when(col("l_returnflag") === "A", 17)
            .when(col("l_returnflag") === "N", 38)
            .otherwise(lit(null).cast("int")).as("map_key"),
          least(col("l_quantity"), col("l_discount") * 100).as("start_pos"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("stop_pos"))
    }),

    // --- X13/X14/A3: date parse/arithmetic + newest-wins cutoff ---------------
    "q34_date_ops" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_ts"), count(lit(1)).as("n_orders"))
        .select(
          col("o_custkey"),
          date_format(
            col("last_ts") - expr("INTERVAL 1 DAY") - expr("INTERVAL 10 MINUTES"),
            "yyyy-MM-dd HH:mm:ss").as("stale_cutoff"),
          col("n_orders"))
    }),

    // --- X11: nested-when variant-type inference chain ------------------------
    "q35_so_infer" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          when(col("p_type").contains("BRUSHED"),
            when(col("p_size") > 25, "SO:1000035").otherwise("SO:0000667"))
            .when(col("p_type").contains("POLISHED"),
              when(col("p_name").contains("green"), "SO:0000159").otherwise("SO:1000032"))
            .when(col("p_type").contains("PLATED"), "SO:1000008")
            .when(col("p_type").contains("ANODIZED"), "SO:0001587")
            .when(col("p_size") < 5, "SO:0000289")
            .otherwise("SO:0001059")
            .as("so_acc_id"))
    }),

    // --- J13: positional join with derived-key pad-shift fallback -------------
    // (Clinvar2Vcf.getRsIs + fixRefAndAllele: equi join on position,
    // else retry shifted by the VCF padding base)
    "q36_padshift_join" -> ((s, dir) => {
      val probe = t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_partkey").as("pos"))
      val dim = t(s, dir, "part")
        .filter(col("p_partkey") % 2 === 0)
        .select(col("p_partkey"), col("p_brand"))
      val stage1 = FallbackJoin.Stage(dim,
        Seq("pos" -> "p_partkey"), Seq("p_brand" -> "ref_val"))
      val shifted = probe.withColumn("pos_shift", col("pos") + 1)
      val stage2 = FallbackJoin.Stage(dim,
        Seq("pos_shift" -> "p_partkey"), Seq("p_brand" -> "ref_val"))
      FallbackJoin(shifted, Seq(stage1, stage2))
        .select("l_orderkey", "pos", "ref_val", "matched_stage")
    }),

    // --- scale: blocked exact n-gram Jaccard near-dup pairs -------------------
    "q37_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardJoin(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text",
        blockCols = Seq(col("lang"), (col("n_chars") / 100).cast("long")),
        shingleSize = 3, threshold = 0.1)
    }),

    // --- A5-A7 + X1: per-key notes merge with byte-aware truncation ----------
    // (NotesCollection.java:36-84 shape: collect per key, dedup, sort,
    // "; "-join, trim to a byte budget with the " ..." suffix)
    "q39_trim_merge" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), TextStats.fingerprint(col("text")).as("fp"))
        .groupBy("source")
        .agg(concat_ws("; ", array_sort(collect_set(col("fp")))).as("merged"))
        .select(
          col("source"),
          TrimUtf8Bytes(col("merged"), 200).as("notes"),
          length(col("merged")).as("full_len"))
    }),

    // --- scale: BPE-ish subword token estimate --------------------------------
    "q40_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextStats.bpeIshTokenCount(col("text")).as("n_bpe"),
          TextStats.tokenCount(col("text")).as("n_ws"))
    }),

    // --- scale: corpus stats — exact percentiles + distinct counts.
    // approx=false is the DuckDB-comparable form; the approx=true twin
    // (approx_percentile + HLL) is the 100 TB path, pinned against this
    // one by ScaleSpec's relative-error test at sf0.1. -------------------------
    "q41_corpus_stats" -> ((s, dir) =>
      TextStats.corpusStats(t(s, dir, "documents"), approx = false)),

    // --- K6: unmatchable-condition report split by name suffix ----------------
    // (VariantAnnotator.dumpUnmatchableConditions:690-762: conditions
    // route to two report files by the [RCV] suffix, grouped by count)
    "q42_report_split" -> ((s, dir) => {
      val cond = when(col("p_partkey") % 3 === 0,
        concat(col("p_name"), lit(" [RCV"), col("p_partkey"), lit("]")))
        .otherwise(col("p_name"))
      t(s, dir, "part")
        .select(cond.as("cond"))
        .withColumn("route",
          when(col("cond").rlike(" \\[RCV.*\\]$"), "with_rcv").otherwise("plain"))
        .groupBy("route", "cond")
        .agg(count(lit(1)).as("hit_count"))
    }),

    // --- K5/F11/A11: VCF body with NVL'd allele merge, both-multibase skip,
    // and reference INFO fields (Clinvar2Vcf.java:95-135) ---------------------
    "q43_vcf_body" -> ((s, dir) => {
      val v = t(s, dir, "events").select(
        (col("user_id") % 23).cast("string").as("chr"),
        (col("event_id") % 500).as("pos"),
        when(col("event_id") % 7 === 0, "")
          .otherwise((col("event_id") % 97).cast("string")).as("rs_id"),
        col("event_type").as("var_type"),
        when(col("event_id") % 11 === 0, "")
          .when(col("event_id") % 3 === 0, "AT").otherwise("A").as("ref"),
        when(col("event_id") % 13 === 0, "")
          .when(col("event_id") % 4 === 0, "GC").otherwise("G").as("alt"),
        col("event_id").as("variant_id"))
      graft.pipelines.Clinvar2VcfPipeline
        .toVcfLines(graft.pipelines.Clinvar2VcfPipeline.groupAlleles(v))
    }),

    // --- scale: epoch-weighted mixture replication (integer per-mille) --------
    "q58_epoch_mix" -> ((s, dir) => {
      val permille = when(col("lang") === "en", 1700L)
        .when(col("lang") === "fr", 2000L).otherwise(400L)
      TextStats.epochSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id").cast("string"), permille)
    }),

    // --- S6: TSV concept-map dim scan (comment skip, null filter, multimap) ---
    "q57_concept_tsv" -> ((s, _) => {
      graft.ingest.XmlIngest
        .conceptToOmim(s, fixturePath("data/fixtures/gene_condition_source_id.tsv"))
        .select(col("concept_cui"), col("gene_id"),
          concat_ws("|", col("omim_ids")).as("omim_csv"))
    }),

    // --- scale: incremental near-dup filter (new batch vs corpus index) -------
    "q56_incr_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.nearDupAgainstCorpus(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.2)
        .select("doc_id")
    }),

    // --- scale: PII scrubbing (email/IP redaction over the text scan) ---------
    // (synthetic PII injected deterministically from columns so the
    // redaction paths actually fire on the fixture corpus)
    "q55_pii_scrub" -> ((s, dir) => {
      val injected = concat(
        substring(col("text"), 1, 40),
        lit(" contact "), col("lang"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 end"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextStats.emailCount(injected).as("n_email"),
          TextStats.ipv4Count(injected).as("n_ip"),
          md5(TextStats.scrubPii(injected).cast("binary")).as("scrub_md5"))
    }),

    // --- scale: contiguous sequence packing into fixed token budgets ----------
    // (shard by (lang, hash-bucket-of-id), order by id, bin by cumulative
    // START offset — the deterministic distributed shape of packing docs
    // into training sequences. Packing is shard-local by definition, so
    // the running sum never funnels a whole language through one window
    // task: a handful of lang values would otherwise make the `en`
    // partition a single-task bottleneck at 100 TB. nShards scales with
    // the cluster, 8 here for the fixture.)
    "q54_seq_pack" -> ((s, dir) => {
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextStats.hashBucket(col("doc_id").cast("string"), SeqPackShards).as("shard"),
          TextStats.tokenCount(col("text")).as("n_tok"))
        .withColumn("bin",
          ((sum(col("n_tok")).over(w) - col("n_tok")) / 2048).cast("long"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
    }),

    // --- scale: deterministic per-language quota sampling ---------------------
    // (md5-bucket filter — reproducible, shuffle-free, pushed to the scan)
    "q53_hash_sample" -> ((s, dir) => {
      val bucket = TextStats.hashBucket(col("doc_id").cast("string"), 100)
      val quota = when(col("lang") === "en", 60)
        .when(col("lang") === "fr", 30).otherwise(10)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") < quota)
    }),

    // --- skew tooling: salted two-phase EXACT distinct over a hot key ---------
    // (salting by the counted column keeps per-salt distinct sets disjoint,
    // so the phase-2 sum is exact; oracle = the plain one-phase distinct)
    "q52_skew_distinct" -> ((s, dir) => {
      SkewTools.saltedAgg(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        keys = Seq("event_type"),
        saltBy = col("user_id"),
        salt = 16,
        phase1 = Seq(countDistinct(col("user_id")).as("pd")),
        phase2 = Seq(sum(col("pd")).as("n_users")))
    }),

    // --- K1/J1: identity match + dense surrogate-id assignment ----------------
    "q51_insert_ids" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val empty = cust.limit(0)
      val store = graft.pipelines.LoadPipeline.Store(
        variants = cust.filter(col("c_custkey") % 3 === 0).select(
          col("c_custkey").as("rgd_id"),
          concat(lit("C"), col("c_custkey")).as("symbol"),
          col("c_name").as("name"),
          concat(lit("RCV"), col("c_custkey")).as("rcv_acc")),
        xdbIds = empty, hgvsNames = empty, aliases = empty,
        geneAssocs = empty, mapPositions = empty)
      val incoming = cust.filter(col("c_custkey") % 2 === 0).select(
        when(col("c_custkey") % 4 === 0, concat(lit("X"), col("c_custkey")))
          .otherwise(concat(lit("C"), col("c_custkey"))).as("symbol"),
        when(col("c_custkey") % 5 === 0, concat(lit("RCV"), col("c_custkey")))
          .otherwise(lit("")).as("rcv_acc"),
        col("c_name").as("name"))
      graft.pipelines.LoadPipeline.matchIdentity(incoming, store)
        .select("symbol", "rcv_acc", "name", "matched_stage", "rgd_id")
    }),

    // --- scale: near-dup cluster formation (connected components over pairs) --
    "q50_dedup_cluster" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 10 <= 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val cross = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 5).as("id_b"))
      Dedup.connectedComponents(chain.unionByName(cross), "id_a", "id_b")
    }),

    // --- sessionization (batch twin of streaming/StreamingOps.sessionize):
    // 30-min-gap sessions via lag + running sum — the training-data
    // conversation/sessionize staple, windowed on the high-cardinality user key
    "q49_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("_prev", lag(col("ts"), 1).over(w))
        .withColumn(
          "_new",
          when(col("_prev").isNull ||
            col("ts") - col("_prev") > lit(1800000000000L), 1).otherwise(0))
        .withColumn("session_seq", sum(col("_new")).over(w))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          expr("min(ts) div 1000000").as("start_ms"),
          expr("max(ts) div 1000000").as("end_ms"))
    }),

    // --- Clinvar2Vcf.fixRefAndAllele: ±1 pad-shift reconciliation sweep -------
    "q48_vcf_reconcile" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
      val store = ev.selectExpr(
        "cast(user_id % 23 as string) as chr",
        "event_id as pos",
        "event_id as rgd_id",
        """case when event_id % 5 <= 1 then 'snv'
                when event_id % 5 = 2 then 'deletion'
                when event_id % 5 = 3 then 'insertion'
                else 'duplication' end as var_type""",
        """case when event_id % 5 <= 1 then
                  (case when event_id % 2 = 0
                        then substr('ACGT', cast(event_id % 4 as int) + 1, 1)
                        else substr('CGTA', cast(event_id % 4 as int) + 1, 1) end)
                when event_id % 5 = 2 then 'TTC' else '-' end as ref_nuc""",
        """case when event_id % 5 <= 1 then substr('ACGT', cast(event_id % 3 as int) + 1, 1)
                when event_id % 5 = 2 then '-'
                when event_id % 5 = 3 then 'GG' else 'CC' end as var_nuc""")
      val vcf = ev.selectExpr(
        "cast(user_id % 23 as string) as chr",
        "case when event_id % 8 in (2,3,4,5) then event_id - 1 else event_id end as pos",
        """case when event_id % 8 <= 1 then substr('ACGT', cast(event_id % 4 as int) + 1, 1)
                when event_id % 8 = 2 then 'GTTC'
                when event_id % 8 in (3,4) then 'G'
                when event_id % 8 = 5 then
                  (case when (event_id div 8) % 2 = 0 then 'GAA' else 'C' end)
                when event_id % 8 = 6 then 'G' else 'A' end as ref""",
        """case when event_id % 8 <= 1 then
                  (case when event_id % 7 = 0 then '.'
                        else substr('ACGT', cast(event_id % 3 as int) + 1, 1) end)
                when event_id % 8 = 2 then 'G'
                when event_id % 8 in (3,4) then 'GTT'
                when event_id % 8 = 5 then
                  (case when (event_id div 8) % 2 = 0 then 'G' else 'CCC' end)
                when event_id % 8 = 6 then 'GT' else '.' end as alt""",
        """case when event_id % 8 <= 1 then 'single_nucleotide_variant'
                when event_id % 8 = 2 then 'Deletion'
                when event_id % 8 = 3 then 'Insertion'
                when event_id % 8 = 4 then 'Duplication'
                when event_id % 8 = 5 then 'Microsatellite'
                when event_id % 8 = 6 then 'Indel' else 'Variation' end as var_class""",
        "cast(null as string) as rs_id")
      graft.pipelines.VcfReconcile.run(vcf, store).counters
    }),

    // --- S2-S5/§2.9: distributed XML ingest + parse, flat projection ----------
    // (the reference's dominant cost path; oracle = hand-checked expected
    // rows for the fixture, frozen as literal VALUES)
    "q45_parser_flat" -> ((s, _) => {
      val raw = graft.ingest.XmlIngest
        .readRecords(s, fixturePath("data/fixtures/vcv_sample.xml"))
      val v = graft.ingest.XmlIngest
        .variants(graft.ingest.XmlIngest.parseRecords(raw))
      v.select(
        col("symbol"), col("variationId").as("variation_id"),
        col("rcvAcc").as("rcv_acc"), col("objectType").as("object_type"),
        col("soAccId").as("so_acc_id"),
        col("clinicalSignificance").as("clinical_significance"),
        col("reviewStatus").as("review_status"),
        col("methodType").as("method_type"), col("submitter"),
        col("traitName").as("trait_name"), col("refNuc").as("ref_nuc"),
        col("varNuc").as("var_nuc"),
        col("dateLastEvaluated").as("date_last_evaluated"),
        size(col("genes")).as("n_genes"), size(col("xdbIds")).as("n_xdbs"),
        size(col("hgvsNames")).as("n_hgvs"), size(col("aliases")).as("n_aliases"),
        size(col("mapPositions")).as("n_map_pos"))
    }),

    // --- J14: DAG transitive ancestor closure (path doubling) -----------------
    "q47_ont_closure" -> ((s, dir) => {
      // synthetic multi-parent DAG over part keys: k -> k div 2, and a
      // second parent k -> k div 3 when k % 3 == 0
      val p = t(s, dir, "part").select(col("p_partkey"))
      val edges = p.filter(col("p_partkey") > 1)
        .select(
          concat(lit("T"), col("p_partkey")).as("child"),
          concat(lit("T"), expr("p_partkey div 2")).as("parent"))
        .unionByName(
          p.filter(col("p_partkey") > 2 && col("p_partkey") % 3 === 0)
            .select(
              concat(lit("T"), col("p_partkey")).as("child"),
              concat(lit("T"), expr("p_partkey div 3")).as("parent")))
      Closure.ancestors(edges)
    }),

    // --- scale: IVF (inverted-file) ANN with stride-picked centroids ----------
    "q44_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 40 === 0)
      Similarity
        .ivfTopK(emb, probes, "vec_id", "embedding", 5, centroidStride = 64, nprobe = 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
    }),

    // --- J7: RCV-scoped case-insensitive alias sync (Aliases.qc) --------------
    "q46_alias_sync" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val incoming = cust.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey").as("rgd_id"),
        upper(col("c_name")).as("value"),
        concat(lit("RCV"), (col("c_custkey") % 50).cast("string")).as("rcv_acc"))
      val current = cust.filter(col("c_custkey") % 3 === 0).select(
        col("c_custkey").as("rgd_id"),
        when(col("c_custkey") % 11 === 0, concat(lit("stale "), col("c_name")))
          .otherwise(col("c_name")).as("value"),
        when(col("c_custkey") % 5 === 0,
          concat(lit("RCV"), (col("c_custkey") % 50).cast("string")))
          .when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(lit("RCVX")).as("notes"))
      AliasSync(incoming, current, incoming.select(col("rgd_id"), col("rcv_acc").as("rcv")))
    }),

    // --- scale: banded-LSH embedding-cosine near-dup pairs --------------------
    // (candidates form only inside shared hyperplane-signature bands —
    // an equi-join, never an all-pairs nested loop; exact cosine
    // verifies each candidate. 30 planes / 10 bands of 3 holds recall 1
    // on this corpus at the loose 0.42 threshold; production near-dup
    // thresholds (>= 0.8) use wider bands for real pruning — see
    // Similarity.cosineNearDupPairs)
    // --- scale: SemDeDup — semantic dedup by nearest-centroid cluster
    // then within-cluster cosine prune (min-id representative kept);
    // q38's threshold regime, q72's keep-list contract -----------------------
    // explicit stride 64: the DuckDB oracle embeds the stride-64
    // centroid selection; production callers omit it and get the
    // auto nlist ≈ √N stride (Similarity.sqrtNStride)
    "q77_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.42,
        centroidStride = 64)
        .select(col("id").as("vec_id"))),

    "q38_embed_neardup" -> ((s, dir) => {
      // maxBucket explicitly unbounded: the DuckDB oracle keeps ALL
      // banded pairs, so the Spark side must too — otherwise the 1:1
      // operator/oracle invariant silently depends on buckets staying
      // under the default cap (they stop doing so at sf1). Production
      // callers keep the default cap; the cap's own behavior is pinned
      // by ScaleSpec, not by this oracle row.
      Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.42,
        numPlanes = EmbedNearDupPlanes, bands = EmbedNearDupBands, dims = 64,
        maxBucket = Int.MaxValue)
    }),

    // --- A8/A9: two-phase annotation merge (AnnotCache.java:92-134, 169-211) --
    // phase 1 groups on the key INCLUDING with_info and set-merges
    // xref_source (split [|,;], distinct, sort, '|'-join), splitting
    // oversize values at the last '|' before the limit; phase 2 groups
    // on the key INCLUDING the (possibly split) xref_source and merges
    // with_info the same way. Tiny limits (25/13 vs the reference's
    // 4000/1700) so the split loops actually fire on fixture-sized
    // values.
    "q59_annot_merge" -> ((s, dir) => {
      val annots = t(s, dir, "orders").select(
        (col("o_custkey") % 100).as("annotated_rgd_id"),
        concat(lit("DOID:"), col("o_orderkey") % 5).as("term_acc"),
        lit("D").as("aspect"),
        when(col("o_orderkey") % 4 === 0, "ISO").otherwise("IAGP").as("evidence"),
        concat(lit("PMID:"), col("o_orderkey") % 3,
          lit(";PMID:"), (col("o_orderkey") * 2 + 1) % 5).as("xref_source"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .when(col("o_orderkey") % 7 === 0,
            concat(lit("WITH:"), col("o_orderkey") % 3,
              lit(";WITH:"), (col("o_orderkey") * 3 + 1) % 4)) // multi-value: phase 2 must split on ;
          .when(col("o_orderkey") % 13 === 0,
            concat(lit("WITH:"), col("o_orderkey") % 3, lit(";"))) // trailing sep: Java split drops the empty token
          .otherwise(concat(lit("WITH:"), col("o_orderkey") % 3)).as("with_info"))
      graft.pipelines.AnnotatePipeline
        .mergeAnnotations(annots, xrefMax = 25, withInfoMax = 13)
        .select("annotated_rgd_id", "term_acc", "aspect", "evidence",
          "xref_source", "with_info")
    }),

    // --- J2: gene match with the exactly-1 guard (GeneAssociations.java:38-71)
    // stage 1 by gene id, fallback by symbol; a stage that hits MULTIPLE
    // dim rows treats the probe as unmatched and falls through (the dim
    // below plants duplicate gene_ids and symbols so the guard actually
    // fires — 20% of ids collide into 50 buckets, symbols are mostly unique with 100 planted collision pairs)
    "q60_gene_guard" -> ((s, dir) => {
      val dim = t(s, dir, "part").select(
        when(col("p_partkey") % 10 < 8, col("p_partkey"))
          .otherwise(col("p_partkey") % 50).as("gene_id"),
        concat(lit("S"), col("p_partkey") % 1900).as("symbol"),
        col("p_partkey").as("gene_rgd"))
      val probe = t(s, dir, "orders").select(
        col("o_orderkey").as("probe_id"),
        (col("o_orderkey") % 2500).as("gene_id"),
        concat(lit("S"), col("o_orderkey") % 1900).as("symbol"))
      FallbackJoin(probe, Seq(
        FallbackJoin.Stage(dim, Seq("gene_id" -> "gene_id"), Seq("gene_rgd" -> "gene_rgd")),
        FallbackJoin.Stage(dim, Seq("symbol" -> "symbol"), Seq("gene_rgd" -> "gene_rgd"))))
        .select(col("probe_id"), col("gene_rgd"), col(FallbackJoin.StageCol).as("matched_stage"))
    }),

    // --- J12: rs-id enrichment update set (VariantRsId.java:21-60) -----------
    // variants' dbSNP xrefs (xdb_key=48) joined to the variant map; emit
    // updates only where the stored rs differs null-safely — the output
    // IS the K4 batched update set
    "q61_rsid_updates" -> ((s, dir) => {
      // link_text plants non-"rs" values (o_orderkey % 11 == 0 → "ss…")
      // so the reference's startsWith("rs") admission filter
      // (VariantRsId.java:36) is driver-gated, not vacuous
      val xdb = t(s, dir, "orders").select(
        (col("o_orderkey") % 3000).as("rgd_id"),
        when(col("o_orderkey") % 3 === 0, 48).otherwise(11).as("xdb_key"),
        concat(
          when(col("o_orderkey") % 11 === 0, lit("ss")).otherwise(lit("rs")),
          col("o_orderkey") % 977).as("link_text"))
      val vmap = t(s, dir, "part").select(
        col("p_partkey").as("variant_id"),
        (col("p_partkey") % 3000).as("rgd_id"),
        when(col("p_partkey") % 5 === 0, lit(null))
          .when(col("p_partkey") % 5 === 1, concat(lit("rs"), col("p_partkey") % 977))
          .otherwise(concat(lit("rs"), col("p_partkey") % 13)).as("rs_id"))
      graft.pipelines.VariantRsIdPipeline.run(xdb, vmap)
    }),

    // --- child-table diffs through the FULL load path (J5/J6/K3):
    // incoming children are keyed by symbol, re-keyed to rgd ids through
    // the identity match, then DiffSync-classified on their natural
    // keys. A wrong natural-key column or a broken rekey fails these
    // rows — they gate LoadPipeline.run's wiring, not just DiffSync.
    "q62_child_hgvs_diff" -> ((s, dir) =>
      childLoadResult(s, dir).diff(graft.pipelines.ClinvarStore.HgvsNames)
        .select("rgd_id", "hgvs_type", "name", "action")),
    "q63_child_mappos_diff" -> ((s, dir) =>
      childLoadResult(s, dir).diff(graft.pipelines.ClinvarStore.MapPositions)
        .select("rgd_id", "assembly", "chromosome", "start_pos", "stop_pos", "action")),

    // --- multimodal decode gate: REAL image + audio codecs against
    // hand-frozen expected rows for the committed fixtures (the q45
    // pattern) — a codec regression now fails the driver's check, not
    // just a unit spec. stat_milli = round(1000 * mean-R-channel) for
    // images, round(1000 * full-clip RMS) for audio.
    "q64_media_decode" -> ((s, _) => {
      import s.implicits._
      val withId = Multimodal.readDir(s, fixturePath("data/fixtures/multimodal"))
        .select(
          element_at(split(col("path"), "/"), -1).as("name"),
          col("content"))
        .withColumn("asset_id", abs(xxhash64(col("name"))))
      def assets(df: org.apache.spark.sql.DataFrame, modality: String) = df.select(
        col("asset_id").as("assetId"), lit(modality).as("modality"),
        col("content"), lit("").as("declaredFormat")).as[Multimodal.Asset]
      val isAudio = col("name").endsWith(".wav") || col("name").endsWith(".au")
      val imgRows = Multimodal.imageFeatures(assets(
        withId.filter(!isAudio), "image")).toDF()
        .select(
          col("assetId").as("asset_id"), col("format"),
          col("ok").cast("int").as("ok"),
          col("width").cast("long").as("d1"), col("height").cast("long").as("d2"),
          when(col("ok"),
            round(element_at(col("embedding"), 1) * 1000).cast("long"))
            .otherwise(lit(null).cast("long")).as("stat_milli"))
      val audNamed = withId.filter(isAudio)
      val wavAssets = assets(audNamed, "audio")
      val rms = Multimodal.audioWindowStats(wavAssets, 600000L).toDF()
        .select(col("assetId").as("asset_id"),
          round(col("rms") * 1000).cast("long").as("stat_milli"))
      val audRows = Multimodal.audioFeatures(wavAssets).toDF()
        .select(
          col("assetId").as("asset_id"),
          col("ok").cast("int").as("ok"),
          col("sampleRate").cast("long").as("d1"), col("numSamples").as("d2"))
        .join(rms, Seq("asset_id"), "left")
        // the audio "format" is the container extension (the image rows
        // report the reader's own format name; javax.sound exposes none)
        .join(audNamed.select(col("asset_id"),
          element_at(split(col("name"), "\\."), -1).as("format")), Seq("asset_id"))
      imgRows.unionByName(audRows)
        .join(withId.select(col("asset_id"), col("name")), Seq("asset_id"))
        .select("name", "format", "ok", "d1", "d2", "stat_milli")
    }),

    // --- F5/F6 driver gate: the REAL carpeCompliant +
    // excludedConditionFilter functions over variant-shaped columns
    // synthesized from orders. Cases planted so every branch fires:
    // non-carpe types, exact 'not provided' clinsig AND the merged
    // 'pathogenic|not provided' which the reference KEEPS (set
    // membership, VariantAnnotator.java:254 — not a substring test),
    // the uncertain-significance+LIMM submitter combo
    // (variantIsCarpeCompliant:245-266), and ALL NINE excluded
    // condition names (AppConfigure.xml:49-61). ------------------------
    "q65_carpe_filter" -> ((s, dir) => {
      val types = Seq("snv", "deletion", "duplication", "insertion",
        "single nucleotide variant", "indel", "copy number gain")
      val variants = t(s, dir, "orders").select(
        col("o_orderkey").as("rgd_id"),
        element_at(typedlit(types), (col("o_orderkey") % 7).cast("int") + 1)
          .as("object_type"),
        when(col("o_custkey") % 5 === 0, "pathogenic|not provided")
          .when(col("o_custkey") % 5 === 1, "uncertain significance")
          .when(col("o_custkey") % 5 === 2, "benign")
          .when(col("o_custkey") % 5 === 3, "not provided")
          .otherwise("pathogenic").as("clinical_significance"),
        when(col("o_orderkey") % 3 === 0,
          "Leeds Institute of Molecular Medicine (LIMM)")
          // NULL submitter rows gate the null-safe LIMM equality: an
          // 'uncertain significance' + NULL-submitter variant must be
          // KEPT (reference Utils.stringsAreEqual semantics)
          .when(col("o_orderkey") % 3 === 1, lit(null).cast("string"))
          .otherwise("Lab X").as("submitter"),
        element_at(
          typedlit(graft.pipelines.AnnotatePipeline.ExcludedConditionNames
            :+ "cond A" :+ "cond B"),
          (col("o_orderkey") % 11).cast("int") + 1).as("condition"))
      graft.pipelines.AnnotatePipeline.excludedConditionFilter(
        graft.pipelines.AnnotatePipeline.carpeCompliant(variants),
        graft.pipelines.AnnotatePipeline.ExcludedConditionNames)
    }),

    // --- X5/X6/F8/A15 driver gate: the parser's routed, DEDUPED xdb set
    // for the fixture records, hand-frozen from the XML (q45 pattern).
    // Pins the OMIM allele-id split (613653.0001 -> keys 53 AND 6), the
    // ORPHA prefix strip (ORPHA306511 -> 306511), DB routing incl. the
    // UniProtKB ignore, and the LinkedHashSet (key, acc) dedup — the
    // TraitMapping MedGen CUI repeats the trait xref and must NOT
    // produce a second (54, C3150901) row. ---------------------------------------
    "q66_parser_xdb" -> ((s, _) => {
      val v = graft.ingest.XmlIngest.variants(
        graft.ingest.XmlIngest.parseRecords(
          graft.ingest.XmlIngest.readRecords(s, fixturePath("data/fixtures/vcv_sample.xml"))))
      graft.ingest.XmlIngest.xdbIds(v)
        .select(col("symbol"), col("xdbKey").as("xdb_key"),
          col("accId").as("acc_id"), col("notes"))
    }),

    // --- X4 driver gate: HGVS type canonicalization through the real
    // parse ('HGVS, protein, RefSeq' -> 'protein_refseq';
    // Parser.java:186-231), hand-frozen from the fixture. ------------------------
    "q67_parser_hgvs" -> ((s, _) => {
      val v = graft.ingest.XmlIngest.variants(
        graft.ingest.XmlIngest.parseRecords(
          graft.ingest.XmlIngest.readRecords(s, fixturePath("data/fixtures/vcv_sample.xml"))))
      graft.ingest.XmlIngest.hgvsNames(v)
        .select(col("symbol"), col("hgvsType").as("hgvs_type"), col("name"))
    }),

    // --- scale: benchmark decontamination — corpus docs sharing any
    // 4-gram with the held-out slice (doc_id % 11 == 0 plays the eval
    // set). Benchmark grams broadcast; the corpus side never shuffles
    // on gram. -------------------------------------------------------------------
    "q68_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        "doc_id", "text", 4)
    }),

    // --- scale: repetition quality signals (dup-token per-mille + most
    // repeated bigram count) — the boilerplate filter dedup misses ---------------
    "q69_repetition" -> ((s, dir) =>
      TextStats.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")),

    // --- scale: cross-document boilerplate lines (CCNet-style line
    // hashing — 10-token segments repeated in >= 2 docs) -------------------------
    "q70_boilerplate" -> ((s, dir) =>
      TextStats.boilerplateLines(t(s, dir, "documents"), "doc_id", "text")),

    // --- scale: substring-level duplicated-span stats (Lee et al. 2022
    // exact-substring dedup signal — overlapping 8-token windows
    // occurring in >= 2 docs; q70's sibling with stride 1, not 10) -----------
    "q76_span_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpanStats(t(s, dir, "documents"), "doc_id", "text")),

    // --- scale: crawl dedup by canonical URL — messy fetch-time
    // variants injected (case-shifted authority, default + non-default
    // ports, utm/tracking params, fragments); canonicalize then group:
    // (canonical url, doc count, min-id keeper) ------------------------------
    "q78_url_dedup" -> ((s, dir) => {
      val hosts = Seq("News.Example.COM", "blog.example.org", "Docs.Example.IO")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("HTTPS://")),
        element_at(typedlit(hosts), (col("doc_id") % 3).cast("int") + 1),
        // :443 is the DEFAULT port only for https — on the http rows it
        // must survive canonicalization
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/p"), (col("doc_id") % 20).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=x&ref=1"))
          .when(col("doc_id") % 3 === 1, lit("?a=1&utm_campaign=z"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
      TextStats.urlKeyDedup(
        t(s, dir, "documents").withColumn("u", url), "doc_id", "u")
    }),

    // --- A1/A2 driver gate for the QC merge SHAPES (QC.java:29-94):
    // the reference applies THREE different merges to the variant core —
    // mergeCS (ranked union), QC.merge (CI-substring delete then TreeSet
    // union) for review_status/method_type, and the end-of-run collection
    // replacement (incoming-only TreeSet, store value ages out) for
    // submitter/trait_name/notes (notes re-join "; ", blank incoming
    // keeps the store value). Fixtures plant a divergence for every
    // shape; insert rows must pass through RAW (QC.run only feeds the
    // collections when the variant matched). ---------------------------------------
    "q79_merge_shapes" -> ((s, dir) => {
      import graft.pipelines.LoadPipeline
      val cust = t(s, dir, "customer")
      val emptyChildren = cust.limit(0)
      val store = LoadPipeline.Store(
        variants = cust.filter(col("c_custkey") % 3 === 0).select(
          col("c_custkey").as("rgd_id"),
          concat(lit("C"), col("c_custkey")).as("symbol"),
          col("c_name").as("name"),
          concat(lit("RCV"), col("c_custkey")).as("rcv_acc"),
          lit("variant").as("object_type"),
          lit("pathogenic").as("clinical_significance"),
          concat(lit("xABC"), col("c_custkey") % 7, lit("y|z")).as("review_status"),
          lit("mB|mA").as("method_type"),
          concat(lit("subOld"), col("c_custkey") % 5).as("submitter"),
          lit("tOld").as("trait_name"),
          when(col("c_custkey") % 9 === 0, lit("oldNote"))
            .otherwise(lit(null).cast("string")).as("notes"),
          lit("A").as("ref_nuc"), lit("T").as("var_nuc"),
          lit(null).cast("date").as("date_last_evaluated")),
        xdbIds = emptyChildren.select(
          col("c_custkey").as("rgd_id"), lit(52).as("xdb_key"), col("c_name").as("acc_id")),
        hgvsNames = emptyChildren.select(
          col("c_custkey").as("rgd_id"), col("c_name").as("hgvs_type"), col("c_name").as("name")),
        aliases = emptyChildren.select(
          col("c_custkey").as("rgd_id"), col("c_name").as("value"), col("c_name").as("notes")),
        geneAssocs = emptyChildren.select(
          col("c_custkey").as("rgd_id"), col("c_custkey").as("gene_id")),
        mapPositions = emptyChildren.select(
          col("c_custkey").as("rgd_id"), col("c_name").as("assembly"),
          col("c_name").as("chromosome"), col("c_custkey").as("start_pos"),
          col("c_custkey").as("stop_pos")))
      val incoming = cust.filter(col("c_custkey") % 2 === 0).select(
        concat(lit("C"), col("c_custkey")).as("symbol"),
        concat(lit("RCV"), col("c_custkey")).as("rcv_acc"),
        col("c_name").as("name"),
        lit("variant").as("object_type"),
        lit("likely pathogenic").as("clinical_significance"),
        concat(lit("abc"), col("c_custkey") % 7).as("review_status"),
        lit("mA").as("method_type"),
        concat(lit("sub"), col("c_custkey") % 5, lit("|subA|sub"),
          col("c_custkey") % 5).as("submitter"),
        concat(lit("t"), col("c_custkey") % 3, lit("|tA")).as("trait_name"),
        when(col("c_custkey") % 4 === 0, lit("n2|n1"))
          .otherwise(lit("   ")).as("notes"),
        lit("A").as("ref_nuc"), lit("T").as("var_nuc"),
        lit(null).cast("date").as("date_last_evaluated"))
      val identified = LoadPipeline.matchIdentity(incoming, store)
      LoadPipeline.mergeFields(identified, store)
        .select(col("symbol"), col("clinical_significance"), col("review_status"),
          col("method_type"), col("submitter"), col("trait_name"), col("notes"))
    }),

    // --- scale: domain-level curation stats — URLs injected q55-style
    // (the fixture corpus has none), hosts extracted with the real
    // urlHosts regex, per-domain doc counts + blocklist flag. At 100 TB
    // this is the aggregation that decides which domains to drop. ----------------
    "q71_domain_stats" -> ((s, dir) => {
      val domains = Seq("news.example.com", "blog.example.org", "spam.example",
        "data.example.net", "tracker.example", "docs.example.io")
      val blocklist = Seq("spam.example", "tracker.example")
      val injected = concat(
        substring(col("text"), 1, 30),
        lit(" via http://"),
        element_at(typedlit(domains), (col("doc_id") % 6).cast("int") + 1),
        lit("/p"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" and https://"),
            element_at(typedlit(domains), (col("doc_id") % 3).cast("int") + 1),
            lit("/q"))).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextStats.urlHosts(injected)).as("domain"))
        .groupBy("domain")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .withColumn("blocked", col("domain").isin(blocklist: _*).cast("int"))
    }),

    // --- scale: END-TO-END near-dup removal — the full dedup chain a
    // training pipeline actually runs: MinHash-LSH pairs (q23's exact
    // operator) → connected components → keep only each cluster's
    // min-id representative. Gates dedupByCluster, the one consumer the
    // cluster queries didn't cover. -----------------------------------------------
    "q72_neardup_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairsExact(
        docs.repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.2)
      Dedup.dedupByCluster(docs.select("doc_id"), pairs, "doc_id")
    }),

    // --- J11 driver gate: the REAL annotation exact-match probe
    // (AnnotatePipeline.annotDiff — the same function run() calls) over
    // annotation frames synthesized from orders. The 5-column natural
    // key decides touch-vs-insert exactly as getAnnotationKey does
    // (VariantAnnotator.java:180-187, Dao.java:635-637); with_info is
    // content (update vs match/touch). Cases planted: inserts (%19
    // rows absent from current), updates (%7 with_info drift), matches,
    // and deletes built ASYMMETRICALLY per aspect so the per-aspect 5%
    // stale ceiling (Dao.deleteObsoleteAnnotations:690-729) FIRES for
    // aspect H (~7% stale -> every H delete downgrades to keep_stale)
    // and does NOT fire for aspect D (~4.3% -> real deletes). --------------
    "q73_annot_probe" -> ((s, dir) => {
      def annots(df: org.apache.spark.sql.DataFrame, old: Boolean) = df.select(
        col("o_orderkey").as("annotated_rgd_id"),
        concat(lit("DOID:"), col("o_orderkey") % 97).as("term_acc"),
        when(col("o_orderkey") % 2 === 0, "D").otherwise("H").as("aspect"),
        when(col("o_orderkey") % 3 === 0, "ISO").otherwise("IAGP").as("evidence"),
        concat(lit("PMID:"), col("o_orderkey") % 13).as("xref_source"),
        (if (old)
          when(col("o_orderkey") % 7 === 0, lit("RGD:OLD"))
            .otherwise(when(col("o_orderkey") % 5 === 0,
              concat(lit("RGD:"), col("o_custkey"))))
        else
          when(col("o_orderkey") % 5 === 0, concat(lit("RGD:"), col("o_custkey")))
        ).cast("string").as("with_info"))
      val orders = t(s, dir, "orders")
      // fixture plants BOTH guard branches of the reference's NET-basis
      // abort (Dao.java:705-708: keep iff deletes - inserts > 5%·orig):
      // H's delete storm (odd keys %31/%29/%37) exceeds the net limit
      // -> keep_stale fires; D's deletes (even keys %59) exceed 5% of
      // orig ALONE but its inserts (%19 rekeys) offset them below the
      // net limit -> deletes proceed (a raw-stale-fraction guard would
      // wrongly abort D — that divergence is what this row freezes out)
      val incoming = annots(orders.filter(
        col("o_orderkey") % 23 =!= 0 &&
          !(col("o_orderkey") % 2 === 1 &&
            (col("o_orderkey") % 31 === 0 || col("o_orderkey") % 29 === 0 ||
              col("o_orderkey") % 37 === 0)) &&
          !(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 59 === 0)), old = false)
      val current = annots(orders.filter(col("o_orderkey") % 19 =!= 0), old = true)
      graft.pipelines.AnnotatePipeline.annotDiff(incoming, current)
    }),

    // --- F1/F2/F9 driver gate: the parser's SKIP semantics, frozen.
    // data/fixtures/vcv_skips.xml plants one record per skip branch —
    // two SimpleAllele children (Parser.java:66-73), a Genotype block,
    // a Haplotype block (Parser.java:75-94), a ClassifiedRecord with
    // none of the three — plus ONE good record whose HGVSlist carries a
    // 4012-char name that must drop with a counter while its sibling
    // survives (HgvsNames.java:24-29). Removing any skip branch changes
    // the frozen counter rows (and OK_HGVS_ROWS pins the F9 drop). ----------
    "q74_parser_skips" -> ((s, _) => {
      val parsed = graft.ingest.XmlIngest.parseRecords(
        graft.ingest.XmlIngest.readRecords(s, fixturePath("data/fixtures/vcv_skips.xml")))
      val v = graft.ingest.XmlIngest.variants(parsed)
      graft.ingest.XmlIngest.counters(parsed).unionByName(
        // groupBy the label (not a global agg) so the count shuffles
        // hash-partitioned like every other counter row — no
        // single-partition exchange for the scale guard to flag
        graft.ingest.XmlIngest.hgvsNames(v)
          .select(lit("OK_HGVS_ROWS").as("counter"))
          .groupBy("counter").agg(count(lit(1)).as("count")))
    }),

    // --- X15+X16 driver gate: the trait-name ` [RCV...]` suffix strip
    // (Parser.java:438-442 composes it; VariantAnnotator.java:434-438
    // strips before term matching) composed with the full name
    // normalization — planted edge cases: dynamic + fixed RCV suffixes,
    // no suffix, hyphens/commas/parens/slashes, multi-space runs, and
    // the T/B/NK-Cell special case (TermNameMatcher.java:141-144). ----------
    "q75_trait_strip" -> ((s, dir) => {
      val names = Seq(
        "Hereditary spastic paraplegia 48",
        "Breast-ovarian cancer, (familial) 1",
        "Severe combined immunodeficiency, T Cell-negative, B Cell-negative, NK Cell-negative",
        "Glucose/galactose malabsorption",
        "  spaced   name  ",
        "plain")
      val traits = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        concat(
          element_at(typedlit(names), (col("o_orderkey") % 6).cast("int") + 1),
          when(col("o_orderkey") % 3 === 0,
            concat(lit(" [RCV"), col("o_orderkey"), lit("]")))
            .when(col("o_orderkey") % 3 === 1, lit(" [RCV000012345]"))
            .otherwise(lit(""))).as("trait_name"))
      traits.select(
        col("id"),
        NameNormalize.stripRcvSuffix(col("trait_name")).as("stripped"),
        NameNormalize.normalizeName(
          NameNormalize.stripRcvSuffix(col("trait_name"))).as("norm_name"))
    }),

    // --- scale: corpus heavy-hitter trigrams — true occurrence counts
    // (two-level agg, no Expand) + doc frequency, TakeOrdered top-50
    // with a full deterministic tie-break ------------------------------------------
    "q80_topk_ngrams" -> ((s, dir) =>
      TextStats.topKNgrams(t(s, dir, "documents"), "doc_id", "text", n = 3, k = 50)),

    // --- scale: C4-style policy filter (Raffel et al. 2020 §2.2). The
    // synthetic corpus has no newlines or punctuation, so the closure
    // builds structured text deterministically from doc_id (the q78
    // pattern): 10-token lines, terminal '.' except every (doc_id+j)%4
    // line, a 'lorem ipsum' line planted on %13 docs and a curly-brace
    // code line on %17 docs — then runs the REAL operator on the
    // '\n'-joined text. Every rule branch fires somewhere in sf0.01. -----------
    "q81_policy_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .withColumn("lines", expr(
          "transform(sequence(0, (size(t) - 1) div 10), " +
            "j -> concat(array_join(slice(t, cast(j * 10 + 1 as int), 10), ' '), " +
            "case when (doc_id + j) % 4 = 0 then '' else '.' end))"))
        .withColumn("lines", when(col("doc_id") % 13 === 0,
          concat(col("lines"), array(lit("lorem ipsum dolor sit"))))
          .otherwise(col("lines")))
        .withColumn("lines", when(col("doc_id") % 17 === 0,
          concat(col("lines"), array(lit("function() { return 1; } and more words."))))
          .otherwise(col("lines")))
        .select(col("doc_id"), concat_ws("\n", col("lines")).as("text"))
      TextStats.policyFilter(docs, "doc_id", "text")
    }),

    // --- scale: vocabulary coverage curve — distributed counts,
    // TakeOrdered top-100, window only over the k-row frame -----------------------
    "q82_vocab_coverage" -> ((s, dir) =>
      TextStats.vocabCoverage(t(s, dir, "documents"), "text", k = 100)),

    // --- scale: deterministic token-budget shard packing via the
    // two-phase distributed prefix sum (no single-partition window) ---------------
    "q83_shard_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 2000L)
    }),

    // --- scale: Bloom-prefiltered decontamination — q68's big-benchmark
    // twin; exact semantics (no false negatives + exact verify semi-join)
    // so it shares q68's oracle verbatim -------------------------------------------
    "q84_decontam_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        "doc_id", "text", 4)
    }),

    // --- scale: deterministic stratified sampling — exactly 20 docs per
    // language by md5 order, via the two-pass group-wise top-n (both
    // passes bounded by partition size, never group size) -------------------------
    "q85_stratified_sample" -> ((s, dir) =>
      Sampling.topNPerGroup(t(s, dir, "documents"), "lang", "doc_id", n = 20)),

    // --- scale: count-min heavy hitters — the exact top-50 trigrams
    // probed against one fixed-memory CmsSketch pass (custom Catalyst
    // TypedImperativeAggregate; md5-window hash family the oracle
    // rebuilds relationally) -------------------------------------------------------
    "q86_cms_heavyhitters" -> ((s, dir) =>
      TextStats.cmsHeavyHitters(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50, depth = 4, width = 256)),

    // --- scale: END-TO-END corpus curation — quality gate -> exact
    // dedup -> decontamination (q68's holdout split) -> token-budget
    // shard packing, as ONE composed call; the oracle composes the
    // stage oracles as CTEs ---------------------------------------------------------
    "q87_curation_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.curate(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        "doc_id", "text")
    }),

    // --- scale: hashed-feature linear scorer (fastText-style serving
    // path; deterministic integer weights so the margin is bit-stable
    // and oracle-exact) -------------------------------------------------------------
    "q88_hash_classifier" -> ((s, dir) =>
      TextStats.hashedLinearScore(t(s, dir, "documents"), "doc_id", "text")),

    // --- scale: duplicated-span CUT — the rewrite q76's stats point at
    // (Lee et al. 2022 exact-substring dedup: remove every token inside
    // a cross-document duplicated 8-token span) -----------------------------------
    "q89_span_cut" -> ((s, dir) =>
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text")),

    // --- scale: inverted-index retrieval — BM25-shaped integer scoring
    // of a broadcast query set (every 101st doc's first 8 tokens)
    // against corpus postings; top-5 docs per query ------------------------------
    "q90_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs
        .filter(col("doc_id") % 101 === 0)
        .select(
          col("doc_id").as("query_id"),
          array_join(
            slice(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)), 1, 8),
            " ").as("qtext"))
      Retrieval.searchTopK(docs, queries, "doc_id", "text", "query_id", "qtext", k = 5)
    }),

    // --- scale: distributed Lloyd k-means over integer-quantized
    // embeddings (2 unrolled iterations, k=8, first-k init) — the IVF
    // centroid trainer; exact integer distances/means so the oracle
    // unrolls the same iterations as CTEs ----------------------------------------
    "q91_kmeans" -> ((s, dir) =>
      KMeans.lloydAssign(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)),

    // --- scale: per-domain adaptive quality cutoff — drop the bottom
    // quartile of n_chars PER SOURCE (dyadic quantile => engine-exact) -----------
    "q92_adaptive_cutoff" -> ((s, dir) =>
      TextStats.adaptiveQualityCutoff(t(s, dir, "documents"), "doc_id", "source", "n_chars")),

    // --- scale: TRAINED-centroid IVF — the q91 k-means quantizer
    // (dequantized) serving the q44 IVF probe path: train -> assign ->
    // nprobe-list cosine top-5 (replaces the deterministic-stride
    // stand-in with a data-dependent coarse quantizer) ----------------------------
    "q93_ivf_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopKWithCentroids(
        emb, emb.filter(col("vec_id") % 101 === 0),
        KMeans.trainedCentroids(emb, "vec_id", "embedding", k = 8, iters = 2),
        "vec_id", "embedding", k = 5, nprobe = 2)
    }),

    // --- scale: temperature-weighted domain mixture — UniMax-style
    // alpha=0.5 over the (imbalanced) lang domains, ~200-doc budget,
    // integer isqrt weights + epochSample replication --------------------------
    "q94_temperature_mix" -> ((s, dir) =>
      TextStats.temperatureMix(t(s, dir, "documents"), "doc_id", "lang", budgetDocs = 200L)),

    // --- scale: SemDeDup served by the TRAINED quantizer (q93's k-means
    // centroids replacing q77's stride stand-in — balanced clusters keep
    // the sum(cluster²) law on skewed corpora) -------------------------------
    "q95_semdedup_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semDedupWithCentroids(
        emb, "vec_id", "embedding", 0.42,
        KMeans.trainedCentroids(emb, "vec_id", "embedding", k = 8, iters = 2))
        .select(col("id").as("vec_id"))
    }),

    // --- scale: hashed-feature perceptron TRAINING (the training half
    // of q88's serving shape) — batch all-integer updates, 2 unrolled
    // iterations, lang=='en' as the ±1 supervision signal ---------------------
    "q96_perceptron" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
      TextStats.perceptronTrain(docs, "doc_id", "text", "y", dim = 64, iters = 2)
    }),

    // --- scale: train → serve composition — q96's trained weights score
    // the same corpus (the curation loop: train a quality/lang model on
    // a labeled seed, filter the corpus with it) -----------------------------
    "q97_train_serve" -> ((s, dir) => {
      val raw = t(s, dir, "documents")
      val w = TextStats.perceptronTrain(
        raw.withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L)),
        "doc_id", "text", "y", dim = 64, iters = 2)
      TextStats.scoreWithWeights(raw, "doc_id", "text", w, dim = 64)
    }),

    // --- scale: incremental sketch-store merge — per-source CMS
    // sketches element-wise merged == the whole-corpus sketch; the
    // merged 4×256 counter table is emitted as rows so DuckDB can
    // rebuild it cell-for-cell from the raw grams -----------------------------
    "q98_cms_merge" -> ((s, dir) => {
      val perSource = TextStats.cmsSketchByGroup(
        t(s, dir, "documents"), "source", "text", n = 3, depth = 4, width = 256)
      TextStats.mergeCmsSketches(perSource, "sk")
        .select(posexplode(col("sk")).as(Seq("pos", "counter")))
        .select(col("pos").cast("long").as("pos"), col("counter"))
    }),

    // --- scale: integer PageRank over a deterministic host graph (the
    // crawl-quality prior; 2 unrolled steps, milli-ranks, dropped
    // dangling mass mirrored by the oracle) -----------------------------------
    "q99_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 101).cast("string")).as("src"),
        concat(lit("h"), ((col("doc_id") * 7 + 3) % 101).cast("string")).as("dst"))
        .filter(col("src") =!= col("dst"))
      LinkGraph.pagerankMilli(edges, "src", "dst", iters = 2)
    }),

    // --- scale: leakage-safe split — the split bucket hashes q50's
    // near-dup cluster REPRESENTATIVE, so connected documents share a
    // split by construction (eval never sees a near-copy of train) -----------
    "q100_leakage_split" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val chain = d.filter(col("doc_id") % 10 <= 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val cross = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 5).as("id_b"))
      Sampling.leakageSafeSplit(
        d, chain.unionByName(cross), "doc_id", "id_a", "id_b")
    }),

    // --- scale: connected components on the DISTRIBUTED min-label
    // propagation path — q50 exercises the driver union-find (its edge
    // fixture is dim-sized); here the threshold is passed explicitly so
    // the per-round join+min-agg path is the one the oracle gates. The
    // events-derived fixture exceeds 100 edges at every driver SF. ----------
    "q101_cc_distributed" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"))
      val chain = e.filter(col("event_id") % 10 <= 2)
        .select(col("event_id").as("id_a"), (col("event_id") + 1).as("id_b"))
      val cross = e.filter(col("event_id") % 20 === 0)
        .select(col("event_id").as("id_a"), (col("event_id") + 5).as("id_b"))
      Dedup.connectedComponents(
        chain.unionByName(cross), "id_a", "id_b", driverThreshold = 100L)
    }),

    // --- scale: measured LSH recall on a deterministic half-sample — the
    // observability surface for the banding trade-off (q23's production
    // parameterization, ground truth = exact shingle-equi-join Jaccard) ------
    "q102_lsh_recall" -> ((s, dir) => {
      Dedup.recallReport(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.2,
        samplePermille = 500)
    }),

    // --- scale: bigram-LM surprisal quality scoring — the CCNet-style
    // perplexity filter as an all-integer inverse-conditional-frequency
    // surrogate, model trained on the corpus itself ---------------------------
    "q103_bigram_surprisal" -> ((s, dir) =>
      TextStats.bigramSurprisal(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text")),

    // --- scale: product-quantization ADC top-k — per-subspace k-means
    // codebooks (m=2, k=4, one Lloyd iteration), corpus encoded as m
    // codes, queries answered by LUT-summed exact-integer distances ----------
    "q104_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      PQ.adcTopK(emb, emb.filter(col("vec_id") % 101 === 0),
        "vec_id", "embedding", m = 2, k = 4, topK = 5)
    }),

    // --- scale: IVFADC — coarse full-vector k-means lists bound the ADC
    // scan to the probed lists (Jégou et al. §V); the production-scale
    // composition of q104's exhaustive baseline ------------------------------
    "q105_ivfadc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      PQ.ivfAdcTopK(emb, emb.filter(col("vec_id") % 101 === 0),
        "vec_id", "embedding", coarseK = 8, nprobe = 2, m = 2, k = 4, topK = 5)
    }),

    // --- scale: corpus-overlap bottom-k sketch — gram-level Jaccard
    // between two corpora estimated from the k smallest union hashes;
    // no pairwise document join anywhere -------------------------------------
    "q106_corpus_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.corpusOverlapEstimate(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "text", shingleSize = 3, k = 256)
    }),

    // --- scale: priority-aware canonical selection — q72's near-dup
    // clusters with the survivor chosen by (source priority, id) argmin:
    // keep the curated-source copy, drop the crawl copies --------------------
    "q107_priority_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairsExact(
        docs.repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.2)
      Dedup.dedupByClusterPriority(
        docs.select(col("doc_id"),
          expr("substring(source, 4)").cast("long").as("priority")),
        pairs, "doc_id", "priority")
    }),

    // --- scale: LM train → serve split — q103's bigram model trained on
    // the even-doc reference corpus scoring the odd-doc incoming batch
    // (the CCNet deployment shape; surprisalStream is the stateless twin) ---
    "q108_lm_train_serve" -> ((s, dir) => {
      val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      TextStats.surprisalWithModel(
        d.filter(col("doc_id") % 2 === 1),
        TextStats.bigramModel(d.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
        "doc_id", "text")
    }),

    // --- scale: CONJUNCTIVE retrieval — q90's index/scoring with the
    // all-terms-required filter (phrase-ish precision queries) ----------------
    "q109_retrieval_conj" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs
        .filter(col("doc_id") % 101 === 0)
        .select(
          col("doc_id").as("query_id"),
          array_join(
            slice(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)), 1, 8),
            " ").as("qtext"))
      Retrieval.searchTopK(docs, queries, "doc_id", "text", "query_id", "qtext",
        k = 5, requireAllTerms = true)
    }),

    // --- scale: exact dedup with PROVENANCE — the keeper row carries the
    // sorted distinct source set of its duplicate group (curation lineage) ---
    "q110_dedup_provenance" -> ((s, dir) =>
      Dedup.exactGroupsWithProvenance(
        t(s, dir, "documents"), "doc_id", "text", "source")),

    // --- J-family extension: AS-OF join — the latest 'view' at or
    // before each 'click' per user; union-and-sweep plan, no range join ------
    "q111_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      AsOfJoin.asOf(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id")),
        "user_id", "ts", "click_id", "view_id")
        .select(col("click_id"), col("user_id"),
          expr("ts div 1000000").as("ts_ms"), col("asof_view_id"))
    }),

    // --- J-family extension: RANGE join — clicks inside each signup's
    // 24 h attribution window per user; grid-bucket equi-join, no
    // nested loop ------------------------------------------------------------
    "q112_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val dayNanos = 86400L * 1000000000L
      RangeJoin.pointsInIntervals(
        e.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("signup_id"),
            col("ts").as("lo"), (col("ts") + dayNanos).as("hi")),
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts")),
        "user_id", "lo", "hi", "ts", "signup_id", "click_id",
        cellSize = dayNanos)
    }),

    // --- scale: pretraining chunking — fixed 32-token windows, stride 16
    // (overlapping context windows; trailing remnant kept) -------------------
    "q113_chunk_windows" -> ((s, dir) =>
      TextStats.chunkByTokens(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", window = 32, stride = 16)),

    // --- scale: duplication-rate histogram — the corpus-health report
    // (group sizes rolled up to one row per copy-count) ----------------------
    "q114_dup_histogram" -> ((s, dir) =>
      Dedup.duplicationHistogram(t(s, dir, "documents"), "doc_id", "text")),

    // --- J-family: AS-OF with a MULTI-COLUMN payload — the whole matched
    // view row (id + value + props) rides the sweep struct-packed, so the
    // enrichment columns can never mix across right rows -----------------
    "q116_asof_payload" -> ((s, dir) => {
      val e = t(s, dir, "events")
      AsOfJoin.asOfAll(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
            col("value"), col("props")),
        "user_id", "ts", "click_id", Seq("view_id", "value", "props"))
        .select(col("click_id"), col("user_id"),
          expr("ts div 1000000").as("ts_ms"),
          col("asof_view_id"), col("asof_value"), col("asof_props"))
    }),

    // --- J-family: interval-interval OVERLAP join — signup attribution
    // windows (24 h) colliding with click activity windows (1 h) per
    // user; grid-bucket equi-join with the emit-once max-lo cell rule ----
    "q117_interval_overlap" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val dayNanos = 86400L * 1000000000L
      val hourNanos = 3600L * 1000000000L
      RangeJoin.intervalOverlap(
        e.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("signup_id"),
            col("ts").as("s_lo"), (col("ts") + dayNanos).as("s_hi")),
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("c_lo"), (col("ts") + hourNanos).as("c_hi")),
        "user_id", "s_lo", "s_hi", "c_lo", "c_hi", "signup_id", "click_id",
        cellSize = dayNanos)
    }),

    // --- J-family: FORWARD as-of — the first view at or after each
    // click per user (next-event enrichment); same joinless sweep with
    // the timestamp sort reversed --------------------------------------
    "q119_asof_next" -> ((s, dir) => {
      val e = t(s, dir, "events")
      AsOfJoin.asOfNext(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
            col("value")),
        "user_id", "ts", "click_id", Seq("view_id", "value"))
        .select(col("click_id"), col("user_id"),
          expr("ts div 1000000").as("ts_ms"),
          col("asof_view_id"), col("asof_value"))
    }),

    // --- scale: IVFADC against a TRAINED coarse quantizer — the q93
    // serving pattern applied to the PQ path (quantizer trained once
    // upstream, 2 Lloyd iterations; sub-codebooks still corpus-trained) --
    "q120_ivfadc_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      PQ.ivfAdcTopKWithCentroids(
        emb, emb.filter(col("vec_id") % 101 === 0),
        KMeans.trainedCentroids(emb, "vec_id", "embedding", k = 8, iters = 2),
        "vec_id", "embedding", nprobe = 2, m = 2, k = 4, topK = 5)
    }),

    // --- J-family: bounded-staleness as-of — latest view per click but
    // no older than 5 minutes (the "prevailing price, max age" contract);
    // distinct right ts name + matched-ts emission, tolerance applied as
    // a post-sweep filter on the carried ts (the sweep stays joinless) --
    "q122_asof_tolerance" -> ((s, dir) => {
      val e = t(s, dir, "events")
      AsOfJoin.asOfAll(
        e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id"), col("value")),
        "user_id", "ts", "click_id", Seq("view_id", "value"),
        rightTsCol = Some("view_ts"),
        tolerance = Some(lit(300L * 1000000000L)), // 5 min in nanos
        emitMatchedTs = true)
        .select(col("click_id"), col("user_id"),
          expr("ts div 1000000").as("ts_ms"),
          col("asof_view_id"), col("asof_value"),
          expr("asof_view_ts div 1000000").as("asof_view_ts_ms"))
    }),

    // --- scale: the FULL pretraining curation pipeline as one call —
    // chunk → cross-doc near-dup priority dedup → decontaminate →
    // surprisal gate → ppm temperature mix → leakage-safe split →
    // token-budget shard pack (the round-11 operator family composed;
    // q118 gates the same run's per-stage counters) ----------------------
    "q115_pretrain_curate" -> ((s, dir) =>
      pretrainRun(s, dir).sequences),

    // --- scale: q115's K7-style run counters — every stage's row count
    // from the SAME composed pipeline, oracle-gated stage by stage ------
    "q118_pretrain_counters" -> ((s, dir) =>
      pretrainRun(s, dir).counters),

    // --- scale: INCREMENTAL curation — a new batch curated against an
    // existing store (chunk → batch dedup → incumbent filter vs the
    // store's signature index → decontaminate → batch-local quantile
    // gate → mixture REBALANCE over combined populations → stable split
    // → pack); q123 gates the same run's counters --------------------------
    "q121_incr_curate" -> ((s, dir) =>
      incrRun(s, dir).sequences),

    "q123_incr_counters" -> ((s, dir) =>
      incrRun(s, dir).counters),

    // --- scale: BPE tokenizer training (Sennrich 2016, word-count
    // formulation — one corpus pass, then vocabulary-sized merge
    // iterations; the merge table is the driver-sized model) ---------------
    "q124_bpe_train" -> ((s, dir) =>
      graft.scale.Bpe.train(t(s, dir, "documents"), "text", BpeMergeCount)),

    // --- scale: BPE encoding — corpus piece histogram under the trained
    // merge chain (memoized over the distinct-word frame; the per-doc
    // encode path is the same scan-pure replace chain) ---------------------
    "q125_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Bpe.pieceHistogram(docs, "text",
        graft.scale.Bpe.trainMerges(docs, "text", BpeMergeCount), topK = 20)
    }),

    // --- scale: production-vocab BPE paths against the SAME oracles —
    // the in-memory incremental trainer (one corpus pass, no
    // job-per-merge) and the vocabulary-memoized encode (no
    // merge-count-dependent codegen); q124/q125's exact twins ------------
    "q126_bpe_train_fast" -> ((s, dir) =>
      graft.scale.Bpe.trainFast(t(s, dir, "documents"), "text", BpeMergeCount)),

    "q127_bpe_encode_vocab" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Bpe.pieceHistogramByVocab(docs, "text",
        graft.scale.Bpe.trainMergesFast(docs, "text", BpeMergeCount), topK = 20)
    }),

    // --- scale: per-doc TOKENIZER token counts — training budgets are
    // denominated in BPE tokens, not whitespace words ---------------------
    "q128_bpe_token_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Bpe.tokenCounts(docs, "doc_id", "text",
        graft.scale.Bpe.trainMergesFast(docs, "text", BpeMergeCount))
    }),

    // --- scale: BPE-exact shard packing — q83's two-phase prefix-sum
    // pack fed by tokenizer counts instead of whitespace counts -----------
    "q129_bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ShardPack.packByTokenBudget(
        graft.scale.Bpe.tokenCounts(docs, "doc_id", "text",
          graft.scale.Bpe.trainMergesFast(docs, "text", BpeMergeCount)),
        "doc_id", "n_tokens", budget = 2000L)
    }),

    // --- scale: tokenizer fertility by domain — the multilingual-
    // fairness eval (over-segmented domains pay more tokens per word);
    // the merge table rides the model-artifact round-trip
    // (train frame -> mergesFromFrame) to gate persistence too ----------
    "q130_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Bpe.fertilityByDomain(docs, "lang", "text",
        graft.scale.Bpe.mergesFromFrame(
          graft.scale.Bpe.trainFast(docs, "text", BpeMergeCount)))
    }),

    // --- scale: the pretraining pipeline packing by TOKENIZER tokens —
    // q115's composition with the pack budget denominated in trained-BPE
    // counts (the unit training budgets are billed in); only the
    // pack-stage counts change ------------------------------------------
    "q131_bpe_pretrain_pack" -> ((s, dir) =>
      pretrainRun(s, dir, tokenizerMerges =
        graft.scale.Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount))
        .sequences),

    // --- scale: the INCREMENTAL pipeline packing by tokenizer tokens —
    // q121's batch-vs-store composition with BPE-count pack budgets ------
    "q132_bpe_incr_pack" -> ((s, dir) =>
      incrRun(s, dir, tokenizerMerges =
        graft.scale.Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount))
        .sequences),

    // --- scale: DSIR targeted data selection — score non-en docs by
    // hashed-unigram likelihood ratio vs the en target domain (integer
    // milli-log2), deterministic top-k (Xie et al. 2023) ----------------
    "q133_dsir_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Sampling.dsirSelect(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096, k = 200)
    }),

    // --- scale: DSIR Gumbel-top-k sampling — same scores, selection by
    // score + seeded integer Gumbel noise (reproducible importance
    // RESAMPLING rather than argmax) ------------------------------------
    "q134_dsir_gumbel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Sampling.dsirSelect(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096, k = 200, gumbel = true)
    }),

    // --- scale: data-constrained token-budget allocation — water-fill a
    // 30k-token budget across languages at mixture weights en:5 fr:2
    // else:1, each domain capped at 1.5 epochs of its unique tokens
    // (Muennighoff et al. 2023); closed-form, windows over the tiny
    // domain frame -------------------------------------------------------
    "q135_token_budget" -> ((s, dir) => {
      val dom = t(s, dir, "documents")
        .select(col("lang"), size(regexp_extract_all(
          lower(col("text")), lit("[a-z0-9]+"), lit(0))).cast("long").as("nt"))
        .groupBy("lang").agg(sum("nt").as("tokens"))
        .filter(col("tokens") >= 1)
        .withColumn("weight",
          when(col("lang") === "en", 500L)
            .when(col("lang") === "fr", 200L).otherwise(100L))
      graft.scale.Sampling.tokenBudgetAllocate(
        dom, "lang", "tokens", "weight",
        budgetTokens = 30000L, maxEpochsMilli = 1500L)
    }),

    // --- scale: domain-drift monitor — top-20 feature buckets by |KL
    // contribution| between the en and non-en corpora (the "what
    // changed" dashboard frame) -----------------------------------------
    "q136_domain_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.scale.Sampling.domainDriftContributors(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"), "text", buckets = 4096)
        .orderBy(abs(col("contrib_micro")).desc, col("b").asc).limit(20)
    }),

    // --- scale: DoReMi-lite loss-aware mixture — per-lang corpus bigram
    // surprisal (milli-log2) → excess over the best lang → pow2Milli
    // exponential weights (tau 250) → water-filled token budget ---------
    "q137_loss_aware_alloc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val surp = graft.scale.TextStats.bigramSurprisal(docs, "doc_id", "text")
      val loss = docs.join(surp, "doc_id").groupBy("lang")
        .agg(expr("sum(total_surp) div sum(n_bigrams)").as("surp"))
        .select(col("lang"),
          graft.scale.Sampling.millilog2(col("surp")).as("loss_milli"))
      val wts = graft.scale.Sampling.lossAwareWeights(
        loss, "lang", "loss_milli", tauMilli = 250L)
      val dom = docs
        .select(col("lang"), size(regexp_extract_all(
          lower(col("text")), lit("[a-z0-9]+"), lit(0))).cast("long").as("nt"))
        .groupBy("lang").agg(sum("nt").as("tokens"))
        .filter(col("tokens") >= 1)
      graft.scale.Sampling.tokenBudgetAllocate(
          dom.join(wts.select("lang", "weight"), Seq("lang")),
          "lang", "tokens", "weight",
          budgetTokens = 30000L, maxEpochsMilli = 1500L)
        .join(wts.select("lang", "loss_milli", "excess_milli"), Seq("lang"))
        .select("lang", "loss_milli", "excess_milli", "tokens", "weight",
          "cap", "alloc", "epochs_milli")
    }),

    // --- scale: DoReMi's actual loop — q137's per-lang loss, then 4
    // rounds of the Group-DRO multiplicative update with per-round ppm
    // renormalization; outputs the final AND the paper's step-averaged
    // mixture ------------------------------------------------------------
    "q138_doremi_rounds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val surp = graft.scale.TextStats.bigramSurprisal(docs, "doc_id", "text")
      val loss = docs.join(surp, "doc_id").groupBy("lang")
        .agg(expr("sum(total_surp) div sum(n_bigrams)").as("surp"))
        .select(col("lang"),
          graft.scale.Sampling.millilog2(col("surp")).as("loss_milli"))
      graft.scale.Sampling.doremiWeights(
        loss, "lang", "loss_milli", tauMilli = 250L, rounds = 4)
    }),

    // --- scale: snapshot-drift monitor — publish two corpus snapshots
    // into a SnapshotStore (retain 2), then measure drift between the
    // LIVE version and the previous one via readAt time travel: the
    // form a curation team actually watches (drift vs the store's own
    // history, no side channel). Memberships are deterministic doc_id
    // strata so the oracle mirrors them as predicates ---------------------
    "q139_snapshot_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val store = java.nio.file.Files
        .createTempDirectory("graft_drift_store").toString
      graft.ops.SnapshotStore.publish(store,
        Seq("corpus" -> docs.filter(col("doc_id") % 4 =!= 1)), retain = 2)
      graft.ops.SnapshotStore.publish(store,
        Seq("corpus" -> docs.filter(col("doc_id") % 4 =!= 3)), retain = 2)
      graft.scale.Sampling.snapshotDrift(s, store, "corpus", "text",
        buckets = 4096, topK = 20)
    }),

    // --- scale: BPE merge-table drift — retrain on a different corpus
    // slice and step-align the two tables: the tokenizer-governance
    // report reviewed before re-tokenizing a store (common trusted
    // prefix = min(step) - 1) -------------------------------------------
    "q140_bpe_table_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = graft.scale.Bpe.trainMergesFast(
        docs.filter(col("lang") === "en"), "text", BpeMergeCount)
      val b = graft.scale.Bpe.trainMergesFast(
        docs.filter(col("lang") =!= "en"), "text", BpeMergeCount)
      graft.scale.Bpe.mergeTableDiff(s, a, b)
    }),

    // --- scale: embedding-space drift — the drift decomposition over
    // coarse-quantizer cells frozen from the reference era (the
    // semantic complement of q136's token-space monitor) ------------------
    "q141_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.scale.Similarity.embeddingCellDrift(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding", centroidStride = 64)
    }),

    // --- scale: deterministic epoch order + resume cursor — q83's pack,
    // epoch-1 within-shard md5 permutation, then the strict-after
    // (shard 1, pos 4) resume slice a restarted loader feeds next --------
    "q142_epoch_resume" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      val packed = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 2000L)
      ShardPack.resumeAfter(
        ShardPack.epochOrder(packed, "doc_id", epoch = 1L),
        shardCursor = 1L, posCursor = 4L)
    }),

    // --- scale: sample packing — the fixed-length training-sequence
    // layout with attention-boundary metadata: docs split across
    // 512-token bins, every non-terminal bin exactly full ----------------
    "q143_sample_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.packSequences(docs, "doc_id", "n_tok", seqLen = 512L)
    }),

    // --- scale: dialogue QC — q49's sessions as SFT dialogues with the
    // chat-template alternation invariant checked per dialogue (roles =
    // event types; consecutive same-role turns are violations) ------------
    "q144_dialogue_qc" -> ((s, dir) =>
      graft.scale.Dialogue.dialogueStats(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        gapNanos = 1800000000000L)),

    // --- scale: TRAINED-centroid embedding drift — q141's monitor on
    // the PRODUCTION cell system: q91/q93's k-means quantizer (trained
    // on the reference era, then frozen) replaces the stride stand-in,
    // so the per-era scoring pass is N·k with k a model constant —
    // linear in corpus size where q141's stride rule is N²/stride ------
    "q145_embedding_drift_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val target = emb.filter(col("vec_id") % 3 === 0)
      val reference = emb.filter(col("vec_id") % 3 =!= 0)
      // the trained centroid frame is k rows — persist it so the Lloyd
      // training DAG runs ONCE (the monitor's empty-cell guard, the
      // broadcast, and the smoothing count agg all read it)
      val cents = graft.ops.CacheScope.persisted(
        KMeans.trainedCentroids(reference, "vec_id", "embedding", k = 8, iters = 2))
      graft.scale.Similarity.embeddingCellDriftWithCentroids(
        target, reference, cents, "vec_id", "embedding")
    }),

    // --- scale: MATERIALIZED packed sequences — the artifact a trainer
    // mmaps: the q128 family's BPE token streams (position-indexed)
    // laid into q143's 512-token bins, one row per training sequence
    // with the actual token ids in order (ids = the deterministic
    // lexicographic piece vocabulary; rendered space-joined for the
    // oracle hash) --------------------------------------------------------
    "q146_packed_token_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      ShardPack.materializeSequences(stream, "doc_id", seqLen = 512L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"))
    }),

    // --- scale: SFT loss-mask spans — per-turn token coordinates inside
    // packed dialogue sequences: q144's sessions as dialogues, turn
    // token counts from the DOC-trained tokenizer (one tokenizer,
    // trained on the pretraining corpus, applied to the SFT data — the
    // production shape), laid into 16-token sequences by the q143
    // contract with dialogues as docs ------------------------------------
    "q147_loss_mask_spans" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val ev = t(s, dir, "events")
        .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      val counts = Bpe.tokenCounts(
        ev.select("event_id", "content"), "event_id", "content", merges)
      val turns = graft.scale.Dialogue.sessionize(
          ev, "user_id", "ts", "event_id", gapNanos = 1800000000000L)
        .withColumn("dlg_id",
          col("user_id") * 100000L + col("session_seq") +
            coalesce(
              assert_true(col("session_seq") < 100000L &&
                col("user_id").between(0L, Long.MaxValue / 100000L - 1),
                lit("dlg_id packing out of range: need 0 <= user_id < 2^63/1e5 " +
                  "and session_seq < 100000")).cast("long"),
              lit(0L)))
        .join(counts, Seq("event_id"), "left")
        .select(col("dlg_id"), col("ts"), col("event_id"),
          col("event_type").as("role"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      graft.scale.Dialogue.lossMaskSpans(
        turns, "dlg_id", "ts", "event_id", "role", "n_tokens", seqLen = 16L)
    }),

    // --- scale: dialogue repair (policy 1: MERGE) — q144's violations
    // repaired by collapsing each consecutive same-role run to one turn
    // carrying the anchor event and the run's (ts, id)-ordered joined
    // content; the drop policy (dropInvalidDialogues) is its spec-gated
    // complement ---------------------------------------------------------
    "q148_dialogue_repair" -> ((s, dir) =>
      graft.scale.Dialogue.mergeConsecutiveSameRole(
        t(s, dir, "events")
          .select("user_id", "ts", "event_id", "event_type", "props"),
        "user_id", "ts", "event_id", "event_type", "props",
        gapNanos = 1800000000000L)),

    // --- scale: epoch-schedule manifest — q142's pack composed across a
    // 3-epoch run (one (epoch, shard, pos) row per epoch × doc, each
    // epoch a fresh deterministic permutation), then the cross-epoch
    // resume slice strictly after cursor (epoch 1, shard 2, pos 3) ------
    "q149_epoch_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      val packed = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 2000L)
      ShardPack.resumeAfterEpoch(
        ShardPack.epochManifest(packed, "doc_id", epochs = 3),
        epochCursor = 1L, shardCursor = 2L, posCursor = 3L)
    }),

    // --- scale: doc-preserving best-fit packing — q143's complement for
    // post-training (no cross-doc attention): whole docs first-fit-
    // decreasing into 96-token bins within md5-ordered 2000-token
    // shards; docs over 96 tokens are REPORTED oversize (shard/bin −1),
    // never split or dropped. The oracle replays the per-shard FFD as a
    // recursive CTE carrying the bin-load list -----------------------------
    "q150_bestfit_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.packBestFit(docs, "doc_id", "n_tok",
        seqLen = 96L, shardBudget = 2000L)
    }),

    // --- scale: MATERIALIZED SFT sequences — the final fine-tuning
    // artifact: q147's dialogues-as-docs layout with the ACTUAL token
    // ids AND the per-position loss mask (1 on purchase/signup turns —
    // the "assistant" role set), one row per 16-token sequence; ids =
    // the event-content piece vocabulary under the doc-trained merges --
    "q151_sft_sequences" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val ev = t(s, dir, "events")
        .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      val turns = graft.scale.Dialogue.sessionize(
          ev, "user_id", "ts", "event_id", gapNanos = 1800000000000L)
        .withColumn("dlg_id",
          col("user_id") * 100000L + col("session_seq") +
            coalesce(
              assert_true(col("session_seq") < 100000L &&
                col("user_id").between(0L, Long.MaxValue / 100000L - 1),
                lit("dlg_id packing out of range")).cast("long"),
              lit(0L)))
      val stream = graft.scale.Dialogue.sftTokenStream(
        turns, "dlg_id", "ts", "event_id", "event_type", "content",
        merges, maskRoles = Set("purchase", "signup"))
      ShardPack.materializeSequencesWithMask(stream, "dlg_id", "mask", seqLen = 16L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"))
    }),

    // --- scale: best-fit bin manifest — q150's layout folded to the
    // writer's view: one row per (shard, bin) with member doc ids in
    // FFD insertion order, fill, and the padding to append ----------------
    "q152_bestfit_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.bestFitBinManifest(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        "doc_id", seqLen = 96L)
        .select(col("shard"), col("bin"), col("n_docs"), col("fill"), col("pad"),
          array_join(col("doc_ids"), " ").as("doc_ids"))
    }),

    // --- scale: MATERIALIZED best-fit sequences — the post-training
    // tensor: whole docs' BPE token ids concatenated in FFD bin order,
    // right-padded with -1 to exactly 96 — layout denominated in the
    // SAME tokenizer's counts (drift between layout and stream sizes
    // fails loud in-plan) --------------------------------------------------
    "q153_bestfit_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val layout = ShardPack.packBestFit(
        Bpe.tokenCounts(docs, "doc_id", "text", merges),
        "doc_id", "n_tokens", seqLen = 96L, shardBudget = 2000L)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      ShardPack.materializeBestFit(stream, layout, "doc_id", seqLen = 96L)
        .select(col("shard"), col("bin"), col("n_docs"), col("fill"), col("pad_len"),
          array_join(col("token_ids"), " ").as("token_ids"))
    }),

    // --- scale: the padding-waste report — q150's layout folded to the
    // one-row economics frame a curation team reads before choosing
    // between the split (q143) and whole-doc (q150) layouts -----------------
    "q154_bestfit_waste" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.packBestFitStats(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        seqLen = 96L)
    }),

    // --- scale: SFT curation end-to-end — the fine-tuning mirror of
    // q115's pretrainCurate: drop invalid dialogues (q144/q148 policy),
    // drop dialogues leaking benchmark prompts (event_id % 997 slice,
    // whitespace 3-grams over the turn content), then the q151 masked-
    // sequence artifact over exactly the survivors (piece vocabulary
    // from surviving turns only) ------------------------------------------
    "q155_sft_curate" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val ev = t(s, dir, "events")
        .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      val holdout = ev.filter(col("event_id") % 997 === 0)
        .select(col("event_id"), col("content"))
      graft.scale.Dialogue.sftCurate(
        ev, "user_id", "ts", "event_id", "event_type", "content",
        holdout, merges, maskRoles = Set("purchase", "signup"),
        gapNanos = 1800000000000L, seqLen = 16L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"))
    }),

    // --- scale: the q155 stage report — dialogues in / dropped-invalid
    // / dropped-contaminated / kept: the fail-loud companion that makes
    // an EMPTY curation output legible (the 100× staging legitimately
    // contaminates 100% — the benchmark slice covers the whole prompt
    // space there) ---------------------------------------------------------
    "q156_sft_counters" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      val holdout = ev.filter(col("event_id") % 997 === 0)
        .select(col("event_id"), col("content"))
      graft.scale.Dialogue.sftCurateCounters(
        ev, "user_id", "ts", "event_id", "event_type", "content",
        holdout, gapNanos = 1800000000000L)
    }),

    // --- scale: oversize policy SPLIT-THEN-PACK — q150's reported
    // oversize queue consumed losslessly: each >96-token doc pre-splits
    // into 96-token chunks, chunks best-fit-pack into fresh shards
    // appended after the layout's last; placed rows pass through with
    // their (shard, bin) untouched ----------------------------------------
    "q158_oversize_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.splitOversize(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        "doc_id", seqLen = 96L, shardBudget = 2000L)
    }),

    // --- scale: oversize policy TRUNCATE — the lossy complement: each
    // oversize doc cut to exactly 96 tokens (one full bin alone, fresh
    // shards appended), the cut REPORTED per doc — truncation destroys
    // data and must say how much ------------------------------------------
    "q162_oversize_truncate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.truncateOversize(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        "doc_id", seqLen = 96L, shardBudget = 2000L)
    }),

    // --- scale: the GLOBAL WRITER MANIFEST — q150's bins numbered as a
    // contiguous global sequence index, streamed in order into ~4000-
    // token output files, composed with a 2-epoch q149 schedule: the
    // complete (epoch, shard, pos) -> (file, seq_id) loader contract ------
    "q159_writer_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.globalWriterManifest(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        fileBudget = 4000L, epochs = 2)
    }),

    // --- scale: PREFERENCE-PAIR assembly (the DPO/RLHF artifact) — the
    // graded response log is events viewed as (prompt = props,
    // candidate = event, signal = value): per prompt the highest-margin
    // (chosen, rejected) pair by (signal, id) order, gated PAIR-LEVEL:
    // dropped whole when either side comes from an invalid dialogue
    // (q144's verdict) or either side's content shares a whitespace
    // 3-gram with the benchmark slice (q155's holdout) -------------------
    "q157_pref_pairs" -> ((s, dir) =>
      graft.scale.Dialogue.gatedPreferencePairs(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")),

    // --- scale: the q157 stage report — pairs assembled / dropped
    // invalid-side / dropped leaky-valid / kept: the fail-loud
    // companion (q156's pattern for the preference chain) -----------------
    "q160_pref_counters" -> ((s, dir) =>
      graft.scale.Dialogue.preferencePairCounters(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")),

    // --- scale: MASKED preference sequences — both sides of every
    // surviving pair as trainer-ready 16-token sequences: each side a
    // two-turn dialogue (prompt text mask 0, response mask 1), encoded
    // with the doc-trained tokenizer, side_id = candidate·2 + side -------
    "q161_pref_sequences" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val pairs = graft.scale.Dialogue.gatedPreferencePairs(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")
      // prompt texts from a separate events scan, NOT from the pair
      // frame: deriving them from `pairs` self-joins the gate chain
      // (tail runs twice in one plan), and persisting the gated frame
      // to avoid that layers a third nested cache over the chain —
      // measured 12 s -> 25-44 s (the nested-cache plan-blowup class).
      // One extra column-pruned scan is the cheap side of that trade.
      val promptTexts = prefResponses(s, dir)
        .select(col("prompt")).distinct()
        .withColumn("prompt_text", col("prompt"))
      graft.scale.Dialogue.preferenceSequences(
        pairs, promptTexts, "prompt", "prompt_text", merges, seqLen = 16L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"))
    }),

    // --- scale: PADDED preference tensors — the DPO trainer artifact:
    // pair sides stay WHOLE (a split side is not a preference sample),
    // best-fit bin-packed into 64-token rows, token ids padded -1 and
    // mask padded 0; an oversize side fails the whole plan loud (a
    // silently dropped side corrupts its pair) -----------------------------
    "q163_pref_tensors" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val pairs = graft.scale.Dialogue.gatedPreferencePairs(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")
      // same separate-scan trade as q161 (see that registration)
      val promptTexts = prefResponses(s, dir)
        .select(col("prompt")).distinct()
        .withColumn("prompt_text", col("prompt"))
      graft.scale.Dialogue.preferenceTensors(
        pairs, promptTexts, "prompt", "prompt_text", merges,
        seqLen = 64L, shardBudget = 2000L)
        .select(col("shard"), col("bin"), col("n_docs"), col("fill"), col("pad_len"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"))
    }),

    // --- scale: GROUP-RELATIVE advantages (the GRPO data shape) — all
    // graded candidates per prompt, integer milli mean-centered; gates
    // applied CANDIDATE-level (groups re-normalize over survivors — the
    // designed contrast to q157's pair-level whole-drop) -------------------
    "q164_group_advantages" -> ((s, dir) =>
      graft.scale.Dialogue.gatedGroupAdvantages(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")),

    // --- scale: TURN-LEVEL (process-reward) advantages — the multi-turn
    // RL shape: trajectory = dialogue, group = the dialogue-opening
    // event's props (the prompt that started it), trajectory signal =
    // the integer-milli SUM of its events' values (quantize-then-sum:
    // a floating sum is partition-order-dependent); the group-relative
    // advantage attributes to turns under BOTH policies (uniform ±1
    // residue spread / last-turn), gated TRAJECTORY-level (q164's
    // candidate law: invalid or benchmark-leaking dialogues drop and
    // the group mean re-normalizes over survivors) ------------------------
    "q165_turn_advantages" -> ((s, dir) => {
      val turns = dialogueTurns(s, dir)
      val trajSignals = turns.groupBy(col("dlg_id")).agg(
        min(struct(col("ts").as("t"), col("event_id").as("i"),
          col("props").as("p"))).getField("p").as("prompt"),
        sum(floor(col("value") * 1000).cast("long")).as("signal_milli"))
      val invalid = turns.join(
        graft.scale.Dialogue.dialogueStats(
          t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
          gapNanos = 1800000000000L)
          .filter(!col("valid_dialogue"))
          .select(col("user_id"), col("session_seq")),
        Seq("user_id", "session_seq"), "left_semi")
        .select(col("dlg_id")).distinct()
      graft.scale.Dialogue.gatedTurnAdvantages(
        turns, trajSignals, invalid, prefHoldout(s, dir),
        "prompt", "dlg_id", "ts", "event_id", "event_type", "content",
        "signal_milli")
    }),

    // --- scale: BEST-OF-N (rejection-sampling) export — the
    // RFT/distillation artifact: top-2 gated candidates per prompt
    // (candidate-level gates, re-ranked over survivors — q164's law,
    // the designed contrast to q157's pair-level whole-drop), each
    // selected candidate emitted as a 2-turn masked SFT sample through
    // the q151 chain (prompt mask 0, response mask 1) --------------------
    "q166_bestofn_sequences" -> ((s, dir) =>
      bestOfNExport(s, dir,
        Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount))
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"))),

    // --- scale: the q166 stage report — gradeable candidates in,
    // dropped per gate, kept, selected (Σ min(k, survivors) over
    // prompts): q160's fail-loud-companion pattern for the
    // rejection-sampling chain --------------------------------------------
    "q170_bestofn_counters" -> ((s, dir) =>
      graft.scale.Dialogue.bestOfNCounters(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value", k = 2)),

    // --- scale: the GLOBAL WRITER MANIFEST over q163's preference-
    // tensor layout — q159's loader contract (contiguous seq_id,
    // ~4000-token files along the sequence order, 2-epoch permutation)
    // composed with the pair-SIDE (shard, bin) shape: the doc-layout
    // manifest generalizes to DPO tensor exports unchanged ----------------
    "q168_pref_tensor_manifest" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val pairs = graft.scale.Dialogue.gatedPreferencePairs(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")
      // the q161 separate-scan trade (see that registration)
      val promptTexts = prefResponses(s, dir)
        .select(col("prompt")).distinct()
        .withColumn("prompt_text", col("prompt"))
      graft.scale.Dialogue.preferenceTensorManifest(
        pairs, promptTexts, "prompt", "prompt_text", merges,
        seqLen = 64L, shardBudget = 2000L, fileBudget = 4000L, epochs = 2)
    }),

    // --- scale: MULTIMODAL image-text pair curation — joint dedup of
    // an (image, caption) corpus: the DISTINCT image space decodes ONCE
    // (the content-addressed-store shape — at 100 TB you dedup distinct
    // payloads, never per-row re-decodes) through the REAL q64 codecs
    // into stats embeddings, image near-dup pairs form via
    // cosineNearDupPairs over those embeddings, captions near-dup via
    // q107's MinHash-LSH, and a pair of rows is a duplicate edge only
    // when BOTH modalities agree (same image payload or embedding
    // near-dups, AND caption near-dup) — then priority-keep per
    // connected cluster (q107's survivor rule) -----------------------------
    "q167_multimodal_pair_dedup" -> ((s, dir) => {
      import s.implicits._
      // four distinct payloads spanning the compatibility lattice:
      // identity-only (corrupt), an embedding near-dup pair (jpg/png —
      // one picture, two containers), and a DECODABLE-BUT-DISSIMILAR
      // image (blue.ppm) that must never pair with the halfreds
      val names = Seq("corrupt.bin", "halfred.jpg", "halfred.png", "blue.ppm")
      val assets = Multimodal.readDir(s, fixturePath("data/fixtures/multimodal"))
        .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
        .filter(col("name").isin(names: _*))
        .withColumn("asset_id", abs(xxhash64(col("name"))))
      val feats = Multimodal.imageFeatures(assets.select(
          col("asset_id").as("assetId"), lit("image").as("modality"),
          col("content"), lit("").as("declaredFormat")).as[Multimodal.Asset])
        .toDF()
      val images = feats
        .join(assets.select(col("asset_id").as("assetId"), col("name")), Seq("assetId"))
        .select(col("name").as("img"), col("embedding"), col("ok"))
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("priority", expr("substring(source, 4)").cast("long"))
      val assign = docs.select(col("doc_id"),
        element_at(array(names.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int")).as("img"))
      Multimodal.imageTextPairDedup(
        docs, assign, images, "doc_id", "text", "priority", "img")
    }),

    // --- scale: the STD-NORMALIZED GRPO twin — q164's mean-centered
    // advantages plus the published (r − mean)/std normalization in
    // exact integers: variance around the integer milli mean via the
    // Σs² − 2mΣs + nm² expansion (decimal(38,0)), exact integer sqrt
    // (double seed ± 1 correction), advantage in milli-σ units; gates
    // candidate-level, zero-spread groups emit all-zero norms -------------
    "q169_group_advantages_std" -> ((s, dir) =>
      graft.scale.Dialogue.gatedGroupAdvantagesStd(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value")),

    // --- scale: UNPAIRED binary feedback (the KTO shape) — thumbs
    // up/down telemetry with per-prompt class-balance weights in exact
    // integers (minority class 1000, majority downweighted so the two
    // classes contribute equally); gates candidate-level (weights
    // re-balance over survivors); one-class prompts survive with the
    // other count reported 0 — the unpaired point ------------------------
    "q171_binary_feedback" -> ((s, dir) =>
      graft.scale.Dialogue.gatedBinaryFeedback(
        prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
        "prompt", "event_id", "content", "value", threshold = 35.0)),

    // --- scale: CURRICULUM SCHEDULE — the annealed data order: docs
    // rank globally by (token count, id) via range-sort + zipWithIndex
    // (the K1 pattern — no single-task window), split into 10
    // difficulty bands, epoch e of 4 admits the easiest
    // ceil((e+1)·10/4) bands (prefix-monotone, total at the end), a
    // fresh md5 permutation inside each band per epoch ---------------------
    "q172_curriculum_order" -> ((s, dir) =>
      ShardPack.curriculumOrder(
        t(s, dir, "documents")
          .select(col("doc_id"), TextStats.tokenCount(col("text")).as("difficulty")),
        "doc_id", "difficulty", epochs = 4, buckets = 10)),

    // --- scale: the GLOBAL WRITER MANIFEST over q166's best-of-n
    // export — q159's loader contract proven on the SPLIT-SPAN layout
    // (the q151/q166 materialization, where the bin IS the sequence):
    // contiguous seq_id in bin order, ~64-token files along the
    // sequence order, the 2-epoch permutation windowed per FILE ---------
    "q173_bestofn_manifest" -> ((s, dir) =>
      ShardPack.splitWriterManifest(
        bestOfNExport(s, dir,
          Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)),
        fileBudget = 64L, epochs = 2)),

    // --- scale: the PRM FRONT HALF — per-turn rewards reduced to
    // trajectory signals IN-ENGINE (quantize-then-sum: each reward
    // ⌊·1000⌋ first, then integer-summed — a floating reduction is
    // partition-order-dependent), composed with q165's turn-level
    // attribution; group = the dialogue-opening event's props ------------
    "q174_turn_advantages_rewards" -> ((s, dir) => {
      val turns = dialogueTurns(s, dir)
      val turnRewards = turns.join(dialoguePrompts(turns), Seq("dlg_id"))
        .select(col("prompt"), col("dlg_id"), col("value"))
      graft.scale.Dialogue.turnAdvantagesFromRewards(
        turns, turnRewards, "prompt", "dlg_id", "ts", "event_id",
        "event_type", "value")
    }),

    // --- scale: MULTIMODAL audio-text pair curation — q167's joint
    // two-modality lattice with the segment-RMS envelope embedding as
    // the audio gate: the halfloud.wav/halfloud.au pair is ONE clip in
    // two containers (embedding cosine 1 through the REAL JDK decode),
    // quiet.wav decodes fine but has a different envelope and must
    // never pair, corrupt.bin matches by content identity only ------------
    "q175_audio_pair_dedup" -> ((s, dir) => {
      import s.implicits._
      val names = Seq("corrupt.bin", "halfloud.wav", "halfloud.au", "quiet.wav")
      val assets = Multimodal.readDir(s, fixturePath("data/fixtures/multimodal"))
        .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
        .filter(col("name").isin(names: _*))
        .withColumn("asset_id", abs(xxhash64(col("name"))))
      val emb = Multimodal.audioStatsEmbedding(assets.select(
          col("asset_id").as("assetId"), lit("audio").as("modality"),
          col("content"), lit("").as("declaredFormat")).as[Multimodal.Asset])
        .toDF()
      val audio = emb
        .join(assets.select(col("asset_id").as("assetId"), col("name")), Seq("assetId"))
        .select(col("name").as("clip"), col("embedding"), col("ok"))
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("priority", expr("substring(source, 4)").cast("long"))
      val assign = docs.select(col("doc_id"),
        element_at(array(names.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int")).as("clip"))
      Multimodal.audioTextPairDedup(
        docs, assign, audio, "doc_id", "text", "priority", "clip")
    }),

    // --- scale: the PRM TRAINING ARTIFACT — q174's turn-level
    // advantages exported as per-token value targets: every token of a
    // surviving turn carries its turn's uniform credit share (and the
    // attribution mask), packed as multi-channel 16-token sequences
    // (token_ids + mask + value_milli in one row) -------------------------
    "q176_prm_sequences" -> ((s, dir) => {
      val turns = dialogueTurns(s, dir)
      val trajSignals = graft.scale.Dialogue.turnSignalReduce(
        turns.join(dialoguePrompts(turns), Seq("dlg_id"))
          .select(col("prompt"), col("dlg_id"), col("value")),
        "prompt", "dlg_id", "value")
      // merges train on documents exactly as the q151 family; the piece
      // vocab inside the encode builds from SURVIVING turns only (the
      // q155 survivor-vocab law — prmTokenStream semi-joins first)
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val stream = graft.scale.Dialogue.prmTokenStream(
        turns, trajSignals, "prompt", "dlg_id", "ts", "event_id",
        "event_type", "content", "signal_milli", merges)
      ShardPack.materializeSequencesWithChannels(
        stream, "dlg_id", Seq("mask", "value_milli"), seqLen = 16L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"),
          array_join(col("value_milli"), " ").as("value_milli"))
    }),

    // --- scale: the MANIFEST INTEGRITY CHECK (fsck for a training
    // export) — q173's manifest re-verified against its own export by
    // re-deriving the exact layout: size stats plus five violation
    // counters, all zero on the well-formed artifact; each corruption
    // class fires its own named counter (spec-pinned) ---------------------
    "q177_manifest_check" -> ((s, dir) => {
      // CUT: the export feeds the manifest derivation AND the check's
      // own expected-layout re-derivation
      val export = graft.ops.CacheScope.cut(
        bestOfNExport(s, dir,
          Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount))
          .select(col("bin"), col("n_tokens"), col("n_docs")))
      val manifest = ShardPack.splitWriterManifest(export, fileBudget = 64L, epochs = 2)
      ShardPack.checkSplitManifest(manifest, export, fileBudget = 64L)
    }),

    // --- scale: the BPE ROUND-TRIP — decode(encode(docs)) == the
    // canonical token text, for every doc with at least one word: the
    // end-to-end content-conservation gate over the whole tokenizer
    // (training can change segmentation, never content; the oracle is
    // the normalization DuckDB computes directly, no BPE replay) --------
    "q178_bpe_roundtrip" -> ((s, dir) => {
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      // the explicit two-frame form (encode + vocab scan the word space
      // twice) — q178 is the correctness gate, not the hot path; the
      // fused encodeIndexedIds remains the production encoder
      Bpe.decode(
        Bpe.encodeIndexedIds(docs, "doc_id", "text", merges),
        Bpe.pieceVocab(docs, "text", merges), "doc_id")
    }),

    // --- scale: the CURRICULUM RESUME — q172's loader contract gets
    // its missing half: everything strictly after an (epoch, bucket,
    // pos) cursor in the curriculum's lexicographic consumption order
    // (consumed ∪ resume == the schedule, disjoint — spec-pinned) --------
    "q179_curriculum_resume" -> ((s, dir) =>
      ShardPack.resumeAfterCurriculum(
        ShardPack.curriculumOrder(
          t(s, dir, "documents")
            .select(col("doc_id"), TextStats.tokenCount(col("text")).as("difficulty")),
          "doc_id", "difficulty", epochs = 4, buckets = 10),
        epochCursor = 1L, bucketCursor = 2L, posCursor = 100L)),

    // --- scale: the manifest fsck on the BEST-FIT (q159) layout —
    // checkSplitManifest's twin with the (shard, bin) identity and pos
    // checked within (epoch, shard), the best-fit permutation unit ------
    "q180_manifest_check_bestfit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      // CUT: the layout feeds the manifest AND the check's re-derivation
      val layout = graft.ops.CacheScope.cut(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L))
      val manifest = ShardPack.globalWriterManifest(layout, fileBudget = 4000L, epochs = 2)
      ShardPack.checkBestFitManifest(manifest, layout, fileBudget = 4000L)
    }),

    // --- scale: the MANIFEST QUARANTINE — the fsck made actionable:
    // q180's manifest put through a deterministic corruption battery
    // (a dropped epoch-1 slice, inflated fills, shifted pos, duplicated
    // rows), then every violating row emitted LABELED by class with the
    // generator-derived correction where one exists (missing rows come
    // back complete; pos drifts carry their e_pos). The check's
    // counters ARE this frame's per-label counts (law, by construction
    // + spec-pinned); a clean manifest quarantines nothing ------------------
    "q181_manifest_quarantine" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      val layout = graft.ops.CacheScope.cut(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L))
      val manifest = ShardPack.globalWriterManifest(layout, fileBudget = 4000L, epochs = 2)
      // the corruption battery, a pure function of the clean manifest:
      // drop (epoch 1, seq_id % 11 == 0) → missing (+ pos_violation in
      // their files' groups); inflate fill on (0, % 17 == 2) →
      // layout_mismatch; shift pos on (1, % 19 == 3) → pos_mismatch
      // (+ pos_violation); re-union the UNCORRUPTED (0, % 13 == 1)
      // rows → duplicate_key
      val corrupted = manifest
        .filter(!(col("epoch") === 1L && col("seq_id") % 11L === 0L))
        .withColumn("fill",
          when(col("epoch") === 0L && col("seq_id") % 17L === 2L,
            col("fill") + 5L).otherwise(col("fill")))
        .withColumn("pos",
          when(col("epoch") === 1L && col("seq_id") % 19L === 3L,
            col("pos") + 1000L).otherwise(col("pos")))
        .unionByName(manifest.filter(
          col("epoch") === 0L && col("seq_id") % 13L === 1L))
      ShardPack.quarantineBestFitManifest(corrupted, layout, fileBudget = 4000L)
    }),

    // --- scale: INTERLEAVED MULTIMODAL sequence packing — the
    // multimodal-pretraining loader contract: docs with an assigned
    // payload get a placeholder token (−2) at position 0 and the
    // payload KEY rides a parallel long channel through the q176
    // multi-channel materializer; unassigned docs pass through; each
    // sequence row counts both modalities (text tokens vs
    // placeholders) — the manifest a loader needs to prefetch payloads
    // per sequence. Assignment: docs with doc_id % 3 != 0 reference
    // payload key doc_id % 4 + 1 ---------------------------------------------
    "q182_interleaved_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      val assign = docs.filter(col("doc_id") % 3L =!= 0L)
        .select(col("doc_id"), (col("doc_id") % 4L + 1L).as("img_key"))
      val inter = Multimodal.interleavedTokenStream(
        stream, assign, "doc_id", "img_key")
      ShardPack.materializeSequencesWithChannels(
        inter, "doc_id", Seq("payload_key"), seqLen = 16L)
        .withColumn("n_placeholders",
          expr("size(filter(token_ids, t -> t = -2))").cast("long"))
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          col("n_placeholders"),
          (col("n_tokens") - col("n_placeholders")).as("n_text_tokens"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("payload_key"), " ").as("payload_key"))
    }),

    // --- scale: γ-DISCOUNTED RETURN-TO-GO — q174's reduction refined
    // per turn: each turn's value target is its reward plus the
    // 0.9-discounted return of everything after it, EXACT integer
    // quantize-then-Horner (trunc toward zero at every step — the
    // residue law a float pipeline breaks); γ=1 degenerates to q174's
    // sum (law, spec-pinned) ------------------------------------------------
    "q183_returns_to_go" -> ((s, dir) => {
      val turns = dialogueTurns(s, dir)
      val turnRewards = turns.join(dialoguePrompts(turns), Seq("dlg_id"))
        .select(col("prompt"), col("dlg_id"), col("ts"), col("event_id"),
          col("value"))
      graft.scale.Dialogue.turnReturnsToGo(
        turnRewards, "prompt", "dlg_id", "ts", "event_id", "value",
        gammaPpm = 900000L)
    }),

    // --- scale: ATTENTION-SEGMENT BOUNDARIES (cu_seqlens) — the
    // varlen-attention contract over the q151-family packing: the doc
    // id rides a channel through the materializer and each sequence
    // emits its cumulative segment offsets [0, …, n_tokens] (the
    // block-diagonal mask spec for a no-cross-doc-attention trainer);
    // segments == docs per bin (contiguous spans — law) ---------------------
    "q184_attention_segments" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
        .withColumn("doc", col("doc_id"))
      val packed = ShardPack.materializeSequencesWithChannels(
        stream, "doc_id", Seq("doc"), seqLen = 64L)
      ShardPack.sequenceBoundaries(packed, "doc")
        .select(col("bin"), col("n_tokens"), col("n_docs"),
          col("n_doc_starts"), col("n_segments"),
          array_join(col("cu_seqlens"), " ").as("cu_seqlens"),
          array_join(col("token_ids"), " ").as("token_ids"))
    }),

    // --- scale: cu_seqlens for the WHOLE-DOC (post-training) layout —
    // q184's twin over q150's FFD bins: segment offsets in insertion
    // order (== materializeBestFit's doc_off values) plus the padding
    // suffix a fixed-width trainer masks ------------------------------------
    "q185_bestfit_segments" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      ShardPack.bestFitSegments(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L),
        "doc_id", seqLen = 96L)
        .select(col("shard"), col("bin"), col("n_docs"), col("n_segments"),
          col("fill"), col("pad"),
          array_join(col("cu_seqlens"), " ").as("cu_seqlens"))
    }),

    // --- scale: MANIFEST REPAIR (split layout) — the detect→label→
    // CORRECT loop closed: a split writer manifest through a corruption
    // battery (a whole lost epoch, dropped rows, an inflated fill,
    // shifted pos, duplicates, a foreign seq_id), quarantined, then the
    // quarantine's own e_*/e_pos corrections spliced back. The repaired
    // manifest IS the generator's run for the epochs named (law — the
    // oracle re-derives exactly that frame, battery-free); re-running
    // the quarantine on it finds nothing (idempotence, spec-pinned) ------
    "q186_manifest_repair" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      // the split export's bin rollup: packSequences' pieces per bin
      // (CUT: feeds the manifest generator AND the quarantine's own
      // expected-layout re-derivation)
      val seqs = graft.ops.CacheScope.cut(
        ShardPack.packSequences(docs, "doc_id", "n_tok", seqLen = 64L)
          .groupBy(col("bin"))
          .agg(sum(col("piece_len")).as("n_tokens"),
            count(lit(1)).as("n_docs")))
      val manifest = ShardPack.splitWriterManifest(seqs, fileBudget = 4000L,
        epochs = 3)
      // CUT: the corrupted manifest feeds the quarantine AND the repair
      val corrupted = graft.ops.CacheScope.cut(manifest
        .filter(col("epoch") =!= 1L)
        .filter(!(col("epoch") === 2L && col("seq_id") % 11L === 0L))
        .withColumn("fill",
          when(col("epoch") === 0L && col("seq_id") % 17L === 2L,
            col("fill") + 5L).otherwise(col("fill")))
        .withColumn("pos",
          when(col("epoch") === 2L && col("seq_id") % 19L === 3L,
            col("pos") + 1000L).otherwise(col("pos")))
        .unionByName(manifest.filter(
          col("epoch") === 0L && col("seq_id") % 13L === 1L))
        .unionByName(manifest.filter(
          col("epoch") === 0L && col("seq_id") % 23L === 4L)
          .withColumn("seq_id", col("seq_id") + 100000L)))
      ShardPack.repairSplitManifest(corrupted,
        ShardPack.quarantineSplitManifest(corrupted, seqs, fileBudget = 4000L))
    }),

    // --- scale: MANIFEST REPAIR (best-fit layout) — q186's twin over
    // q180/q181's whole-doc FFD manifest: the same battery classes
    // (incl. a whole lost epoch the gap refill regenerates), repaired
    // back to exactly the generator's 3-epoch run ---------------------------
    "q187_manifest_repair_bestfit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tok"))
      val layout = graft.ops.CacheScope.cut(
        ShardPack.packBestFit(docs, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L))
      val manifest = ShardPack.globalWriterManifest(layout, fileBudget = 4000L,
        epochs = 3)
      val corrupted = graft.ops.CacheScope.cut(manifest
        .filter(col("epoch") =!= 1L)
        .filter(!(col("epoch") === 2L && col("seq_id") % 11L === 0L))
        .withColumn("fill",
          when(col("epoch") === 0L && col("seq_id") % 17L === 2L,
            col("fill") + 5L).otherwise(col("fill")))
        .withColumn("pos",
          when(col("epoch") === 2L && col("seq_id") % 19L === 3L,
            col("pos") + 1000L).otherwise(col("pos")))
        .unionByName(manifest.filter(
          col("epoch") === 0L && col("seq_id") % 13L === 1L)))
      ShardPack.repairBestFitManifest(corrupted,
        ShardPack.quarantineBestFitManifest(corrupted, layout,
          fileBudget = 4000L))
    }),

    // --- scale: the INTERLEAVED MULTIMODAL POST-TRAINING export —
    // q182's channel stream composed onto the WHOLE-DOC (q150) layout:
    // no cross-doc attention AND payload placeholders in one artifact.
    // Each assigned doc's key rides its placeholder at the doc's
    // segment start (the q185 law, spec-pinned), and the pad suffix
    // keeps each channel's own sentinel (keys pad −1, the no-payload
    // sentinel; tokens pad the padId) ---------------------------------------
    "q188_interleaved_bestfit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      val assign = docs.filter(col("doc_id") % 3L =!= 0L)
        .select(col("doc_id"), (col("doc_id") % 4L + 1L).as("img_key"))
      // CUT: the interleaved stream feeds the per-doc length agg (the
      // layout's input) AND the materializer's token join
      val inter = graft.ops.CacheScope.cut(Multimodal.interleavedTokenStream(
        stream, assign, "doc_id", "img_key"))
      val lens = inter.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val layout = ShardPack.packBestFit(lens, "doc_id", "n_tok",
        seqLen = 96L, shardBudget = 2000L)
      ShardPack.materializeBestFitWithChannels(inter, layout, "doc_id",
        Seq(("payload_key", -1L)), seqLen = 96L, padId = -1L)
        .withColumn("n_placeholders",
          expr("size(filter(token_ids, t -> t = -2))").cast("long"))
        .select(col("shard"), col("bin"), col("n_docs"), col("fill"),
          col("pad_len"), col("n_placeholders"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("payload_key"), " ").as("payload_key"))
    }),

    // --- scale: PRM sequences with RETURNS-TO-GO value targets —
    // q176's export shape with q183's per-turn discounted return
    // substituted for the advantage share in the value channel (every
    // token of a turn regresses on THAT TURN's R_t — the value-function
    // target; one substitution in the shared prm token core, the
    // structural row law spec-pinned) ---------------------------------------
    "q189_prm_rtg_sequences" -> ((s, dir) => {
      val turns = dialogueTurns(s, dir)
      val turnRewards = turns.join(dialoguePrompts(turns), Seq("dlg_id"))
        .select(col("prompt"), col("dlg_id"), col("ts"), col("event_id"),
          col("value"))
      val merges = Bpe.trainMergesFast(t(s, dir, "documents"), "text", BpeMergeCount)
      val stream = graft.scale.Dialogue.prmReturnsTokenStream(
        turns, turnRewards, "prompt", "dlg_id", "ts", "event_id",
        "event_type", "content", "value", gammaPpm = 900000L, merges)
      ShardPack.materializeSequencesWithChannels(
        stream, "dlg_id", Seq("mask", "value_milli"), seqLen = 16L)
        .select(col("bin"), col("n_tokens"), col("n_docs"), col("n_doc_starts"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("mask"), "").as("mask"),
          array_join(col("value_milli"), " ").as("value_milli"))
    }),

    // --- scale: the CURRICULUM QUARANTINE — the manifest fsck algebra
    // (q181) on the THIRD loader contract, q172's schedule: a
    // deterministic battery (a whole lost epoch — which surfaces as
    // named missing rows, the caller-known epoch domain has no gap
    // blind spot —, dropped rows, a corrupted band, a nulled
    // difficulty, shifted pos, duplicates, a foreign doc id), then one
    // labeled row per violation with the generator-derived correction ----
    "q190_curriculum_quarantine" -> ((s, dir) => {
      val docs = graft.ops.CacheScope.cut(t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("difficulty")))
      // CUT + reuse (r21): the generator frame feeds the battery (3
      // references) AND the quarantine's expected side — the old form
      // re-ran the EAGER curriculumOrder (global rank + 4 epochs of
      // two-phase offset passes) a second time inside the quarantine
      val schedule = graft.ops.CacheScope.cut(
        ShardPack.curriculumOrder(docs, "doc_id", "difficulty",
          epochs = 4, buckets = 10))
      val corrupted = curriculumBattery(schedule)
      ShardPack.quarantineCurriculumAgainst(corrupted, schedule,
        "doc_id", "difficulty")
    }),

    // --- scale: CURRICULUM REPAIR — q190's quarantine spliced back
    // (the q186 discipline): duplicates re-drop by the shared keep
    // rule, band/difficulty/pos overwrite from e_*, foreign rows drop,
    // missing rows (the whole lost epoch included) union in verbatim.
    // The oracle is the GENERATOR's own schedule — the extensional law --
    "q191_curriculum_repair" -> ((s, dir) => {
      val docs = graft.ops.CacheScope.cut(t(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("difficulty")))
      // CUT + reuse (r21): one generator run feeds the battery and the
      // embedded quarantine's expected side (see q190)
      val schedule = graft.ops.CacheScope.cut(
        ShardPack.curriculumOrder(docs, "doc_id", "difficulty",
          epochs = 4, buckets = 10))
      val corrupted = graft.ops.CacheScope.cut(curriculumBattery(schedule))
      ShardPack.repairCurriculum(corrupted,
        ShardPack.quarantineCurriculumAgainst(corrupted, schedule,
          "doc_id", "difficulty"),
        "doc_id", "difficulty")
    }),

    // --- scale: the COMPLETE MULTIMODAL SFT ARTIFACT — q188's export
    // with the remaining two trainer channels in the SAME row: the
    // loss mask (placeholders and pad never train — mask 0; text
    // trains — mask 1; each channel pads its OWN sentinel) and the
    // cu_seqlens attention segments (q185's layout-derived boundaries:
    // no cross-doc attention, placeholders at segment starts). One row
    // per (shard, bin) = tokens + mask + payload keys + segments —
    // everything a multimodal SFT loader mmaps -------------------------------
    "q192_multimodal_sft" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val merges = Bpe.trainMergesFast(docs, "text", BpeMergeCount)
      val stream = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      val assign = docs.filter(col("doc_id") % 3L =!= 0L)
        .select(col("doc_id"), (col("doc_id") % 4L + 1L).as("img_key"))
      val inter = graft.ops.CacheScope.cut(
        Multimodal.interleavedTokenStream(stream, assign, "doc_id", "img_key")
          .withColumn("m",
            when(col("token_id") === -2L, 0L).otherwise(1L)))
      val lens = inter.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      // CUT: the layout feeds the channel materializer AND the
      // segment derivation
      val layout = graft.ops.CacheScope.cut(
        ShardPack.packBestFit(lens, "doc_id", "n_tok",
          seqLen = 96L, shardBudget = 2000L))
      ShardPack.materializeBestFitWithChannels(inter, layout, "doc_id",
        Seq(("payload_key", -1L), ("m", 0L)), seqLen = 96L, padId = -1L)
        .join(ShardPack.bestFitSegments(layout, "doc_id", seqLen = 96L)
          .select(col("shard"), col("bin"), col("n_segments"),
            col("cu_seqlens")),
          Seq("shard", "bin"))
        .select(col("shard"), col("bin"), col("n_docs"), col("fill"),
          col("pad_len"), col("n_segments"),
          array_join(col("token_ids"), " ").as("token_ids"),
          array_join(col("payload_key"), " ").as("payload_key"),
          array_join(col("m"), "").as("mask"),
          array_join(col("cu_seqlens"), " ").as("cu_seqlens"))
    })
  )

  /** The q190/q191 deterministic corruption battery over a q172
    * schedule — ONE definition so the quarantine and repair queries
    * (and their oracles' `cor` CTE) cannot drift: a whole lost epoch,
    * dropped rows, a corrupted band, a nulled difficulty, shifted pos,
    * re-unioned duplicates, a foreign doc id.
    */
  private def curriculumBattery(schedule: DataFrame): DataFrame =
    schedule
      .filter(col("epoch") =!= 1L)
      .filter(!(col("epoch") === 2L && col("doc_id") % 11L === 0L))
      .withColumn("bucket",
        when(col("epoch") === 0L && col("doc_id") % 17L === 2L,
          col("bucket") + 3L).otherwise(col("bucket")))
      .withColumn("difficulty",
        when(col("epoch") === 3L && col("doc_id") % 13L === 5L,
          lit(null).cast("long")).otherwise(col("difficulty")))
      .withColumn("pos",
        when(col("epoch") === 2L && col("doc_id") % 19L === 3L,
          col("pos") + 1000L).otherwise(col("pos")))
      .unionByName(schedule.filter(
        col("epoch") === 0L && col("doc_id") % 13L === 1L))
      .unionByName(schedule.filter(
        col("epoch") === 0L && col("doc_id") % 23L === 4L)
        .withColumn("doc_id", col("doc_id") + 100000000L))

  /** The q157/q160/q161 response-log view of events: prompt = props
    * (the shared prompt key), candidate = the event, content = the
    * q155 turn content, signal = the event's value.
    */
  private def prefResponses(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      .select(col("props").as("prompt"), col("event_id"), col("content"),
        col("value"))

  /** The shared multi-turn trajectory view of events (q165/q174/q176):
    * sessionized turns with the fail-loud dlg_id packing and the q155
    * turn content. LINEAGE-CUT — the turn frame fans out in every
    * consumer (the r17 rule); one definition so a packing-guard or
    * prompt-derivation fix cannot silently diverge between the paired
    * queries and their shared oracle CTEs.
    */
  private def dialogueTurns(s: SparkSession, dir: String): DataFrame = {
    val gap = 1800000000000L
    val span = 100000L
    val ev = t(s, dir, "events")
      .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
    graft.ops.CacheScope.cut(graft.scale.Dialogue
      .sessionize(ev, "user_id", "ts", "event_id", gap)
      .withColumn("dlg_id",
        coalesce(
          assert_true(col("session_seq") < span &&
            col("user_id").between(0L, Long.MaxValue / span - 1),
            lit("dialogueTurns: dlg_id packing out of range")).cast("long"),
          lit(0L)) + col("user_id") * span + col("session_seq")))
  }

  /** First-event props per dialogue — the trajectory's prompt key. */
  private def dialoguePrompts(turns: DataFrame): DataFrame =
    turns.groupBy(col("dlg_id")).agg(
      min(struct(col("ts").as("t"), col("event_id").as("i"),
        col("props").as("p"))).getField("p").as("prompt"))

  /** The q166 gated best-of-n masked-sequence export, shared by
    * q166/q173/q177 (one definition for the same reason as
    * [[dialogueTurns]]).
    */
  private def bestOfNExport(
      s: SparkSession, dir: String, merges: Seq[Bpe.Merge]): DataFrame = {
    val selected = graft.scale.Dialogue.gatedBestOfN(
      prefResponses(s, dir), prefInvalidCands(s, dir), prefHoldout(s, dir),
      "prompt", "event_id", "content", "value", k = 2)
    // the q161 separate-scan trade (see that registration)
    val promptTexts = prefResponses(s, dir)
      .select(col("prompt")).distinct()
      .withColumn("prompt_text", col("prompt"))
    graft.scale.Dialogue.bestOfNSequences(
      selected, promptTexts, "prompt", "prompt_text", "event_id", "content",
      merges, seqLen = 16L)
  }

  /** Candidates disqualified by dialogue validity: event ids of q144's
    * invalid dialogues (any alternation violation).
    */
  private def prefInvalidCands(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.scale.Dialogue.sessionize(
        ev, "user_id", "ts", "event_id", gapNanos = 1800000000000L)
      .join(
        graft.scale.Dialogue.dialogueStats(
          ev, "user_id", "ts", "event_id", "event_type",
          gapNanos = 1800000000000L)
          .filter(!col("valid_dialogue"))
          .select(col("user_id"), col("session_seq")),
        Seq("user_id", "session_seq"), "left_semi")
      .select(col("event_id"))
  }

  /** q155's benchmark slice in the decontaminate column convention of
    * the preference chain (candCol = event_id, contentCol = content).
    */
  private def prefHoldout(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
      .filter(col("event_id") % 997 === 0)
      .select(col("event_id"), col("content"))

  /** q124/q125 merge count — enough steps that multi-character pieces
    * ("er_"-style learned subwords) appear in the piece histogram; the
    * oracle unrolls one CTE stage per merge.
    */
  private val BpeMergeCount = 8

  /** DuckDB twin of [[graft.scale.Sampling.millilog2]]: `1000 *
    * floor(log2 e)` via binary-string length plus the shifted-mantissa
    * interpolation — exact integers, so DSIR scores hash-compare.
    */
  private def ml2Sql(e: String): String =
    s"(1000 * (length(bin($e)) - 1) + ((($e) * 1000) >> (length(bin($e)) - 1)) - 1000)"

  /** q133/q134 oracle: the DSIR chain (md5 buckets → smoothed counts →
    * milli-log2 llr model → per-doc scores + smoothing constant), then
    * top-k by score (q133) or score + seeded Gumbel noise (q134).
    */
  private def dsirSelectSql(gumbel: Boolean): String = {
    val uPpm =
      "('0x' || substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 + 1"
    val selExpr =
      if (gumbel)
        s"CAST(score_milli + (${ml2Sql("1000")} - ${ml2Sql("gneg")}) AS BIGINT)"
      else "score_milli"
    val gnegCol =
      if (gumbel) s",\n    greatest(${ml2Sql("1000000")} - ${ml2Sql(uPpm)}, 1) AS gneg"
      else ""
    s"""WITH raw AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
       |tgt AS (SELECT text FROM documents WHERE lang = 'en'),
       |rocc AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
       |  FROM raw, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)),
       |tocc AS (
       |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
       |  FROM tgt, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)),
       |qc AS (SELECT b, count(*) AS q FROM rocc GROUP BY 1),
       |pc AS (SELECT b, count(*) AS p FROM tocc GROUP BY 1),
       |cnt AS (
       |  SELECT qc.b, qc.q + 1 AS q1, coalesce(pc.p, 0) + 1 AS p1
       |  FROM qc LEFT JOIN pc USING (b)),
       |model AS (SELECT b, ${ml2Sql("p1")} - ${ml2Sql("q1")} AS llr FROM cnt),
       |tot AS (SELECT
       |  (SELECT coalesce(sum(q), 0) FROM qc) + 4096 AS qs,
       |  (SELECT coalesce(sum(p), 0) FROM pc) + 4096 AS ps),
       |kk AS (SELECT ${ml2Sql("qs")} - ${ml2Sql("ps")} AS k FROM tot),
       |sc AS (
       |  SELECT rocc.doc_id, count(*) AS n_tokens, sum(model.llr) AS s
       |  FROM rocc JOIN model USING (b) GROUP BY 1),
       |scored AS (
       |  SELECT sc.doc_id, CAST(sc.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(sc.s + sc.n_tokens * kk.k AS BIGINT) AS score_milli$gnegCol
       |  FROM sc, kk)
       |SELECT doc_id, n_tokens, score_milli, $selExpr AS sel_milli
       |FROM scored
       |ORDER BY sel_milli DESC, doc_id LIMIT 200""".stripMargin
  }

  /** q136/q139 oracle: [[graft.scale.Sampling.domainDriftContributors]]'
    * integer chain — md5 feature buckets for the target (`pPred`) and
    * reference (`qPred`) corpora, full-joined smoothed counts,
    * milli-log2 llr, HUGEINT cross-multiplied signed KL contribution
    * in micro-log2, |contrib| top-20.
    */
  private def driftSql(pPred: String, qPred: String): String =
    s"""WITH pocc AS (
       |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
       |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
       |  WHERE $pPred),
       |qocc AS (
       |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096 AS b
       |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
       |  WHERE $qPred),
       |pcc AS (SELECT b, count(*) AS p FROM pocc GROUP BY 1),
       |qcc AS (SELECT b, count(*) AS q FROM qocc GROUP BY 1),
       |${driftTailSql("4096", "ORDER BY abs(contrib_micro) DESC, b LIMIT 20")}""".stripMargin

  /** The drift decomposition's shared SQL tail over `pcc(b, p)` /
    * `qcc(b, q)` CTEs — [[graft.scale.Sampling.driftFromBucketCounts]]'
    * twin; `smooth` is the feature-space size expression (a literal
    * for the fixed hash space, a scalar subquery for quantizer cells).
    */
  private def driftTailSql(smooth: String, finalClause: String): String =
    s"""j AS (
       |  SELECT coalesce(pcc.b, qcc.b) AS b,
       |    CAST(coalesce(pcc.p, 0) AS BIGINT) AS p_cnt,
       |    CAST(coalesce(qcc.q, 0) AS BIGINT) AS q_cnt
       |  FROM pcc FULL JOIN qcc ON pcc.b = qcc.b),
       |tot AS (
       |  SELECT CAST((SELECT coalesce(sum(p_cnt), 0) FROM j) + ($smooth) AS BIGINT) AS ps,
       |         CAST((SELECT coalesce(sum(q_cnt), 0) FROM j) + ($smooth) AS BIGINT) AS qs),
       |llr AS (
       |  SELECT b, p_cnt, q_cnt, ps,
       |    CAST((${ml2Sql("p_cnt + 1")} - ${ml2Sql("ps")}) -
       |         (${ml2Sql("q_cnt + 1")} - ${ml2Sql("qs")}) AS BIGINT) AS llr_milli
       |  FROM j, tot),
       |contrib AS (
       |  SELECT b, p_cnt, q_cnt, llr_milli,
       |    CAST((CASE WHEN llr_milli > 0 THEN 1 WHEN llr_milli < 0 THEN -1 ELSE 0 END) *
       |      (((p_cnt::HUGEINT + 1) * abs(llr_milli)::HUGEINT * 1000) // ps::HUGEINT)
       |      AS BIGINT) AS contrib_micro
       |  FROM llr)
       |SELECT b, p_cnt, q_cnt, llr_milli, contrib_micro
       |FROM contrib
       |$finalClause""".stripMargin

  /** q137/q138 shared oracle head: q103's bigram model folded to the
    * per-lang milli-log2 loss frame `loss(lang, loss_milli)`.
    */
  private def langLossSql: String =
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
       |m AS (
       |  SELECT cb.w1, cb.w2, CAST((1000 * c1.c1) // cb.cb AS BIGINT) AS surp
       |  FROM cb JOIN c1 USING (w1)),
       |perdoc AS (
       |  SELECT bi.doc_id, CAST(sum(m.surp) AS BIGINT) AS total_surp,
       |    count(*) AS n_bigrams
       |  FROM bi JOIN m USING (w1, w2) GROUP BY 1),
       |lsur AS (
       |  SELECT d.lang, CAST(sum(p.total_surp) // sum(p.n_bigrams) AS BIGINT) AS surp
       |  FROM documents d JOIN perdoc p USING (doc_id) GROUP BY 1),
       |loss AS (SELECT lang, CAST(${ml2Sql("surp")} AS BIGINT) AS loss_milli FROM lsur)""".stripMargin

  /** q135/q137/q138 oracle tail: the closed-form water-filling chain
    * over a preceding `dom(lang, tokens, weight)` CTE — cap/weight-
    * ordered window prefix sums, HUGEINT cross-multiplied saturation
    * predicate, prefix-forced sat flag, floor-div proportional
    * remainder ([[graft.scale.Sampling.tokenBudgetAllocate]]'s exact
    * SQL twin). Emits CTEs `base..alloc`; callers append their final
    * SELECT over `alloc(lang, tokens, weight, cap, alloc)`.
    */
  private def waterFillSql(budget: Long, maxEpochsMilli: Long, pf: String = ""): String =
    s"""${pf}base0 AS (
       |  SELECT lang, tokens, weight, tokens * $maxEpochsMilli // 1000 AS cap
       |  FROM ${pf}dom),
       |${pf}base AS (
       |  SELECT b.lang, b.tokens, b.weight, b.cap,
       |    (SELECT count(*) FROM ${pf}base0 b2
       |     WHERE b2.cap::HUGEINT * b.weight::HUGEINT < b.cap::HUGEINT * b2.weight::HUGEINT
       |        OR (b2.cap::HUGEINT * b.weight::HUGEINT = b.cap::HUGEINT * b2.weight::HUGEINT
       |            AND b2.lang < b.lang)) AS ord
       |  FROM ${pf}base0 b),
       |${pf}win AS (
       |  SELECT lang, tokens, weight, cap, ord,
       |    coalesce(sum(cap) OVER (ORDER BY ord, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cap_pre,
       |    sum(weight) OVER () - coalesce(sum(weight) OVER (ORDER BY ord, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS w_rem
       |  FROM ${pf}base),
       |${pf}satw AS (
       |  SELECT *, (cap::HUGEINT * w_rem::HUGEINT) <=
       |    (($budget::HUGEINT - cap_pre::HUGEINT) * weight::HUGEINT) AS sat_raw
       |  FROM ${pf}win),
       |${pf}satp AS (
       |  SELECT *, min(CAST(sat_raw AS INT)) OVER (ORDER BY ord, lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS sat
       |  FROM ${pf}satw),
       |${pf}tots AS (
       |  SELECT *, coalesce(sum(CASE WHEN sat THEN cap END) OVER (), 0) AS sat_cap,
       |    coalesce(sum(CASE WHEN NOT sat THEN weight END) OVER (), 0) AS w_unsat
       |  FROM ${pf}satp),
       |${pf}alloc AS (
       |  SELECT lang, tokens, weight, cap,
       |    CAST(CASE WHEN sat THEN cap
       |      ELSE (($budget::HUGEINT - sat_cap::HUGEINT) * weight::HUGEINT) // w_unsat::HUGEINT
       |      END AS BIGINT) AS alloc
       |  FROM ${pf}tots)""".stripMargin

  /** DuckDB CTE chain learning `n` BPE merges: `words`/`w0` build the
    * double-space symbol strings ([[graft.scale.Bpe]]'s representation,
    * chosen so one engine-portable `replace` IS the greedy left-to-right
    * merge), then per merge step i: `p_i` adjacent-pair counts from
    * `w_{i-1}`, `b_i` the (count desc, pair asc) argmax, `w_i` the
    * merged symbols. Assumes >= n merges are learnable from the corpus
    * (true whenever the vocabulary is not fully fused — the Spark side
    * early-stops, the oracle would NULL-corrupt; the fixture corpora are
    * nowhere near fusion at n=8).
    */
  private def bpeStagesSql(n: Int, pf: String = "", where: String = ""): String = {
    val pred = if (where.isEmpty) "" else s" WHERE $where"
    val sb = new StringBuilder
    sb ++= s"""WITH ${pf}words AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |    FROM documents$pred) t
      |  GROUP BY w),
      |${pf}w0 AS MATERIALIZED (SELECT w, cnt,
      |  ' ' || rtrim(regexp_replace(w || '_', '(.)', '\\1  ', 'g')) || ' ' AS sym
      |  FROM ${pf}words)""".stripMargin
    for (i <- 1 to n) {
      sb ++= s""",
        |${pf}p$i AS MATERIALIZED (
        |  SELECT t[i] AS l, t[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM (SELECT cnt, string_split(trim(sym), '  ') AS t FROM ${pf}w${i - 1}) z,
        |       unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2
        |  GROUP BY 1, 2),
        |${pf}b$i AS MATERIALIZED (SELECT l, r, c FROM ${pf}p$i ORDER BY c DESC, l, r LIMIT 1),
        |${pf}w$i AS MATERIALIZED (SELECT w, cnt, replace(sym,
        |   ' ' || (SELECT l FROM ${pf}b$i) || '  ' || (SELECT r FROM ${pf}b$i) || ' ',
        |   ' ' || (SELECT l FROM ${pf}b$i) || (SELECT r FROM ${pf}b$i) || ' ') AS sym
        |  FROM ${pf}w${i - 1})""".stripMargin
    }
    sb.toString
  }

  /** The DOCUMENTS token-stream oracle CTEs shared by q146/q182/q184
    * (r19 dedup — a tokenizer-stream law change edits ONE place): `wp`
    * (word → pieces from the unprefixed merge tables), `vocab` (dense
    * lexicographic piece ids), `dw`/`ws` (per-doc word offsets),
    * `stream` (doc_id, tok_idx, piece). Needs [[bpeStagesSql]] in
    * scope. NO leading/trailing comma.
    */
  private lazy val docTokenStreamCtes: String =
    s"""wp AS (SELECT w, string_split(trim(sym), '  ') AS pieces FROM w$BpeMergeCount),
      |vocab AS (
      |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
      |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp)),
      |dw AS (
      |  SELECT doc_id, i AS wi, t[i] AS w
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |        FROM documents) z,
      |       unnest(generate_series(1, len(t))) AS u(i)),
      |ws AS (
      |  SELECT dw.doc_id, dw.wi, wp.pieces,
      |    CAST(coalesce(sum(len(wp.pieces)) OVER (PARTITION BY dw.doc_id
      |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS word_start
      |  FROM dw JOIN wp ON dw.w = wp.w),
      |stream AS (
      |  SELECT doc_id, word_start + pi - 1 AS tok_idx, pieces[pi] AS piece
      |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi))""".stripMargin

  /** The 2-turn SIDE-STREAM oracle CTEs parameterized by the sides
    * query (one row per sample: side_id, prompt, rcontent): each side
    * as a prompt turn (mask 0) + response turn (mask 1), q151's
    * indexed-piece mechanics over the turn contents, ending in
    * `stream` = (side_id, tok_idx, token_id, mask). Needs the
    * [[bpeStagesSql]] merge tables in scope. NO leading/trailing
    * comma. Shared by the preference sides (q161/q163) and the
    * best-of-n samples (q166).
    */
  private def sideStreamCtes(sidesSql: String): String =
    s"""sides AS MATERIALIZED (
      |  $sidesSql),
      |turns AS MATERIALIZED (
      |  SELECT side_id, 0 AS t, side_id * 2 AS tid, CAST(0 AS BIGINT) AS mask,
      |    prompt AS content
      |  FROM sides
      |  UNION ALL
      |  SELECT side_id, 1, side_id * 2 + 1, CAST(1 AS BIGINT), rcontent
      |  FROM sides),
      |${bpeApplySql(BpeMergeCount,
      "SELECT DISTINCT unnest(regexp_extract_all(lower(content), " +
        "'[a-z0-9]+')) AS w FROM turns")},
      |wp2 AS (
      |  SELECT w, string_split(trim(sym), '  ') AS pieces FROM ew$BpeMergeCount),
      |vocab AS (
      |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
      |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp2)),
      |dw AS (
      |  SELECT tid, i AS wi, t[i] AS w
      |  FROM (SELECT tid, regexp_extract_all(lower(content), '[a-z0-9]+') AS t
      |        FROM turns) z,
      |       unnest(generate_series(1, len(t))) AS u(i)),
      |ws2 AS (
      |  SELECT dw.tid, dw.wi, wp2.pieces,
      |    CAST(coalesce(sum(len(wp2.pieces)) OVER (PARTITION BY dw.tid
      |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS word_start
      |  FROM dw JOIN wp2 ON dw.w = wp2.w),
      |estream AS (
      |  SELECT tid, word_start + pi - 1 AS turn_tok_idx, pieces[pi] AS piece
      |  FROM ws2, unnest(generate_series(1, len(pieces))) AS u(pi)),
      |ecnt AS (SELECT tid, CAST(count(*) AS BIGINT) AS n FROM estream GROUP BY 1),
      |toff AS (
      |  SELECT tu.side_id, tu.tid, tu.mask,
      |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (PARTITION BY tu.side_id
      |      ORDER BY tu.t, tu.tid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS turn_start
      |  FROM turns tu LEFT JOIN ecnt e ON e.tid = tu.tid),
      |stream AS MATERIALIZED (
      |  SELECT o.side_id, o.turn_start + s.turn_tok_idx AS tok_idx,
      |    v.token_id, o.mask
      |  FROM estream s
      |  JOIN toff o ON o.tid = s.tid
      |  JOIN vocab v ON s.piece = v.piece)""".stripMargin

  /** The q161/q163 instantiation of [[sideStreamCtes]]: kept preference
    * pairs exploded to two sides, side_id = candidate·2 + side. Needs
    * [[prefGateCtes]] (for `kept`) in scope.
    */
  private lazy val prefSideStreamCtes: String = sideStreamCtes(
    """SELECT chosen_id * 2 AS side_id, prompt, chosen_content AS rcontent
      |  FROM kept
      |  UNION ALL
      |  SELECT rejected_id * 2 + 1, prompt, rejected_content FROM kept""".stripMargin)

  /** The ONE sessionize + invalid-dialogue oracle block, NAME-PREFIXED
    * so every gate family derives from the same session-gap and
    * alternation law (the [[ffdCtes]] pattern — a law change edits ONE
    * place). Requires `ev` (with user_id/event_id/event_type/tsn and
    * any carry columns) in scope; emits `${pf}sg` (sessionized events,
    * all ev columns + session_seq), `${pf}bad` (invalid (user_id,
    * session_seq) dialogues) and `${pf}inv` (their event ids). NO
    * leading/trailing comma.
    */
  private def sessionizeCtes(pf: String): String =
    s"""${pf}sb AS (
      |  SELECT ev.*, lag(tsn) OVER (PARTITION BY user_id
      |    ORDER BY tsn, event_id) AS prev
      |  FROM ev),
      |${pf}sf AS (
      |  SELECT * EXCLUDE (prev),
      |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000
      |      THEN 1 ELSE 0 END AS news
      |  FROM ${pf}sb),
      |${pf}sg AS (
      |  SELECT * EXCLUDE (news),
      |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id)
      |      AS BIGINT) AS session_seq
      |  FROM ${pf}sf),
      |${pf}rr AS (
      |  SELECT user_id, session_seq, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id, session_seq
      |      ORDER BY tsn, event_id) AS prev_role
      |  FROM ${pf}sg),
      |${pf}bad AS (
      |  SELECT user_id, session_seq FROM ${pf}rr GROUP BY 1, 2
      |  HAVING sum(CASE WHEN prev_role = event_type THEN 1 ELSE 0 END) > 0),
      |${pf}inv AS (
      |  SELECT g.event_id FROM ${pf}sg g
      |  JOIN ${pf}bad b ON b.user_id = g.user_id
      |    AND b.session_seq = g.session_seq)""".stripMargin

  /** Shared CANDIDATE-LEVEL gate CTEs (q164/q165-family law: gates
    * remove candidates, the consumer re-normalizes/re-ranks over
    * survivors): the response-log view of events, q144's sessionized
    * validity verdict (`ginv` = candidate ids of invalid dialogues),
    * the whitespace-3-gram leak probe vs the % 997 benchmark slice
    * (`gleak`), ending in `csurv` = the surviving graded candidates
    * (prompt, event_id, content, value). NO leading WITH.
    */
  private lazy val candGateCtes: String =
    s"""ev AS (
      |  SELECT event_id, user_id, event_type, value, props,
      |    trim(event_type || ' ' || props) AS content, epoch_ns(ts) AS tsn
      |  FROM events),
      |${sessionizeCtes("g")},""".stripMargin + "\n" + """gtok AS (
      |  SELECT event_id,
      |    regexp_split_to_array(trim(content), '\s+') AS t
      |  FROM ev),
      |ggr AS (
      |  SELECT event_id, array_to_string(t[i:i+2], ' ') AS g
      |  FROM gtok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
      |gbgr AS (SELECT DISTINCT g FROM ggr WHERE event_id % 997 = 0),
      |gleak AS (SELECT DISTINCT event_id FROM ggr JOIN gbgr USING (g)),
      |csurv AS (
      |  SELECT props AS prompt, event_id, content, value
      |  FROM ev
      |  WHERE value IS NOT NULL
      |    AND event_id NOT IN (SELECT event_id FROM gleak)
      |    AND event_id NOT IN (SELECT event_id FROM ginv))""".stripMargin

  /** The q161-family materialization tail: the `stream` CTE packed into
    * `seqLen`-token bins (md5 side order, two-phase-prefix equivalent)
    * and rendered as the materializeSequencesWithMask row form. NO
    * leading comma.
    */
  /** The q172 curriculum-schedule oracle, shared with q179's
    * cursor-filtered wrap: global (difficulty, id) rank → 10 bands;
    * epoch e of 4 admits the ceil((e+1)·10/4)-band prefix; per-epoch
    * md5 permutation per band.
    */
  /** The curriculum generator CTEs (t/rk/bd + the full schedule `cur`)
    * shared by q172/q179 and the r20 fsck family (q190/q191) — the
    * writerManCtes convention. NO leading WITH.
    */
  private lazy val curriculumCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
      |      AS difficulty
      |  FROM documents),
      |rk AS (
      |  SELECT doc_id, difficulty,
      |    CAST(row_number() OVER (ORDER BY difficulty, doc_id) - 1 AS BIGINT)
      |      AS r,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM t),
      |bd AS (SELECT doc_id, difficulty, r * 10 // n AS bucket FROM rk),
      |cur AS (
      |  SELECT CAST(e AS BIGINT) AS epoch, bucket, doc_id, difficulty,
      |    CAST(row_number() OVER (PARTITION BY e, bucket
      |      ORDER BY md5('curr:' || e || ':' || doc_id), doc_id) - 1 AS BIGINT)
      |      AS pos
      |  FROM bd, unnest(generate_series(0, 3)) AS u(e)
      |  WHERE bucket < ((e + 1) * 10 + 3) // 4)""".stripMargin

  private lazy val curriculumOracleSql: String =
    s"""WITH $curriculumCtes
       |SELECT epoch, bucket, doc_id, difficulty, pos FROM cur""".stripMargin

  /** The `stream`→global-token-position CTEs shared by
    * [[streamPackTailSql]] and the split-manifest oracles: per-side
    * token counts, md5-order start offsets, and `pos` (side_id,
    * tok_idx, token_id, mask, p). NO leading/trailing comma.
    */
  private lazy val streamPosCtes: String =
    """dc AS (
      |  SELECT side_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    md5('shard:' || side_id) AS k
      |  FROM stream GROUP BY 1),
      |soff AS (
      |  SELECT side_id, CAST(sum(n_tokens) OVER (ORDER BY k, side_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
      |  FROM dc),
      |pos AS (
      |  SELECT s.side_id, s.tok_idx, s.token_id, s.mask, o.start + s.tok_idx AS p
      |  FROM stream s JOIN soff o USING (side_id))""".stripMargin

  private def streamPackTailSql(seqLen: Long): String =
    s"""$streamPosCtes
      |SELECT CAST(p // $seqLen AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT side_id) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
      |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
      |  array_to_string(list(mask ORDER BY p), '') AS mask
      |FROM pos GROUP BY 1""".stripMargin

  /** Recursive-FFD replay CTEs over an (id, n) base — the q150 oracle's
    * shape with a NAME PREFIX so two packings can coexist in one query
    * (q158 packs the original docs AND their oversize chunks). Emits
    * `${pf}fit`/`${pf}sh`/`${pf}ranked`/`${pf}ffd`; read placements
    * from `${pf}ffd WHERE id IS NOT NULL`. `baseName` must expose
    * (id, n). Caller's WITH must be RECURSIVE.
    */
  private def ffdCtes(pf: String, baseName: String, seqLen: Long, budget: Long): String =
    s"""${pf}fit AS (SELECT id, n, md5('shard:' || id) AS k
       |        FROM $baseName WHERE n > 0 AND n <= $seqLen),
       |${pf}sh AS (
       |  SELECT id, n,
       |    CAST((CAST(sum(n) OVER (ORDER BY k, id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n) // $budget AS BIGINT) AS shard
       |  FROM ${pf}fit),
       |${pf}ranked AS (
       |  SELECT shard, n, id,
       |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS rk
       |  FROM ${pf}sh),
       |${pf}ffd AS (
       |  SELECT shard, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS loads,
       |    CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS bin,
       |    CAST(NULL AS BIGINT) AS n
       |  FROM (SELECT DISTINCT shard FROM ${pf}ranked) s
       |  UNION ALL
       |  SELECT r.shard, r.rk,
       |    CASE WHEN nullif(pos.p, 0) IS NULL THEN list_append(f.loads, r.n)
       |         ELSE list_transform(f.loads,
       |           (x, i) -> CASE WHEN i = pos.p THEN x + r.n ELSE x END)
       |    END AS loads,
       |    r.id,
       |    CAST(coalesce(nullif(pos.p, 0), len(f.loads) + 1) - 1 AS BIGINT) AS bin,
       |    r.n
       |  FROM ${pf}ffd f
       |  JOIN ${pf}ranked r ON r.shard = f.shard AND r.rk = f.rk + 1
       |  CROSS JOIN LATERAL (
       |    SELECT list_position(list_transform(f.loads, x -> x + r.n <= $seqLen),
       |      true) AS p) pos)""".stripMargin

  /** The writer-manifest oracle CTEs shared by the fsck / quarantine /
    * repair family: `<pf>msq` (the seq_id bijection + the
    * running-fill-before // budget FILE rule over a preceding bins CTE
    * carrying (keyCols…, fill, n_docs)) and `<pf>man` (the epoch
    * expansion with the exact `md5('epoch:<e>:<seq_id>')`
    * per-(epoch, unit) permutation) — ONE definition for the five
    * oracles that re-derive a generator manifest (the
    * ffdCtes/docTokenStreamCtes convention; the r20 self-review
    * finding: this block had grown five verbatim copies). NO leading /
    * trailing comma.
    */
  private def writerManCtes(
      binsName: String, keyCols: Seq[String], unit: String,
      budget: Long, maxEpoch: Int, pf: String = ""): String = {
    val keys = keyCols.mkString(", ")
    s"""${pf}msq AS (
       |  SELECT $keys, fill, n_docs,
       |    CAST(row_number() OVER (ORDER BY $keys) - 1 AS BIGINT) AS seq_id,
       |    CAST(CAST(coalesce(sum(fill) OVER (ORDER BY $keys
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      // $budget AS BIGINT) AS file
       |  FROM $binsName),
       |${pf}man AS (
       |  SELECT $keys, fill, n_docs, seq_id, file, CAST(e AS BIGINT) AS epoch,
       |    CAST(row_number() OVER (PARTITION BY e, $unit
       |      ORDER BY md5('epoch:' || e || ':' || seq_id), seq_id) - 1
       |      AS BIGINT) AS pos
       |  FROM ${pf}msq, unnest(generate_series(0, $maxEpoch)) AS u(e))""".stripMargin
  }

  /** The documents token-count + (id, n) base CTEs shared by the
    * best-fit oracle family.
    */
  private val bestFitBaseCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |  FROM documents),
      |base AS (SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n FROM t)""".stripMargin

  /** Shared q157/q160/q161 oracle CTEs — the preference gate chain:
    * the response-log view of events (prompt = props, signal = value),
    * q144's validity verdict, best-vs-worst assembly by (value, id)
    * windows (chosen ties to the LARGEST id, rejected to the smallest —
    * the struct-order contract), then the two PAIR-LEVEL gates
    * (invalid-side, leaky-side by whitespace 3-grams vs the % 997
    * benchmark slice). Terminal CTEs: `pairs` (assembled), `invpair` /
    * `leakpair` (gate verdicts by prompt), `kept` (survivors).
    * NO leading WITH — composable after [[bpeStagesSql]].
    */
  private lazy val prefGateCtes: String =
    s"""ev AS (
      |  SELECT event_id, user_id, event_type, value, props,
      |    trim(event_type || ' ' || props) AS content, epoch_ns(ts) AS tsn
      |  FROM events),
      |${sessionizeCtes("p")},""".stripMargin + "\n" + """cand AS (
      |  SELECT props AS prompt, event_id, content, value FROM ev
      |  WHERE value IS NOT NULL),
      |nc AS (
      |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_candidates
      |  FROM cand GROUP BY 1),
      |ch AS (
      |  SELECT prompt, event_id AS chosen_id, value AS chosen_signal,
      |    content AS chosen_content
      |  FROM (SELECT *, row_number() OVER (PARTITION BY prompt
      |          ORDER BY value DESC, event_id DESC) AS r FROM cand) z
      |  WHERE r = 1),
      |rj AS (
      |  SELECT prompt, event_id AS rejected_id, value AS rejected_signal,
      |    content AS rejected_content
      |  FROM (SELECT *, row_number() OVER (PARTITION BY prompt
      |          ORDER BY value ASC, event_id ASC) AS r FROM cand) z
      |  WHERE r = 1),
      |pairs AS MATERIALIZED (
      |  SELECT nc.prompt, nc.n_candidates, ch.chosen_id, ch.chosen_signal,
      |    ch.chosen_content, rj.rejected_id, rj.rejected_signal,
      |    rj.rejected_content, ch.chosen_signal - rj.rejected_signal AS margin
      |  FROM ch JOIN rj USING (prompt) JOIN nc USING (prompt)
      |  WHERE ch.chosen_signal > rj.rejected_signal),
      |stok AS (
      |  SELECT chosen_id AS event_id, chosen_content AS content FROM pairs
      |  UNION ALL
      |  SELECT rejected_id, rejected_content FROM pairs),
      |pgr AS (
      |  SELECT event_id, array_to_string(t[i:i+2], ' ') AS g
      |  FROM (SELECT event_id, regexp_split_to_array(trim(content), '\s+') AS t
      |        FROM stok) z,
      |       unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
      |pbgr AS (
      |  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
      |  FROM (SELECT regexp_split_to_array(trim(content), '\s+') AS t
      |        FROM ev WHERE event_id % 997 = 0) z,
      |       unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
      |leaky AS (SELECT DISTINCT event_id FROM pgr JOIN pbgr USING (g)),
      |invpair AS (
      |  SELECT DISTINCT prompt FROM pairs p
      |  WHERE p.chosen_id IN (SELECT event_id FROM pinv)
      |     OR p.rejected_id IN (SELECT event_id FROM pinv)),
      |leakpair AS (
      |  SELECT DISTINCT prompt FROM pairs p
      |  WHERE p.chosen_id IN (SELECT event_id FROM leaky)
      |     OR p.rejected_id IN (SELECT event_id FROM leaky)),
      |kept AS MATERIALIZED (
      |  SELECT p.* FROM pairs p
      |  WHERE p.prompt NOT IN (SELECT prompt FROM invpair)
      |    AND p.prompt NOT IN (SELECT prompt FROM leakpair))""".stripMargin

  /** DuckDB CTE chain APPLYING `n` learned merges (the unprefixed
    * [[bpeStagesSql]] `b1..bn` argmaxes) to a FOREIGN word set
    * (`wordsSql`, one column `w`): `${pf}0` sym-inits, `${pf}i` replays
    * merge i, so `${pf}n`'s double-space symbols equal
    * `applyMergesLocal(w, merges)` for words the training corpus never
    * saw — the one-tokenizer-many-corpora production shape (q147).
    */
  private def bpeApplySql(n: Int, wordsSql: String, pf: String = "ew"): String = {
    val sb = new StringBuilder
    sb ++= s"""${pf}0 AS (
      |  SELECT w, ' ' || rtrim(regexp_replace(w || '_', '(.)', '\\1  ', 'g')) || ' ' AS sym
      |  FROM ($wordsSql) src)""".stripMargin
    for (i <- 1 to n) {
      sb ++= s""",
        |${pf}$i AS (SELECT w, replace(sym,
        |   ' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ',
        |   ' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ') AS sym
        |  FROM ${pf}${i - 1})""".stripMargin
    }
    sb.toString
  }

  /** Shared q115/q118 pipeline invocation — the q87 train/holdout split
    * (doc_id % 11), q107's source-suffix priority, language as the
    * mixture domain, defaults everywhere else EXCEPT the surprisal
    * quantile: accuracy 0 selects the exact interpolated percentile so
    * the gate matches the DuckDB oracle's quantile_cont bit-for-bit
    * (production keeps the default bounded-state approx_percentile —
    * the [[graft.scale.TextStats.corpusStats]] trade; equivalence
    * tolerance pinned in PretrainCurateSpec).
    */
  private def pretrainRun(s: SparkSession, dir: String,
      tokenizerMerges: Seq[graft.scale.Bpe.Merge] = Nil): graft.scale.Curation.PretrainResult = {
    val docs = t(s, dir, "documents")
    graft.scale.Curation.pretrainCurate(
      docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("text"),
          expr("substring(source, 4)").cast("long").as("priority"), col("lang"))
        .repartition(s.sparkContext.defaultParallelism),
      docs.filter(col("doc_id") % 11 === 0),
      "doc_id", "text", "priority", "lang",
      approxQuantileAccuracy = 0,
      tokenizerMerges = tokenizerMerges)
  }

  /** Shared q121/q123 invocation — the store is the base split's
    * (doc_id % 3 != 0) chunk frame with the q113 window arithmetic; the
    * batch is the doc_id % 3 == 0 remainder with q107's source-suffix
    * priority; exact quantile for the oracle (see [[pretrainRun]]).
    * The store index builds in-job (the convenience form); production
    * passes the persisted signature frame via `storeSigs`.
    */
  private def incrRun(s: SparkSession, dir: String,
      tokenizerMerges: Seq[graft.scale.Bpe.Merge] = Nil): graft.scale.Curation.IncrementResult = {
    val docs = t(s, dir, "documents")
    // CUT (r20): the convenience-form store is a chunker over 2/3 of the
    // corpus and pretrainCurateIncrement reads it THREE times (signature
    // index build, candidate text verification, domain sizes) — uncached
    // it re-ran the chunk scan per consumer (measured: q121 11.4 s /
    // q123 16.1 s / q132 12.9 s at sf0.1 before the cut). Production
    // passes a persisted store table, so the cache mirrors the real
    // deployment's read amortization rather than masking a cost.
    val storeChunks = graft.ops.CacheScope.cut(
      graft.scale.TextStats.chunkByTokens(
        docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 =!= 0)
          // single small parquet file -> 1 scan partition: without the
          // repartition the store chunker (and the signature hashing the
          // cache feeds) runs as ONE task (the documented testdata trap)
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", 32, 16, carryCols = Seq("lang"))
        .withColumn("chunk_id", col("doc_id") * 65536L + col("chunk_idx"))
        .select(col("chunk_id"), col("chunk_text"), col("lang")))
    graft.scale.Curation.pretrainCurateIncrement(
      docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"),
          expr("substring(source, 4)").cast("long").as("priority"), col("lang"))
        .repartition(s.sparkContext.defaultParallelism),
      docs.filter(col("doc_id") % 11 === 0),
      storeChunks,
      "doc_id", "text", "priority", "lang",
      approxQuantileAccuracy = 0,
      tokenizerMerges = tokenizerMerges)
  }

  /** Shared J5/J6/K3 fixture: a full LoadPipeline.run over customer-derived
    * snapshots where every incoming record identity-matches the store
    * (rcv stage), so the oracle can re-key children with a plain join
    * while the Spark side exercises the real 3-stage match + rekey.
    */
  private def childLoadResult(s: SparkSession, dir: String): graft.pipelines.LoadPipeline.Result = {
    val cust = t(s, dir, "customer")
    val contentCols = Seq(
      lit("variant").as("object_type"),
      lit("benign").as("clinical_significance"),
      lit("criteria provided").as("review_status"),
      lit("clinical testing").as("method_type"),
      lit("sub1").as("submitter"),
      lit("trait").as("trait_name"),
      lit(null).cast("string").as("notes"),
      lit("A").as("ref_nuc"),
      lit("T").as("var_nuc"),
      lit(null).cast("date").as("date_last_evaluated"))
    val storeVariants = cust.filter(col("c_custkey") % 3 === 0).select(
      Seq(
        col("c_custkey").as("rgd_id"),
        concat(lit("C"), col("c_custkey")).as("symbol"),
        col("c_name").as("name"),
        concat(lit("RCV"), col("c_custkey")).as("rcv_acc")) ++ contentCols: _*)
    val incomingVariants = cust.filter(col("c_custkey") % 6 === 0).select(
      Seq(
        concat(lit("C"), col("c_custkey")).as("symbol"),
        concat(lit("RCV"), col("c_custkey")).as("rcv_acc"),
        col("c_name").as("name")) ++ contentCols: _*)
    val incomingHgvs = cust.filter(col("c_custkey") % 6 === 0).select(
      concat(lit("C"), col("c_custkey")).as("symbol"),
      when(col("c_custkey") % 12 === 0, "c").otherwise("p").as("hgvs_type"),
      concat(lit("NM_"), col("c_custkey") % 50).as("name"))
    val storeHgvs = cust.filter(col("c_custkey") % 3 === 0 && col("c_custkey") % 5 =!= 4).select(
      col("c_custkey").as("rgd_id"),
      when(col("c_custkey") % 12 === 0, "c").otherwise("p").as("hgvs_type"),
      when(col("c_custkey") % 10 < 5, concat(lit("NM_"), col("c_custkey") % 50))
        .otherwise(concat(lit("NM_"), col("c_custkey") % 50 + 1)).as("name"))
    val incomingMapPos = cust.filter(col("c_custkey") % 6 === 0).select(
      concat(lit("C"), col("c_custkey")).as("symbol"),
      lit("GRCh38").as("assembly"),
      (col("c_custkey") % 22 + 1).cast("string").as("chromosome"),
      (col("c_custkey") * 10).as("start_pos"),
      (col("c_custkey") * 10 + col("c_custkey") % 7).as("stop_pos"))
    val storeMapPos = cust.filter(col("c_custkey") % 3 === 0).select(
      col("c_custkey").as("rgd_id"),
      when(col("c_custkey") % 8 === 0, "GRCh37").otherwise("GRCh38").as("assembly"),
      (col("c_custkey") % 22 + 1).cast("string").as("chromosome"),
      when(col("c_custkey") % 9 === 0, col("c_custkey") * 10 + 1)
        .otherwise(col("c_custkey") * 10).as("start_pos"),
      (col("c_custkey") * 10 + col("c_custkey") % 7).as("stop_pos"))
    val empty3 = cust.limit(0).select(
      col("c_custkey").as("rgd_id"), col("c_name").as("value"), col("c_name").as("notes"))
    graft.pipelines.LoadPipeline.run(
      incomingVariants,
      incomingXdb = cust.limit(0).select(
        concat(lit("C"), col("c_custkey")).as("symbol"),
        lit(52).as("xdb_key"), col("c_name").as("acc_id")),
      incomingHgvs,
      incomingAliases = cust.limit(0).select(
        concat(lit("C"), col("c_custkey")).as("symbol"), col("c_name").as("value")),
      incomingGenes = cust.limit(0).select(
        concat(lit("C"), col("c_custkey")).as("symbol"), col("c_custkey").as("gene_id")),
      incomingMapPos,
      store = graft.pipelines.LoadPipeline.Store(
        variants = storeVariants,
        xdbIds = cust.limit(0).select(
          col("c_custkey").as("rgd_id"), lit(52).as("xdb_key"), col("c_name").as("acc_id")),
        hgvsNames = storeHgvs,
        aliases = empty3,
        geneAssocs = cust.limit(0).select(
          col("c_custkey").as("rgd_id"), col("c_custkey").as("gene_id")),
        mapPositions = storeMapPos))
  }

  /** DuckDB-equivalent SQL per query (same column names — the driver
    * compare hashes values under sorted column names).
    */
  def oracleSql: Map[String, String] = Map(
    "q01_set_merge_agg" ->
      """SELECT l_orderkey,
        |  string_agg(DISTINCT l_returnflag, '|' ORDER BY l_returnflag) AS flags,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q02_diff_sync" ->
      """WITH inc AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS val
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |cur AS (
        |  SELECT o_orderkey, o_totalprice AS val FROM orders WHERE o_orderkey % 3 <> 0),
        |cls AS (
        |  SELECT CASE WHEN cur.o_orderkey IS NULL THEN 'insert'
        |              WHEN inc.o_orderkey IS NULL THEN 'delete'
        |              WHEN inc.val IS DISTINCT FROM cur.val THEN 'update'
        |              ELSE 'match' END AS action
        |  FROM inc FULL OUTER JOIN cur ON inc.o_orderkey = cur.o_orderkey)
        |SELECT action, count(*) AS n FROM cls GROUP BY action""".stripMargin,

    "q03_fallback_join" ->
      """SELECT o.o_orderkey,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment ELSE n.n_name END AS match_val,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN 1
        |       WHEN n.n_nationkey IS NOT NULL THEN 2 ELSE 0 END AS matched_stage
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_custkey % 2 = 0
        |LEFT JOIN nation n ON o.o_custkey % 25 = n.n_nationkey""".stripMargin,

    "q04_ranked_merge" ->
      """SELECT o_custkey, string_agg(p, '|' ORDER BY rnk) AS priorities
        |FROM (SELECT DISTINCT o_custkey, o_orderpriority AS p,
        |        CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 10
        |          WHEN '3-MEDIUM' THEN 20 WHEN '5-LOW' THEN 30
        |          WHEN '4-NOT SPECIFIED' THEN 40 ELSE 999 END AS rnk
        |      FROM orders)
        |GROUP BY o_custkey""".stripMargin,

    "q05_normalize_name" ->
      """SELECT array_to_string(list_sort(string_split(lower(p_name), ' ')), '.') AS norm_name,
        |  count(*) AS n
        |FROM part GROUP BY 1""".stripMargin,

    "q06_dup_rank" ->
      """SELECT norm_name, p_partkey AS winner_partkey, n_dups FROM (
        |  SELECT array_to_string(list_sort(string_split(lower(p_name), ' ')), '.') AS norm_name,
        |    p_partkey,
        |    count(*) OVER (PARTITION BY array_to_string(list_sort(string_split(lower(p_name), ' ')), '.')) AS n_dups,
        |    row_number() OVER (
        |      PARTITION BY array_to_string(list_sort(string_split(lower(p_name), ' ')), '.')
        |      ORDER BY p_retailprice DESC, p_size DESC, p_partkey) AS rn
        |  FROM part)
        |WHERE rn = 1""".stripMargin,

    "q07_guarded_delete" ->
      """WITH inc AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS val
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |cur AS (
        |  SELECT o_orderkey, o_totalprice AS val FROM orders WHERE o_orderkey % 3 <> 0),
        |cls AS (
        |  SELECT CASE WHEN cur.o_orderkey IS NULL THEN 'insert'
        |              WHEN inc.o_orderkey IS NULL THEN 'delete'
        |              WHEN inc.val IS DISTINCT FROM cur.val THEN 'update'
        |              ELSE 'match' END AS action
        |  FROM inc FULL OUTER JOIN cur ON inc.o_orderkey = cur.o_orderkey),
        |st AS (
        |  SELECT sum(CASE WHEN action = 'delete' THEN 1 ELSE 0 END) AS ndel,
        |         sum(CASE WHEN action <> 'insert' THEN 1 ELSE 0 END) AS ncur
        |  FROM cls)
        |SELECT CASE WHEN action = 'delete' AND st.ndel > st.ncur * 0.08
        |            THEN 'keep_stale' ELSE action END AS action,
        |  count(*) AS n
        |FROM cls, st GROUP BY 1""".stripMargin,

    "q08_trim_utf8" ->
      """SELECT p_partkey,
        |  CASE WHEN length(v) > 80 THEN substr(v, 1, 76) || ' ...' ELSE v END AS trimmed
        |FROM (SELECT p_partkey,
        |        p_name || ' ' || p_type || ' ' || p_brand || ' ' || p_name || ' ' || p_type AS v
        |      FROM part)""".stripMargin,

    "q09_vcf_group_sort" ->
      """SELECT CAST(user_id % 23 AS VARCHAR) AS chr, event_id % 1000 AS pos,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS alleles,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q10_newest_wins" ->
      """SELECT user_id, epoch_ms(ts) AS last_ms, value AS last_value, n_events FROM (
        |  SELECT user_id, ts, value,
        |    count(*) OVER (PARTITION BY user_id) AS n_events,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,

    "q11_counter_buckets" ->
      """SELECT event_type,
        |  CASE WHEN value < 5.0 THEN 'low' WHEN value < 50.0 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q12_xref_routing" ->
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 48 WHEN 'view' THEN 54
        |    WHEN 'purchase' THEN 6 WHEN 'signup' THEN 21 END AS xdb_key,
        |  regexp_replace(props, '\D', '', 'g') AS acc,
        |  CASE WHEN event_type = 'click' THEN 'rs' || regexp_replace(props, '\D', '', 'g')
        |       ELSE regexp_replace(props, '\D', '', 'g') END AS link_text
        |FROM events
        |WHERE event_type IN ('click', 'view', 'purchase', 'signup')""".stripMargin,

    "q13_pubmed_agg" ->
      """SELECT user_id,
        |  string_agg(DISTINCT 'PMID:' || regexp_replace(props, '\D', '', 'g'), '|'
        |    ORDER BY 'PMID:' || regexp_replace(props, '\D', '', 'g')) AS pmids
        |FROM events GROUP BY user_id""".stripMargin,

    "q14_histogram" ->
      """SELECT upper(substr(text, 1, 3)) AS cond, count(*) AS hit_count
        |FROM documents GROUP BY 1""".stripMargin,

    "q15_scalar_stats" ->
      """SELECT source, CAST(sum(length(text)) AS BIGINT) AS sum_len, count(*) AS n,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q16_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    "q17_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(text) AS n_len
        |FROM documents""".stripMargin,

    "q18_quality_score" ->
      """SELECT doc_id,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        |  len(regexp_extract_all(text, '\b(the|a|of|and|to|is|in)\b')) AS n_stop,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0 THEN 'empty'
        |       WHEN len(regexp_extract_all(text, '\b(the|a|of|and|to|is|in)\b')) * 10 >=
        |            (CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END) THEN 'stopwordy'
        |       WHEN length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) = 0 THEN 'clean'
        |       ELSE 'other' END AS quality
        |FROM documents""".stripMargin,

    "q19_lang_id" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de AND c_en >= c_zh THEN 'en'
        |    WHEN c_fr >= c_es AND c_fr >= c_de AND c_fr >= c_zh THEN 'fr'
        |    WHEN c_es >= c_de AND c_es >= c_zh THEN 'es'
        |    WHEN c_de >= c_zh THEN 'de'
        |    ELSE 'zh' END AS pred_lang
        |FROM (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS c_en,
        |    len(regexp_extract_all(text, '\b(le|la|les|et|une)\b')) AS c_fr,
        |    len(regexp_extract_all(text, '\b(el|los|que|una|es)\b')) AS c_es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS c_de,
        |    len(regexp_extract_all(text, '\b(的|了|是)\b')) AS c_zh
        |  FROM documents)""".stripMargin,

    "q20_minhash" ->
      """SELECT doc_id,
        |  min(md5('0:' || w)) AS h0, min(md5('1:' || w)) AS h1,
        |  min(md5('2:' || w)) AS h2, min(md5('3:' || w)) AS h3
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY doc_id""".stripMargin,

    "q21_ann_cosine" ->
      """SELECT probe_id, rank, neighbor_id FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (
        |      PARTITION BY p.vec_id
        |      ORDER BY list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[])) *
        |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        |  WHERE p.vec_id % 50 = 0)
        |WHERE rank <= 5""".stripMargin,

    "q22_fingerprint" ->
      """SELECT doc_id,
        |  substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp
        |FROM documents""".stripMargin,

    "q27_alias_filter" ->
      """WITH aliased AS (
        |  SELECT user_id, event_id,
        |    'alias_' || (user_id % 50) AS trait_name,
        |    CASE event_id % 10
        |      WHEN 0 THEN NULL WHEN 1 THEN '' WHEN 2 THEN 'not provided'
        |      WHEN 3 THEN 'Not Specified'
        |      WHEN 4 THEN upper('Alias_' || (event_id % 50))
        |      ELSE 'Alias_' || (event_id % 50) END AS alias
        |  FROM events),
        |admitted AS (
        |  SELECT * FROM aliased
        |  WHERE alias IS NOT NULL AND alias <> ''
        |    AND lower(alias) NOT IN ('not provided', 'not specified')
        |    AND lower(alias) <> lower(trait_name))
        |SELECT user_id, event_id, alias FROM (
        |  SELECT user_id, event_id, alias,
        |    row_number() OVER (PARTITION BY user_id, lower(alias) ORDER BY event_id) AS rn
        |  FROM admitted)
        |WHERE rn = 1""".stripMargin,

    "q28_xdb_diff" ->
      """WITH inc AS (
        |  SELECT o_custkey % 8 AS xdb_key, o_orderkey AS acc_id
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |cur AS (
        |  SELECT o_custkey % 8 AS xdb_key, o_orderkey AS acc_id,
        |    o_orderkey * 10 + 1 AS db_key
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT coalesce(inc.xdb_key, cur.xdb_key) AS xdb_key,
        |  coalesce(inc.acc_id, cur.acc_id) AS acc_id,
        |  cur.db_key AS db_key,
        |  CASE WHEN inc.acc_id IS NOT NULL AND cur.db_key IS NOT NULL THEN 'match'
        |       WHEN inc.acc_id IS NOT NULL THEN 'insert'
        |       ELSE 'delete' END AS action
        |FROM inc FULL OUTER JOIN cur
        |  ON inc.xdb_key = cur.xdb_key AND inc.acc_id = cur.acc_id""".stripMargin,

    "q29_concept_chain" ->
      """SELECT o_orderkey, n_name, r_name
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderstatus = 'F'""".stripMargin,

    "q30_fanout" ->
      """SELECT s_suppkey, sib.n_name AS homolog_nation
        |FROM supplier
        |JOIN nation own ON s_nationkey = own.n_nationkey
        |JOIN nation sib ON sib.n_regionkey = own.n_regionkey
        |  AND sib.n_nationkey <> own.n_nationkey""".stripMargin,

    "q31_fixpoint" ->
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS old_id, p_partkey + 1 AS new_id
        |  FROM part WHERE p_partkey % 50 < 3),
        |r(old_id, cur) AS (
        |  SELECT old_id, new_id FROM e
        |  UNION ALL
        |  SELECT r.old_id, e.new_id FROM r JOIN e ON r.cur = e.old_id)
        |SELECT old_id, cur AS resolved_id FROM r
        |WHERE cur NOT IN (SELECT old_id FROM e)""".stripMargin,

    "q32_band_parse" ->
      """SELECT p_partkey, band, regexp_extract(band, '^([0-9XY]+)[pq]', 1) AS chr
        |FROM (SELECT p_partkey,
        |        CAST(p_partkey % 23 + 1 AS VARCHAR) ||
        |        (CASE WHEN p_partkey % 2 = 0 THEN 'p' ELSE 'q' END) ||
        |        CAST(p_size AS VARCHAR) AS band
        |      FROM part)""".stripMargin,

    "q33_decode_swap" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE l_returnflag WHEN 'R' THEN 13 WHEN 'A' THEN 17 WHEN 'N' THEN 38 END AS map_key,
        |  least(l_quantity, l_discount * 100) AS start_pos,
        |  greatest(l_quantity, l_discount * 100) AS stop_pos
        |FROM lineitem""".stripMargin,

    "q34_date_ops" ->
      """SELECT o_custkey,
        |  strftime(max(o_orderdate) - INTERVAL 1 DAY - INTERVAL 10 MINUTE,
        |           '%Y-%m-%d %H:%M:%S') AS stale_cutoff,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q35_so_infer" ->
      """SELECT p_partkey,
        |  CASE
        |    WHEN p_type LIKE '%BRUSHED%' THEN
        |      CASE WHEN p_size > 25 THEN 'SO:1000035' ELSE 'SO:0000667' END
        |    WHEN p_type LIKE '%POLISHED%' THEN
        |      CASE WHEN p_name LIKE '%green%' THEN 'SO:0000159' ELSE 'SO:1000032' END
        |    WHEN p_type LIKE '%PLATED%' THEN 'SO:1000008'
        |    WHEN p_type LIKE '%ANODIZED%' THEN 'SO:0001587'
        |    WHEN p_size < 5 THEN 'SO:0000289'
        |    ELSE 'SO:0001059' END AS so_acc_id
        |FROM part""".stripMargin,

    "q36_padshift_join" ->
      """WITH probe AS (
        |  SELECT l_orderkey, l_partkey AS pos FROM lineitem WHERE l_linenumber = 1),
        |dim AS (
        |  SELECT p_partkey, p_brand FROM part WHERE p_partkey % 2 = 0)
        |SELECT l_orderkey, pos,
        |  CASE WHEN d1.p_partkey IS NOT NULL THEN d1.p_brand
        |       ELSE d2.p_brand END AS ref_val,
        |  CASE WHEN d1.p_partkey IS NOT NULL THEN 1
        |       WHEN d2.p_partkey IS NOT NULL THEN 2 ELSE 0 END AS matched_stage
        |FROM probe
        |LEFT JOIN dim d1 ON probe.pos = d1.p_partkey
        |LEFT JOIN dim d2 ON probe.pos + 1 = d2.p_partkey""".stripMargin,

    "q37_ngram_jaccard" ->
      """WITH words AS (
        |  SELECT doc_id, lang, n_chars // 100 AS lb,
        |    regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, lang, lb, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(w) - 3, 0) + 1),
        |    i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
        |  FROM words),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
        |  FROM sh a
        |  JOIN sh b ON a.lang = b.lang AND a.lb = b.lb AND a.sh = b.sh
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = id_a
        |JOIN cnt cb ON cb.doc_id = id_b
        |WHERE CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) >= 0.1""".stripMargin,

    "q38_embed_neardup" -> embedNearDupOracleSql,

    // same stride quantizer as q44's oracle (row_number argmax with the
    // lowest-centroid-id tie-break mirroring max_by(…, struct(cdist,
    // -centroid_id))); losers = within-cluster cosine >= 0.42 to a
    // lower id; keep list = everything else
    "q77_semdedup" ->
      """WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT id AS cid, v AS cv FROM c WHERE id % 64 = 0),
        |assigned AS (
        |  SELECT id, v, cid FROM (
        |    SELECT c.id, c.v, cent.cid,
        |      row_number() OVER (PARTITION BY c.id
        |        ORDER BY list_dot_product(c.v, cent.cv) DESC, cent.cid) AS rn
        |    FROM c, cent) WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT b.id
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id < b.id
        |  WHERE list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.42)
        |SELECT c.id AS vec_id FROM c LEFT JOIN losers l ON c.id = l.id
        |WHERE l.id IS NULL""".stripMargin,

    "q59_annot_merge" -> annotMergeOracleSql,

    "q60_gene_guard" ->
      """WITH dim AS (
        |  SELECT CASE WHEN p_partkey % 10 < 8 THEN p_partkey ELSE p_partkey % 50 END AS gene_id,
        |    'S' || (p_partkey % 1900) AS symbol, p_partkey AS gene_rgd
        |  FROM part),
        |uid AS (SELECT gene_id, min(gene_rgd) AS gene_rgd
        |        FROM dim GROUP BY gene_id HAVING count(*) = 1),
        |usym AS (SELECT symbol, min(gene_rgd) AS gene_rgd
        |         FROM dim GROUP BY symbol HAVING count(*) = 1),
        |probe AS (SELECT o_orderkey AS probe_id, o_orderkey % 2500 AS gene_id,
        |                 'S' || (o_orderkey % 1900) AS symbol FROM orders)
        |SELECT probe_id, coalesce(u.gene_rgd, s.gene_rgd) AS gene_rgd,
        |  CASE WHEN u.gene_rgd IS NOT NULL THEN 1
        |       WHEN s.gene_rgd IS NOT NULL THEN 2 ELSE 0 END AS matched_stage
        |FROM probe
        |LEFT JOIN uid u USING (gene_id)
        |LEFT JOIN usym s USING (symbol)""".stripMargin,

    "q61_rsid_updates" ->
      """WITH rs AS (
        |  SELECT o_orderkey % 3000 AS rgd_id,
        |    (CASE WHEN o_orderkey % 11 = 0 THEN 'ss' ELSE 'rs' END)
        |      || (o_orderkey % 977) AS link_text
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |rsf AS (
        |  SELECT rgd_id, link_text AS rs_new FROM rs
        |  WHERE link_text LIKE 'rs%'),
        |vm AS (
        |  SELECT p_partkey AS variant_id, p_partkey % 3000 AS rgd_id,
        |    CASE WHEN p_partkey % 5 = 0 THEN NULL
        |         WHEN p_partkey % 5 = 1 THEN 'rs' || (p_partkey % 977)
        |         ELSE 'rs' || (p_partkey % 13) END AS rs_id
        |  FROM part),
        |diffs AS (
        |  SELECT variant_id, rgd_id, rs_id AS rs_old, rs_new,
        |    row_number() OVER (PARTITION BY rgd_id ORDER BY rs_new, variant_id) AS rk
        |  FROM vm JOIN rsf USING (rgd_id)
        |  WHERE rs_id IS DISTINCT FROM rs_new)
        |SELECT variant_id, rgd_id, rs_old, rs_new FROM diffs WHERE rk = 1""".stripMargin,

    // child rekey is a plain symbol->rgd lookup here BY CONSTRUCTION
    // (every incoming symbol 'C'||c identity-matches store rgd_id c), so
    // the oracle re-keys directly while the Spark side runs the real
    // 3-stage match + rekey + DiffSync
    "q62_child_hgvs_diff" ->
      """WITH inc AS (
        |  SELECT c_custkey AS rgd_id,
        |    CASE WHEN c_custkey % 12 = 0 THEN 'c' ELSE 'p' END AS hgvs_type,
        |    'NM_' || (c_custkey % 50) AS name
        |  FROM customer WHERE c_custkey % 6 = 0),
        |cur AS (
        |  SELECT c_custkey AS rgd_id,
        |    CASE WHEN c_custkey % 12 = 0 THEN 'c' ELSE 'p' END AS hgvs_type,
        |    CASE WHEN c_custkey % 10 < 5 THEN 'NM_' || (c_custkey % 50)
        |         ELSE 'NM_' || (c_custkey % 50 + 1) END AS name
        |  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 5 <> 4)
        |SELECT COALESCE(i.rgd_id, c.rgd_id) AS rgd_id,
        |  COALESCE(i.hgvs_type, c.hgvs_type) AS hgvs_type,
        |  COALESCE(i.name, c.name) AS name,
        |  CASE WHEN c.rgd_id IS NULL THEN 'insert'
        |       WHEN i.rgd_id IS NULL THEN 'delete'
        |       ELSE 'match' END AS action
        |FROM inc i FULL OUTER JOIN cur c
        |  ON i.rgd_id = c.rgd_id AND i.hgvs_type = c.hgvs_type
        | AND i.name = c.name""".stripMargin,

    // expected rows frozen from the committed fixtures: PNG mean-R is
    // exact by construction (half-red raster -> 500), JPEG within codec
    // determinism (501), WAV sine RMS = 0.5/sqrt(2) -> 354, corrupt
    // payload flags ok=0 with no stat
    "q64_media_decode" ->
      """SELECT * FROM (VALUES
        |  ('blue.ppm', 'ppm', 1, CAST(12 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('corrupt.bin', '', 0, 0, 0, CAST(NULL AS BIGINT)),
        |  ('halfloud.au', 'au', 1, 8000, 8000, 400),
        |  ('halfloud.wav', 'wav', 1, 8000, 8000, 400),
        |  ('halfred.jpg', 'jpeg', 1, 12, 8, 501),
        |  ('halfred.png', 'png', 1, 12, 8, 500),
        |  ('quiet.wav', 'wav', 1, 8000, 8000, 71),
        |  ('sine.wav', 'wav', 1, 8000, 4000, 354)
        |) AS t(name, format, ok, d1, d2, stat_milli)""".stripMargin,

    "q65_carpe_filter" ->
      """WITH v AS (
        |  SELECT o_orderkey AS rgd_id,
        |    CASE o_orderkey % 7 WHEN 0 THEN 'snv' WHEN 1 THEN 'deletion'
        |      WHEN 2 THEN 'duplication' WHEN 3 THEN 'insertion'
        |      WHEN 4 THEN 'single nucleotide variant' WHEN 5 THEN 'indel'
        |      ELSE 'copy number gain' END AS object_type,
        |    CASE o_custkey % 5 WHEN 0 THEN 'pathogenic|not provided'
        |      WHEN 1 THEN 'uncertain significance' WHEN 2 THEN 'benign'
        |      WHEN 3 THEN 'not provided'
        |      ELSE 'pathogenic' END AS clinical_significance,
        |    CASE WHEN o_orderkey % 3 = 0
        |         THEN 'Leeds Institute of Molecular Medicine (LIMM)'
        |         WHEN o_orderkey % 3 = 1 THEN NULL
        |         ELSE 'Lab X' END AS submitter,
        |    CASE o_orderkey % 11
        |      WHEN 0 THEN 'AllHighlyPenetrant' WHEN 1 THEN 'none provided'
        |      WHEN 2 THEN 'not provided' WHEN 3 THEN 'Not provided'
        |      WHEN 4 THEN 'not specified'
        |      WHEN 5 THEN 'repeat number of microsatellite'
        |      WHEN 6 THEN 'See cases' WHEN 7 THEN 'Unclassifed'
        |      WHEN 8 THEN 'Variant of unknown significance'
        |      WHEN 9 THEN 'cond A' ELSE 'cond B' END AS condition
        |  FROM orders)
        |SELECT rgd_id, object_type, clinical_significance, submitter, condition
        |FROM v
        |WHERE object_type IN ('snv', 'single nucleotide variant', 'deletion',
        |                      'duplication', 'insertion')
        |  AND clinical_significance <> 'not provided'
        |  AND NOT (clinical_significance = 'uncertain significance'
        |           AND submitter IS NOT DISTINCT FROM
        |             'Leeds Institute of Molecular Medicine (LIMM)')
        |  AND condition NOT IN ('AllHighlyPenetrant', 'none provided',
        |    'not provided', 'Not provided', 'not specified',
        |    'repeat number of microsatellite', 'See cases', 'Unclassifed',
        |    'Variant of unknown significance')""".stripMargin,

    // hand-frozen from vcv_sample.xml + Parser.parseXRefs semantics
    // (Parser.java:485-585): gene ids (3) + HGNC (21), the RCV acc (52),
    // the OMIM allele split (53 + 6), dbSNP rs (48), ORPHA strip (62),
    // MedGen trait/mapping CUI deduped to ONE row (54), MONDO (145),
    // PubMed citation (11), the assertion TraitSet OMIM (6); UniProtKB
    // is on the ignore list. CV99 contributes no xrefs.
    "q66_parser_xdb" ->
      """SELECT * FROM (VALUES
        |  ('CV15091', 3, '9907', 'RCV000000012'),
        |  ('CV15091', 21, 'HGNC:22197', 'RCV000000012'),
        |  ('CV15091', 52, 'RCV000000012', 'RCV000000012'),
        |  ('CV15091', 53, '613653.0001', 'RCV000000012'),
        |  ('CV15091', 6, '613653', 'RCV000000012'),
        |  ('CV15091', 48, '397704705', 'RCV000000012'),
        |  ('CV15091', 62, '306511', 'RCV000000012'),
        |  ('CV15091', 54, 'C3150901', 'RCV000000012'),
        |  ('CV15091', 145, 'MONDO:0013342', 'RCV000000012'),
        |  ('CV15091', 11, '20613862', 'RCV000000012'),
        |  ('CV15091', 6, '613647', 'RCV000000012'),
        |  ('CV500', 3, '672', 'RCV000077'),
        |  ('CV500', 21, 'HGNC:1100', 'RCV000077'),
        |  ('CV500', 54, 'C200', 'RCV000077'),
        |  ('CV500', 52, 'RCV000077', 'RCV000077')
        |) AS t(symbol, xdb_key, acc_id, notes)""".stripMargin,

    // hand-frozen: 'coding' is already canonical; 'HGVS, protein,
    // RefSeq' -> 'protein_refseq' (X4)
    "q67_parser_hgvs" ->
      """SELECT * FROM (VALUES
        |  ('CV15091', 'coding', 'NM_014855.3:c.80_83delinsTGCTGTAAACTGTAACTGTAAA'),
        |  ('CV15091', 'protein_refseq', 'NP_055670.1:p.Arg27_Ile28delinsLeuLeuTer')
        |) AS t(symbol, hgvs_type, name)""".stripMargin,

    // 4-gram windows: t[i:i+3] is INCLUSIVE in DuckDB (4 elements);
    // every fixture doc has >= 10 tokens so the short-doc single-shingle
    // case never fires. n_hits counts DISTINCT grams per doc, matching
    // WordShingles' per-document dedup.
    "q68_decontam" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
        |  FROM tok, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0)
        |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id % 11 <> 0
        |GROUP BY g.doc_id""".stripMargin,

    // q23's pair oracle nested as a CTE, then the q50-style recursive
    // closure: losers = nodes whose component holds a smaller id
    // hand-frozen from data/fixtures/vcv_skips.xml: one record per skip
    // branch (Parser.java:66-94) + the >4000-char HGVS drop
    // (HgvsNames.java:24-29) + the F3 warn-only sanity counters
    // (record 9004 carries RecordStatus 'removed' and a mouse species —
    // the reference WARNS and continues, Parser.java:449-457, so the
    // record still classifies by its own skip status). The surviving
    // record contributes ok=1, its classification counter, and exactly
    // ONE hgvs row (the oversize sibling dropped).
    "q74_parser_skips" ->
      """SELECT * FROM (VALUES
        |  ('CLASSIFICATION_AGGREGATE_GermlineClassification', 1),
        |  ('GENOTYPE_VARIANTS_SKIPPED', 1),
        |  ('HAPLOTYPE_VARIANTS_SKIPPED', 1),
        |  ('HGVS_NAME_SKIPPED_LONGER_THAN_4000', 1),
        |  ('INVALID_SPECIES', 1),
        |  ('MULTI_ALLELE_VARIANTS_SKIPPED', 1),
        |  ('NOT_CURRENT_RECORD', 1),
        |  ('NO_SIMPLE_ALLELE', 1),
        |  ('OK_HGVS_ROWS', 1),
        |  ('ok', 1)) AS t(counter, "count")""".stripMargin,

    "q75_trait_strip" ->
      """WITH t AS (
        |  SELECT o_orderkey AS id,
        |    (['Hereditary spastic paraplegia 48',
        |      'Breast-ovarian cancer, (familial) 1',
        |      'Severe combined immunodeficiency, T Cell-negative, B Cell-negative, NK Cell-negative',
        |      'Glucose/galactose malabsorption',
        |      '  spaced   name  ',
        |      'plain'])[(o_orderkey % 6) + 1]
        |    || CASE WHEN o_orderkey % 3 = 0 THEN ' [RCV' || o_orderkey || ']'
        |            WHEN o_orderkey % 3 = 1 THEN ' [RCV000012345]'
        |            ELSE '' END AS trait_name
        |  FROM orders),
        |s AS (SELECT id, regexp_replace(trait_name, ' \[RCV.*$', '') AS stripped FROM t),
        |f AS (SELECT id, stripped,
        |  CASE WHEN stripped LIKE '%T Cell-%' AND stripped LIKE '%B Cell-%'
        |            AND stripped LIKE '%NK Cell-%'
        |       THEN replace(replace(replace(stripped,
        |              'T Cell-', 'TCell'), 'B Cell-', 'BCell'), 'NK Cell-', 'NKCell')
        |       ELSE stripped END AS fixed FROM s)
        |SELECT id, stripped,
        |  array_to_string(list_sort(regexp_split_to_array(
        |    trim(translate(lower(fixed), '-,()/', '     ')), '\s+')), '.') AS norm_name
        |FROM f""".stripMargin,

    "q73_annot_probe" ->
      """WITH inc AS (
        |  SELECT o_orderkey AS annotated_rgd_id,
        |    'DOID:' || (o_orderkey % 97) AS term_acc,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'D' ELSE 'H' END AS aspect,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'ISO' ELSE 'IAGP' END AS evidence,
        |    'PMID:' || (o_orderkey % 13) AS xref_source,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'RGD:' || o_custkey END AS with_info
        |  FROM orders
        |  WHERE o_orderkey % 23 <> 0
        |    AND NOT (o_orderkey % 2 = 1 AND
        |             (o_orderkey % 31 = 0 OR o_orderkey % 29 = 0 OR o_orderkey % 37 = 0))
        |    AND NOT (o_orderkey % 2 = 0 AND o_orderkey % 59 = 0)),
        |cur AS (
        |  SELECT o_orderkey AS annotated_rgd_id,
        |    'DOID:' || (o_orderkey % 97) AS term_acc,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'D' ELSE 'H' END AS aspect,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'ISO' ELSE 'IAGP' END AS evidence,
        |    'PMID:' || (o_orderkey % 13) AS xref_source,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'RGD:OLD'
        |         WHEN o_orderkey % 5 = 0 THEN 'RGD:' || o_custkey END AS with_info
        |  FROM orders WHERE o_orderkey % 19 <> 0),
        |d AS (
        |  SELECT
        |    coalesce(i.annotated_rgd_id, c.annotated_rgd_id) AS annotated_rgd_id,
        |    coalesce(i.term_acc, c.term_acc) AS term_acc,
        |    coalesce(i.aspect, c.aspect) AS aspect,
        |    coalesce(i.evidence, c.evidence) AS evidence,
        |    coalesce(i.xref_source, c.xref_source) AS xref_source,
        |    i.with_info, c.with_info AS with_info_old,
        |    CASE WHEN c.annotated_rgd_id IS NULL THEN 'insert'
        |         WHEN i.annotated_rgd_id IS NULL THEN 'delete'
        |         WHEN i.with_info IS DISTINCT FROM c.with_info THEN 'update'
        |         ELSE 'match' END AS action
        |  FROM inc i FULL OUTER JOIN cur c
        |    ON i.annotated_rgd_id = c.annotated_rgd_id
        |   AND i.term_acc = c.term_acc AND i.aspect = c.aspect
        |   AND i.evidence = c.evidence AND i.xref_source = c.xref_source),
        |g AS (
        |  SELECT d.*,
        |    sum(CASE WHEN action = 'delete' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY aspect) AS ndel,
        |    sum(CASE WHEN action = 'insert' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY aspect) AS nins,
        |    sum(CASE WHEN action <> 'insert' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY aspect) AS ncur
        |  FROM d)
        |SELECT annotated_rgd_id, term_acc, aspect, evidence, xref_source,
        |  with_info, with_info_old,
        |  CASE WHEN action = 'delete' AND ndel - nins > ncur * 0.05
        |       THEN 'keep_stale' ELSE action END AS action
        |FROM g""".stripMargin,

    "q72_neardup_keep" ->
      s"""WITH RECURSIVE p0 AS (
         |$lshPairsOracleSql
         |),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p0 UNION SELECT id_b, id_a FROM p0),
         |r AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
         |losers AS (SELECT a AS doc_id FROM r GROUP BY a HAVING min(b) < a)
         |SELECT d.doc_id FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
         |WHERE l.doc_id IS NULL""".stripMargin,

    "q71_domain_stats" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    substr(text, 1, 30) || ' via http://' ||
        |    (['news.example.com', 'blog.example.org', 'spam.example',
        |      'data.example.net', 'tracker.example', 'docs.example.io'])[(doc_id % 6) + 1] ||
        |    '/p' || (doc_id % 40) ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' and https://' ||
        |      (['news.example.com', 'blog.example.org', 'spam.example',
        |        'data.example.net', 'tracker.example', 'docs.example.io'])[(doc_id % 3) + 1] || '/q'
        |    ELSE '' END AS t2
        |  FROM documents),
        |hosts AS (
        |  SELECT doc_id, unnest(regexp_extract_all(t2, 'https?://([^/\s]+)', 1)) AS domain
        |  FROM inj)
        |SELECT domain, count(DISTINCT doc_id) AS n_docs,
        |  CAST(domain IN ('spam.example', 'tracker.example') AS INT) AS blocked
        |FROM hosts GROUP BY domain""".stripMargin,

    // line = 10-token inclusive slice (DuckDB t[a:b] includes b; the
    // final short line clamps in both engines); md5 over the joined
    // tokens matches Spark's md5(cast(... as binary))
    "q70_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    md5(array_to_string(t[((i-1)//10)*10+1 : ((i-1)//10)*10+10], ' ')) AS h
        |  FROM tok, unnest(generate_series(1, len(t))) AS u(i)
        |  WHERE (i - 1) % 10 = 0),
        |idx AS (
        |  SELECT h FROM lines GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT l.doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |FROM lines l LEFT JOIN idx i ON l.h = i.h
        |GROUP BY l.doc_id""".stripMargin,

    // identical canonicalization chain, DuckDB spelling: 'g' flags
    // (Spark's regexp_replace is always global), \1 replacement
    // backrefs (Spark: $1). Every MATCH pattern is lookaround-free so
    // Java regex and RE2 agree.
    "q78_url_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END) ||
        |    (['News.Example.COM', 'blog.example.org', 'Docs.Example.IO'])[(doc_id % 3) + 1] ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        |    '/p' || (doc_id % 20) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&ref=1'
        |          WHEN doc_id % 3 = 1 THEN '?a=1&utm_campaign=z' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS u
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(u, '#.*', '', 'g') AS u FROM raw),
        |c2 AS (SELECT doc_id,
        |  regexp_replace(u, '(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*', '', 'g') AS u FROM c1),
        |c3 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    u, '\?&+', '?', 'g'), '&{2,}', '&', 'g'), '[?&]+$', '', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id,
        |  lower(coalesce(regexp_extract(u, '^[A-Za-z]+://[^/?#]*'), '')) ||
        |  regexp_replace(u, '^[A-Za-z]+://[^/?#]*', '') AS u FROM c3),
        |c5 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    u, '^(https://[^/:?#]*):443([/?#]|$)', '\1\2'),
        |       '^(http://[^/:?#]*):80([/?#]|$)', '\1\2') AS u FROM c4)
        |SELECT u AS url, count(*) AS n_docs, min(doc_id) AS keeper
        |FROM c5 GROUP BY u""".stripMargin,

    // the three QC merge shapes, DuckDB spelling. The planted constants
    // make each shape's expected output closed-form: QC.merge's CI
    // substring-delete of 'abc<d>' from 'xABC<d>y|z' leaves 'xy|z' (one
    // loop iteration by construction), so the merged value is rs_in ||
    // '|xy|z'; the collection replacements are computed with real list
    // ops (split → filter '' → distinct → sort → join) so the oracle
    // derives them rather than hardcoding.
    "q79_merge_shapes" ->
      """WITH store AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
        |inc AS (
        |  SELECT c_custkey AS k, 'C' || c_custkey AS symbol,
        |    'abc' || (c_custkey % 7) AS rs_in,
        |    'sub' || (c_custkey % 5) || '|subA|sub' || (c_custkey % 5) AS sub_in,
        |    't' || (c_custkey % 3) || '|tA' AS tn_in,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'n2|n1' ELSE '   ' END AS no_in
        |  FROM customer WHERE c_custkey % 2 = 0),
        |j AS (
        |  SELECT i.*, s.k IS NOT NULL AS matched,
        |    CASE WHEN s.k % 9 = 0 THEN 'oldNote' END AS no_cur
        |  FROM inc i LEFT JOIN store s ON i.k = s.k)
        |SELECT symbol,
        |  CASE WHEN matched THEN 'pathogenic|likely pathogenic'
        |       ELSE 'likely pathogenic' END AS clinical_significance,
        |  CASE WHEN matched THEN rs_in || '|xy|z' ELSE rs_in END AS review_status,
        |  CASE WHEN matched THEN 'mA|mB' ELSE 'mA' END AS method_type,
        |  CASE WHEN matched THEN array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(sub_in, '|'), x -> x <> ''))), '|')
        |       ELSE sub_in END AS submitter,
        |  CASE WHEN matched THEN array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(tn_in, '|'), x -> x <> ''))), '|')
        |       ELSE tn_in END AS trait_name,
        |  CASE WHEN NOT matched THEN no_in
        |       WHEN trim(no_in) = '' THEN no_cur
        |       ELSE array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(no_in, '|'), x -> x <> ''))), '; ')
        |  END AS notes
        |FROM j""".stripMargin,

    // span = 8-token inclusive window at every position (list_slice is
    // 1-based inclusive like Spark's slice); the oracle groups by the
    // span STRING where the engine groups by its xxhash64 — identical
    // results absent a 64-bit collision (odds ~n² / 2⁶⁴)
    "q76_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |spans AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 8), ' ') AS span
        |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS i)),
        |idx AS (SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT s.doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN i.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM spans s LEFT JOIN idx i ON s.span = i.span
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(p.n_spans, 0) AS n_spans,
        |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin,

    "q69_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
        |    (1000 * (len(t) - len(list_distinct(t)))) // len(t) AS dup_token_milli
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
        |  FROM tok, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)),
        |topg AS (
        |  SELECT doc_id, max(c) AS max_bigram_n FROM (
        |    SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct, dup_token_milli,
        |  COALESCE(max_bigram_n, 0) AS max_bigram_n
        |FROM base LEFT JOIN topg USING (doc_id)""".stripMargin,

    "q63_child_mappos_diff" ->
      """WITH inc AS (
        |  SELECT c_custkey AS rgd_id, 'GRCh38' AS assembly,
        |    CAST(c_custkey % 22 + 1 AS VARCHAR) AS chromosome,
        |    c_custkey * 10 AS start_pos,
        |    c_custkey * 10 + c_custkey % 7 AS stop_pos
        |  FROM customer WHERE c_custkey % 6 = 0),
        |cur AS (
        |  SELECT c_custkey AS rgd_id,
        |    CASE WHEN c_custkey % 8 = 0 THEN 'GRCh37' ELSE 'GRCh38' END AS assembly,
        |    CAST(c_custkey % 22 + 1 AS VARCHAR) AS chromosome,
        |    CASE WHEN c_custkey % 9 = 0 THEN c_custkey * 10 + 1
        |         ELSE c_custkey * 10 END AS start_pos,
        |    c_custkey * 10 + c_custkey % 7 AS stop_pos
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT COALESCE(i.rgd_id, c.rgd_id) AS rgd_id,
        |  COALESCE(i.assembly, c.assembly) AS assembly,
        |  COALESCE(i.chromosome, c.chromosome) AS chromosome,
        |  COALESCE(i.start_pos, c.start_pos) AS start_pos,
        |  COALESCE(i.stop_pos, c.stop_pos) AS stop_pos,
        |  CASE WHEN c.rgd_id IS NULL THEN 'insert'
        |       WHEN i.rgd_id IS NULL THEN 'delete'
        |       ELSE 'match' END AS action
        |FROM inc i FULL OUTER JOIN cur c
        |  ON i.rgd_id = c.rgd_id AND i.assembly = c.assembly
        | AND i.chromosome = c.chromosome AND i.start_pos = c.start_pos
        | AND i.stop_pos = c.stop_pos""".stripMargin,

    // trim semantics: budget = 200-4 bytes, shrink on char boundaries,
    // append " ..." — fingerprints are ASCII so bytes == chars and the
    // SQL CASE reproduces the expression exactly
    "q39_trim_merge" ->
      """SELECT source,
        |  CASE WHEN length(merged) > 200 THEN substr(merged, 1, 196) || ' ...'
        |       ELSE merged END AS notes,
        |  length(merged) AS full_len
        |FROM (
        |  SELECT source,
        |    string_agg(DISTINCT substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16),
        |               '; ' ORDER BY substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16)) AS merged
        |  FROM documents GROUP BY source)""".stripMargin,

    "q40_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws
        |FROM documents""".stripMargin,

    "q41_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(n_chars, 0.5) AS med_chars,
        |  quantile_cont(n_chars, 0.9) AS p90_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang""".stripMargin,

    "q42_report_split" ->
      """WITH conds AS (
        |  SELECT CASE WHEN p_partkey % 3 = 0
        |              THEN p_name || ' [RCV' || p_partkey || ']'
        |              ELSE p_name END AS cond
        |  FROM part)
        |SELECT CASE WHEN regexp_matches(cond, ' \[RCV.*\]$') THEN 'with_rcv'
        |            ELSE 'plain' END AS route,
        |  cond, count(*) AS hit_count
        |FROM conds GROUP BY 1, 2""".stripMargin,

    "q43_vcf_body" ->
      """WITH v AS (
        |  SELECT CAST(user_id % 23 AS VARCHAR) AS chr, event_id % 500 AS pos,
        |    CASE WHEN event_id % 7 = 0 THEN '' ELSE CAST(event_id % 97 AS VARCHAR) END AS rs_id,
        |    event_type AS var_type,
        |    CASE WHEN event_id % 11 = 0 THEN '-'
        |         WHEN event_id % 3 = 0 THEN 'AT' ELSE 'A' END AS ref,
        |    CASE WHEN event_id % 13 = 0 THEN '-'
        |         WHEN event_id % 4 = 0 THEN 'GC' ELSE 'G' END AS alt
        |  FROM events),
        |g AS (
        |  SELECT chr, pos, rs_id, var_type,
        |    string_agg(DISTINCT ref, ',' ORDER BY ref) AS ref,
        |    string_agg(DISTINCT alt, ',' ORDER BY alt) AS alt
        |  FROM v GROUP BY 1, 2, 3, 4)
        |SELECT chr || chr(9) || pos || chr(9) ||
        |  (CASE WHEN rs_id = '' THEN '.' ELSE 'rs' || rs_id END) || chr(9) ||
        |  ref || chr(9) || alt || chr(9) || '.' || chr(9) || '.' || chr(9) ||
        |  (CASE WHEN rs_id = '' THEN '' ELSE 'dbSNP_156;' END) ||
        |  'TSA=' || var_type || ';E_Freq' AS line
        |FROM g
        |WHERE NOT (length(ref) > 1 AND length(alt) > 1)""".stripMargin,

    "q52_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "q55_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact ' || lang || doc_id ||
        |    '@example.com or 10.0.' || (doc_id % 256) || '.7 end' AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  md5(regexp_replace(
        |    regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrub_md5
        |FROM inj""".stripMargin,

    "q54_seq_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $SeqPackShards AS shard,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, shard, n_tok,
        |    (CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS BIGINT) - n_tok)
        |      // 2048 AS bin
        |  FROM t)
        |SELECT lang, shard, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1, 2, 3""".stripMargin,

    "q53_hash_sample" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < (CASE lang WHEN 'en' THEN 60 WHEN 'fr' THEN 30 ELSE 10 END)""".stripMargin,

    "q51_insert_ids" ->
      """WITH store AS (
        |  SELECT c_custkey AS rgd_id, 'C' || c_custkey AS symbol, c_name AS name,
        |         'RCV' || c_custkey AS rcv_acc
        |  FROM customer WHERE c_custkey % 3 = 0),
        |inc AS (
        |  SELECT CASE WHEN c_custkey % 4 = 0 THEN 'X' || c_custkey
        |              ELSE 'C' || c_custkey END AS symbol,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'RCV' || c_custkey ELSE '' END AS rcv_acc,
        |    c_name AS name
        |  FROM customer WHERE c_custkey % 2 = 0),
        |m AS (
        |  SELECT i.symbol, i.rcv_acc, i.name,
        |    s1.rgd_id AS r1, s2.rgd_id AS r2, s3.rgd_id AS r3
        |  FROM inc i
        |  LEFT JOIN store s1 ON s1.rcv_acc = i.rcv_acc AND i.rcv_acc <> ''
        |  LEFT JOIN store s2 ON s2.symbol = i.symbol
        |  LEFT JOIN store s3 ON s3.name = i.name),
        |staged AS (
        |  SELECT symbol, rcv_acc, name,
        |    CASE WHEN r1 IS NOT NULL THEN 1 WHEN r2 IS NOT NULL THEN 2
        |         WHEN r3 IS NOT NULL THEN 3 ELSE 0 END AS matched_stage,
        |    COALESCE(r1, r2, r3) AS matched_rgd_id
        |  FROM m),
        |mx AS (SELECT COALESCE(max(rgd_id), 0) AS mid FROM store)
        |SELECT symbol, rcv_acc, name, matched_stage, matched_rgd_id AS rgd_id
        |FROM staged WHERE matched_stage > 0
        |UNION ALL
        |SELECT symbol, rcv_acc, name, matched_stage,
        |  mid + row_number() OVER (ORDER BY symbol, name, rcv_acc) AS rgd_id
        |FROM staged CROSS JOIN mx WHERE matched_stage = 0""".stripMargin,

    "q50_dedup_cluster" ->
      """WITH RECURSIVE base AS (SELECT doc_id FROM documents),
        |e0 AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM base WHERE doc_id % 10 <= 2
        |  UNION ALL
        |  SELECT doc_id, doc_id + 5 FROM base WHERE doc_id % 20 = 0),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |r AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
        |SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a""".stripMargin,

    "q49_sessionize" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM b),
        |g AS (
        |  SELECT user_id, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM f)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(tsn // 1000000) AS start_ms, max(tsn // 1000000) AS end_ms
        |FROM g GROUP BY 1, 2""".stripMargin,

    "q48_vcf_reconcile" ->
      """WITH ev AS (SELECT user_id, event_id FROM events),
        |store AS (
        |  SELECT CAST(user_id % 23 AS VARCHAR) AS chr, event_id AS pos, event_id AS rgd_id,
        |    CASE WHEN event_id % 5 <= 1 THEN 'snv' WHEN event_id % 5 = 2 THEN 'deletion'
        |         WHEN event_id % 5 = 3 THEN 'insertion' ELSE 'duplication' END AS var_type,
        |    CASE WHEN event_id % 5 <= 1 THEN
        |           (CASE WHEN event_id % 2 = 0 THEN substr('ACGT', CAST(event_id % 4 AS INT) + 1, 1)
        |                 ELSE substr('CGTA', CAST(event_id % 4 AS INT) + 1, 1) END)
        |         WHEN event_id % 5 = 2 THEN 'TTC' ELSE '-' END AS ref_nuc,
        |    CASE WHEN event_id % 5 <= 1 THEN substr('ACGT', CAST(event_id % 3 AS INT) + 1, 1)
        |         WHEN event_id % 5 = 2 THEN '-'
        |         WHEN event_id % 5 = 3 THEN 'GG' ELSE 'CC' END AS var_nuc
        |  FROM ev),
        |vcf AS (
        |  SELECT CAST(user_id % 23 AS VARCHAR) AS chr,
        |    CASE WHEN event_id % 8 IN (2,3,4,5) THEN event_id - 1 ELSE event_id END AS pos,
        |    CASE WHEN event_id % 8 <= 1 THEN substr('ACGT', CAST(event_id % 4 AS INT) + 1, 1)
        |         WHEN event_id % 8 = 2 THEN 'GTTC'
        |         WHEN event_id % 8 IN (3,4) THEN 'G'
        |         WHEN event_id % 8 = 5 THEN
        |           (CASE WHEN (event_id // 8) % 2 = 0 THEN 'GAA' ELSE 'C' END)
        |         WHEN event_id % 8 = 6 THEN 'G' ELSE 'A' END AS ref,
        |    CASE WHEN event_id % 8 <= 1 THEN
        |           (CASE WHEN event_id % 7 = 0 THEN '.'
        |                 ELSE substr('ACGT', CAST(event_id % 3 AS INT) + 1, 1) END)
        |         WHEN event_id % 8 = 2 THEN 'G'
        |         WHEN event_id % 8 IN (3,4) THEN 'GTT'
        |         WHEN event_id % 8 = 5 THEN
        |           (CASE WHEN (event_id // 8) % 2 = 0 THEN 'G' ELSE 'CCC' END)
        |         WHEN event_id % 8 = 6 THEN 'GT' ELSE '.' END AS alt,
        |    CASE WHEN event_id % 8 <= 1 THEN 'single_nucleotide_variant'
        |         WHEN event_id % 8 = 2 THEN 'Deletion'
        |         WHEN event_id % 8 = 3 THEN 'Insertion'
        |         WHEN event_id % 8 = 4 THEN 'Duplication'
        |         WHEN event_id % 8 = 5 THEN 'Microsatellite'
        |         WHEN event_id % 8 = 6 THEN 'Indel' ELSE 'Variation' END AS var_class
        |  FROM ev),
        |routed AS (
        |  SELECT *, CASE
        |    WHEN var_class = 'single_nucleotide_variant'
        |         AND length(ref) = 1 AND length(alt) = 1 THEN 'snv'
        |    WHEN var_class IN ('Insertion','Duplication') AND length(ref) = 1 THEN 'ins'
        |    WHEN var_class = 'Deletion' AND length(alt) = 1 THEN 'del'
        |    WHEN var_class = 'Microsatellite' AND length(alt) = 1 AND length(ref) > 1 THEN 'ms_del'
        |    WHEN var_class = 'Microsatellite' AND length(alt) > 1 AND length(ref) = 1 THEN 'ms_ins'
        |    WHEN var_class = 'Inversion' THEN 'inversion'
        |    WHEN var_class = 'Indel' THEN 'indel'
        |    WHEN var_class = 'Variation' THEN 'variation'
        |    ELSE 'unhandled' END AS route
        |  FROM vcf),
        |snv_agg AS (
        |  SELECT v.chr, v.pos, v.ref, v.alt, count(s.rgd_id) AS n_store,
        |    min(CASE WHEN s.ref_nuc <> v.ref THEN s.rgd_id END) AS bad_rgd_id,
        |    max(CASE WHEN s.var_nuc = v.alt THEN 1 ELSE 0 END) AS allele_match
        |  FROM (SELECT * FROM routed WHERE route = 'snv') v
        |  LEFT JOIN (SELECT * FROM store WHERE var_type = 'snv') s
        |    ON s.chr = v.chr AND s.pos = v.pos
        |  GROUP BY 1, 2, 3, 4),
        |snv_class AS (
        |  SELECT CASE WHEN n_store = 0 THEN 'clinvar snv - not in rgd'
        |              WHEN bad_rgd_id IS NOT NULL THEN 'clinvar snv - updated'
        |              WHEN allele_match = 1 THEN 'clinvar snv matches rgd'
        |              WHEN alt = '.' THEN 'clinvar snv - allele is ''.'''
        |              ELSE 'clinvar snv - allele not in rgd' END AS counter
        |  FROM snv_agg),
        |del_agg AS (
        |  SELECT v.route, v.chr, v.pos, v.ref, v.alt, count(s.rgd_id) AS n_store,
        |    max(CASE WHEN substr(v.ref, 2) = s.ref_nuc AND starts_with(s.var_nuc, '-')
        |             THEN 1 ELSE 0 END) AS m
        |  FROM (SELECT * FROM routed WHERE route IN ('del', 'ms_del')) v
        |  LEFT JOIN (SELECT * FROM store WHERE var_type NOT IN ('snv', 'insertion')) s
        |    ON s.chr = v.chr AND s.pos = v.pos + 1
        |  GROUP BY 1, 2, 3, 4, 5),
        |del_class AS (
        |  SELECT CASE WHEN n_store = 0 THEN 'clinvar ' || p || ' not in rgd'
        |              WHEN m = 1 THEN 'clinvar ' || p || ' matches rgd'
        |              ELSE 'clinvar ' || p || ' does not match rgd' END AS counter
        |  FROM (SELECT *, CASE WHEN route = 'del' THEN 'deletion' ELSE 'ms-deletion' END AS p
        |        FROM del_agg)),
        |ins_agg AS (
        |  SELECT v.route, v.chr, v.pos, count(s.rgd_id) AS n_store
        |  FROM (SELECT * FROM routed WHERE route IN ('ins', 'ms_ins')) v
        |  LEFT JOIN (SELECT * FROM store WHERE var_type <> 'snv') s
        |    ON s.chr = v.chr AND s.pos = v.pos + 1
        |  GROUP BY 1, 2, 3),
        |ins_class AS (
        |  SELECT CASE WHEN n_store = 0 THEN 'clinvar ' || p || ' not in rgd'
        |              ELSE 'clinvar ' || p || ' matches rgd' END AS counter
        |  FROM (SELECT *, CASE WHEN route = 'ins' THEN 'insertion' ELSE 'ms-insertion' END AS p
        |        FROM ins_agg)),
        |pass_class AS (
        |  SELECT CASE WHEN route = 'inversion' THEN 'clinvar inversion -- not handled'
        |              WHEN route = 'indel' THEN 'clinvar indel -- not handled'
        |              WHEN route = 'variation' AND alt = '.' THEN 'clinvar variation - allele is ''.'''
        |              ELSE 'unhandled' END AS counter
        |  FROM routed WHERE route IN ('inversion', 'indel', 'variation', 'unhandled'))
        |SELECT counter, count(*) AS n FROM (
        |  SELECT counter FROM snv_class UNION ALL SELECT counter FROM del_class
        |  UNION ALL SELECT counter FROM ins_class UNION ALL SELECT counter FROM pass_class)
        |GROUP BY 1""".stripMargin,

    // expected rows derived BY HAND from data/fixtures/vcv_sample.xml
    // against the reference's Parser.java semantics (record 100 = multi-
    // allele skip, 101 = genotype skip; 3 parse ok)
    "q45_parser_flat" ->
      """SELECT * FROM (VALUES
        |  ('CV15091', '2', 'RCV000000012', 'indel', 'SO:1000032',
        |   'likely pathogenic|pathogenic',
        |   'criteria provided, single submitter|no assertion criteria provided',
        |   'clinical testing|literature only', 'LT|Lab Two|OMIM',
        |   'HEREDITARY SPASTIC PARAPLEGIA 48 [RCV000000012]',
        |   'GGAT', 'TGCTGTAAACTGTAACTGTAAA', '2015-01-02', 1, 11, 2, 1, 3),
        |  ('CV500', '200', 'RCV000077', 'deletion', 'SO:0000159',
        |   'pathogenic', 'criteria provided, single submitter',
        |   '', 'L5|Lab Five', 'Breast-ovarian cancer, familial 1 [RCV000077]',
        |   'TCT', 'T', '2019-04-01', 1, 4, 0, 0, 1),
        |  ('CV99', '104', '', 'single nucleotide variant', 'SO:0001483',
        |   '', '', '', '', '', '', '', '', 0, 0, 0, 0, 0)
        |) AS t(symbol, variation_id, rcv_acc, object_type, so_acc_id,
        |       clinical_significance, review_status, method_type, submitter,
        |       trait_name, ref_nuc, var_nuc, date_last_evaluated,
        |       n_genes, n_xdbs, n_hgvs, n_aliases, n_map_pos)""".stripMargin,

    "q47_ont_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'T' || p_partkey AS term, 'T' || (p_partkey // 2) AS ancestor
        |  FROM part WHERE p_partkey > 1
        |  UNION ALL
        |  SELECT 'T' || p_partkey, 'T' || (p_partkey // 3)
        |  FROM part WHERE p_partkey > 2 AND p_partkey % 3 = 0),
        |closure AS (
        |  SELECT term, ancestor FROM edges
        |  UNION
        |  SELECT c.term, e.ancestor FROM closure c JOIN edges e ON c.ancestor = e.term)
        |SELECT DISTINCT term, ancestor FROM closure""".stripMargin,

    "q44_ann_ivf" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id % 64 = 0),
        |assigned AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT c.vec_id, c.v, cent.cid,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_dot_product(c.v, cent.cv) DESC, cent.cid) AS rn
        |    FROM c CROSS JOIN cent) WHERE rn = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv FROM c WHERE vec_id % 40 = 0),
        |probed AS (
        |  SELECT probe_id, pv, cid FROM (
        |    SELECT p.probe_id, p.pv, cent.cid,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_dot_product(p.pv, cent.cv) DESC, cent.cid) AS rn
        |    FROM probes p CROSS JOIN cent) WHERE rn <= 3),
        |pairs AS (
        |  SELECT probed.probe_id, a.vec_id AS neighbor_id,
        |    list_dot_product(probed.pv, a.v) /
        |      (sqrt(list_dot_product(probed.pv, probed.pv)) *
        |       sqrt(list_dot_product(a.v, a.v))) AS cos
        |  FROM probed JOIN assigned a
        |    ON a.cid = probed.cid AND a.vec_id <> probed.probe_id)
        |SELECT probe_id, rank, neighbor_id FROM (
        |  SELECT probe_id, neighbor_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM pairs) WHERE rank <= 5""".stripMargin,

    "q46_alias_sync" ->
      """WITH incoming AS (
        |  SELECT c_custkey AS rgd_id, upper(c_name) AS value,
        |         'RCV' || (c_custkey % 50) AS rcv_acc
        |  FROM customer WHERE c_custkey % 2 = 0),
        |cur0 AS (
        |  SELECT c_custkey AS rgd_id,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'stale ' || c_name ELSE c_name END AS value,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'RCV' || (c_custkey % 50)
        |         WHEN c_custkey % 7 = 0 THEN NULL ELSE 'RCVX' END AS notes
        |  FROM customer WHERE c_custkey % 3 = 0),
        |cur AS (
        |  SELECT c.* FROM cur0 c
        |  WHERE EXISTS (SELECT 1 FROM incoming i WHERE i.rgd_id = c.rgd_id)),
        |rcvsets AS (SELECT rgd_id, rcv_acc AS rcv FROM incoming),
        |outofscope AS (
        |  SELECT rgd_id, value, notes, 'delete' AS action FROM cur
        |  WHERE notes IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM rcvsets r WHERE r.rgd_id = cur.rgd_id AND r.rcv = cur.notes)),
        |cand AS (
        |  SELECT * FROM cur
        |  WHERE notes IS NULL OR EXISTS (
        |    SELECT 1 FROM rcvsets r WHERE r.rgd_id = cur.rgd_id AND r.rcv = cur.notes)),
        |matched AS (
        |  SELECT rgd_id, value, notes, 'match' AS action FROM cand
        |  WHERE EXISTS (SELECT 1 FROM incoming i
        |                WHERE i.rgd_id = cand.rgd_id AND lower(i.value) = lower(cand.value))),
        |unmatched AS (
        |  SELECT c.rgd_id, c.value, c.notes,
        |    CASE WHEN c.notes IS NOT DISTINCT FROM p.rcv_acc THEN 'delete' ELSE 'keep' END AS action
        |  FROM cand c LEFT JOIN (SELECT DISTINCT rgd_id, rcv_acc FROM incoming) p
        |    ON p.rgd_id = c.rgd_id
        |  WHERE NOT EXISTS (SELECT 1 FROM incoming i
        |                    WHERE i.rgd_id = c.rgd_id AND lower(i.value) = lower(c.value))),
        |ins AS (
        |  SELECT i.rgd_id, i.value, i.rcv_acc AS notes, 'insert' AS action
        |  FROM incoming i
        |  WHERE NOT EXISTS (SELECT 1 FROM cand c
        |                    WHERE c.rgd_id = i.rgd_id AND lower(c.value) = lower(i.value)))
        |SELECT * FROM outofscope UNION ALL SELECT * FROM matched
        |UNION ALL SELECT * FROM unmatched UNION ALL SELECT * FROM ins""".stripMargin,

    "q23_lsh_pairs" -> lshPairsOracleSql,

    "q56_incr_dedup" -> incrDedupOracleSql,

    "q58_epoch_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 1700 WHEN 'fr' THEN 2000 ELSE 400 END AS pm,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS b
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, lang,
        |    (pm // 1000) + (CASE WHEN b < pm % 1000 THEN 1 ELSE 0 END) AS copies
        |  FROM w)
        |SELECT doc_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS copy
        |FROM n WHERE copies > 0""".stripMargin,

    // expected rows hand-derived from the fixture TSV: comment line
    // skipped, empty-OMIM row filtered, duplicate OMIM deduped+sorted
    "q57_concept_tsv" ->
      """SELECT * FROM (VALUES
        |  ('C3150901', '9907', '613647|613648'),
        |  ('C200', '672', '113705'),
        |  ('C999', '123', '600000')
        |) AS t(concept_cui, gene_id, omim_csv)""".stripMargin,

    "q24_simhash" -> TextStats.simhashMd5Sql("documents", "doc_id", "text"),

    "q25_ann_lsh" -> annLshOracleSql,

    // chunkBySeparator as a recursive CTE: while len > 120, cut at the
    // last '|' with 0-based index <= 120 (hard cut if none); heads are
    // emitted per iteration, the terminal rest is the final chunk.
    "q26_merge_split" ->
      """WITH RECURSIVE base AS (
        |  SELECT l_suppkey, string_agg(DISTINCT xref, '|' ORDER BY xref) AS v
        |  FROM (SELECT l_suppkey,
        |          l_returnflag || '_' || l_linestatus || '_' || (l_orderkey % 100) AS xref
        |        FROM lineitem)
        |  GROUP BY l_suppkey),
        |rec(l_suppkey, rest, head) AS (
        |  SELECT l_suppkey, v, CAST(NULL AS VARCHAR) FROM base
        |  UNION ALL
        |  SELECT l_suppkey,
        |    CASE WHEN pos0 <= 0 THEN substr(rest, 121) ELSE substr(rest, pos0 + 2) END,
        |    CASE WHEN pos0 <= 0 THEN substr(rest, 1, 120) ELSE substr(rest, 1, pos0) END
        |  FROM (SELECT l_suppkey, rest,
        |          CASE WHEN strpos(reverse(substr(rest, 1, 121)), '|') = 0 THEN 0
        |               ELSE 121 - strpos(reverse(substr(rest, 1, 121)), '|') END AS pos0
        |        FROM rec WHERE length(rest) > 120) t)
        |SELECT l_suppkey, head AS xrefs FROM rec WHERE head IS NOT NULL
        |UNION ALL
        |SELECT l_suppkey, rest AS xrefs FROM rec WHERE length(rest) <= 120""".stripMargin,

    "q80_topk_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |pg AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT gram, CAST(sum(c) AS BIGINT) AS n_occ, count(*) AS n_docs
        |FROM pg GROUP BY gram
        |ORDER BY n_occ DESC, n_docs DESC, gram LIMIT 50""".stripMargin,

    // mirrors the q81 closure's line construction (10-token lines,
    // (doc_id+j)%4 drops the '.', planted lorem/curly lines at i=1000/
    // 1001 so they sort last like the Spark-side array appends), then
    // the C4 rules: line kept iff terminal punct AND >= 5 words; doc
    // kept iff no bad phrase anywhere AND >= 3 kept lines
    "q81_policy_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |seg AS (
        |  SELECT doc_id, i,
        |    array_to_string(t[i*10+1:i*10+10], ' ') ||
        |      CASE WHEN (doc_id + i) % 4 = 0 THEN '' ELSE '.' END AS line
        |  FROM tok, unnest(generate_series(0, (len(t) - 1) // 10)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 1000, 'lorem ipsum dolor sit' FROM tok WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, 1001, 'function() { return 1; } and more words.'
        |  FROM tok WHERE doc_id % 17 = 0),
        |flag AS (
        |  SELECT doc_id, i, line,
        |    (regexp_matches(line, '[.!?]\s*$') AND
        |     len(regexp_split_to_array(trim(line), '\s+')) >= 5) AS k
        |  FROM seg),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) AS n_lines,
        |    CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    string_agg(CASE WHEN k THEN line END, chr(10) ORDER BY i) AS clean_all,
        |    max(CASE WHEN contains(lower(line), 'lorem ipsum')
        |             OR contains(line, '{') THEN 1 ELSE 0 END) AS bad
        |  FROM flag GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_kept,
        |  CAST(CASE WHEN bad = 0 AND n_kept >= 3 THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |  CASE WHEN bad = 0 AND n_kept >= 3 THEN clean_all END AS clean_text
        |FROM agg""".stripMargin,

    "q82_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |top AS (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 100)
        |SELECT tok, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank,
        |  CAST(sum(n) OVER (ORDER BY n DESC, tok
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        |  CAST(1000 * CAST(sum(n) OVER (ORDER BY n DESC, tok
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) // tot AS BIGINT) AS cover_milli
        |FROM top, tt""".stripMargin,

    // the global running sum the two-phase prefix sum computes,
    // expressed directly as an unbounded window over the same
    // (md5 key, doc_id) total order
    "q83_shard_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |FROM t""".stripMargin,

    // q83's pack, then the epoch permutation as a per-shard window over
    // the epoch-salted md5 order, 0-based pos, strict-after cursor
    "q142_epoch_resume" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |  FROM t),
        |ordered AS (
        |  SELECT doc_id, n_tokens, shard, CAST(1 AS BIGINT) AS epoch,
        |    CAST(row_number() OVER (PARTITION BY shard
        |      ORDER BY md5('epoch:1:' || doc_id), doc_id) - 1 AS BIGINT) AS pos
        |  FROM packed)
        |SELECT doc_id, n_tokens, shard, epoch, pos
        |FROM ordered
        |WHERE shard > 1 OR (shard = 1 AND pos > 4)""".stripMargin,

    // the same global offset window, then one row per spanned 512-token
    // bin with the piece-boundary arithmetic
    "q143_sample_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM t),
        |pieces AS (
        |  SELECT doc_id, n_tokens, start,
        |    CAST(unnest(generate_series(start // 512, (start + n_tokens - 1) // 512)) AS BIGINT) AS bin,
        |    start // 512 AS first_bin
        |  FROM off WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, bin,
        |  CAST(greatest(start - bin * 512, 0) AS BIGINT) AS local_start,
        |  CAST(least((bin + 1) * 512, start + n_tokens) - greatest(bin * 512, start) AS BIGINT) AS piece_len,
        |  bin > first_bin AS is_continuation
        |FROM pieces""".stripMargin,

    // q49's session CTEs + a per-session role lag: violations count
    // same-role adjacencies, validity is their zero-ness
    "q144_dialogue_qc" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM b),
        |g AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM f),
        |r AS (
        |  SELECT user_id, session_seq, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, session_seq
        |      ORDER BY tsn, event_id) AS prev_role
        |  FROM g)
        |SELECT user_id, session_seq, count(*) AS n_turns,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_roles,
        |  CAST(sum(CASE WHEN prev_role = event_type THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alternation_violations,
        |  sum(CASE WHEN prev_role = event_type THEN 1 ELSE 0 END) = 0 AS valid_dialogue
        |FROM r GROUP BY 1, 2""".stripMargin,

    // q84 shares q68's oracle verbatim: decontaminateBloom is the same
    // operator in a different memory regime (no false negatives + exact
    // verify semi-join => identical output by construction)
    "q84_decontam_bloom" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
        |  FROM tok, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0)
        |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
        |FROM grams g JOIN bench b ON g.g = b.g
        |WHERE g.doc_id % 11 <> 0
        |GROUP BY g.doc_id""".stripMargin,

    // the two-pass group-wise top-n is semantically the per-group
    // row_number window — the oracle states it directly
    "q85_stratified_sample" ->
      """SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('strat:' || doc_id), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin,

    // rebuilds the CmsSketch counter table relationally: 48-bit md5
    // base split into four 8-bit windows (divisors 256^j), counters =
    // per-(row, bucket) occurrence counts, estimate = min over rows
    "q86_cms_heavyhitters" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |occ AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |jd AS (SELECT * FROM (VALUES (0, 1), (1, 256), (2, 65536), (3, 16777216)) AS v(j, d)),
        |base AS (
        |  SELECT ('0x' || substr(md5(gram), 1, 12))::BIGINT AS b FROM occ),
        |cells AS (
        |  SELECT j, (b // d) % 256 AS bucket, count(*) AS c
        |  FROM base CROSS JOIN jd GROUP BY 1, 2),
        |pg AS (SELECT gram, doc_id, count(*) AS c FROM occ GROUP BY 1, 2),
        |top AS (
        |  SELECT gram, CAST(sum(c) AS BIGINT) AS n_occ, count(*) AS n_docs
        |  FROM pg GROUP BY gram
        |  ORDER BY n_occ DESC, n_docs DESC, gram LIMIT 50)
        |SELECT t.gram, t.n_occ, CAST(min(cl.c) AS BIGINT) AS cms_est
        |FROM top t
        |CROSS JOIN jd
        |JOIN cells cl ON cl.j = jd.j
        |  AND cl.bucket = (('0x' || substr(md5(t.gram), 1, 12))::BIGINT // jd.d) % 256
        |GROUP BY t.gram, t.n_occ""".stripMargin,

    // the stage oracles composed as CTEs: q17's token count as the
    // quality gate, q16's min-id digest keep, q68's gram containment
    // on the survivors, q83's window prefix sum for the shard cut
    "q87_curation_e2e" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
        |q AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM train),
        |filt AS (SELECT * FROM q WHERE n_tokens >= 20),
        |ded AS (
        |  SELECT doc_id, text, n_tokens FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM filt)
        |  WHERE doc_id = keeper),
        |tokh AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM ded),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+3], ' ') AS g
        |  FROM tokh, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
        |btok AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 11 = 0),
        |bench AS (
        |  SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS g
        |  FROM btok, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
        |contaminated AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)),
        |clean AS (
        |  SELECT d.doc_id, d.n_tokens FROM ded d
        |  LEFT JOIN contaminated c ON d.doc_id = c.doc_id WHERE c.doc_id IS NULL),
        |keyed AS (SELECT doc_id, n_tokens, md5('shard:' || doc_id) AS k FROM clean)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |FROM keyed""".stripMargin,

    // the scorer rebuilt relationally: md5-bucket feature hash, the
    // same Knuth-scrambled integer weights, integer margin sum
    "q88_hash_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    ((('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096) * 2654435761) % 1000 - 500 AS w
        |  FROM tok WHERE length(tok) > 0)
        |SELECT doc_id, CAST(sum(w) AS BIGINT) AS margin, count(*) AS n_feats,
        |  CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
        |FROM feat GROUP BY doc_id""".stripMargin,

    // span identity by TEXT here vs xxhash64 on the Spark side — the
    // q76 duality (collision odds vanishing, scaladoc'd); coverage =
    // position within [start, start+7] of any duplicated span
    "q89_span_cut" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, i, t[i + 1] AS tok
        |  FROM tok, unnest(generate_series(0, len(t) - 1)) AS u(i)),
        |spans AS (
        |  SELECT doc_id, i, array_to_string(t[i+1:i+8], ' ') AS sp
        |  FROM tok, unnest(generate_series(0, len(t) - 8)) AS u(i)
        |  WHERE len(t) >= 8),
        |idx AS (SELECT sp FROM spans GROUP BY sp HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT s.doc_id, s.i FROM spans s JOIN idx USING (sp)),
        |kept AS (
        |  SELECT p.doc_id, p.i, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM dup d
        |    WHERE d.doc_id = p.doc_id AND p.i BETWEEN d.i AND d.i + 7)),
        |per AS (
        |  SELECT doc_id, count(*) AS n, string_agg(tok, ' ' ORDER BY i) AS txt
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.n, 0) AS BIGINT) AS n_kept,
        |  coalesce(p.txt, '') AS clean_text
        |FROM tok t LEFT JOIN per p USING (doc_id)""".stripMargin,

    // the same integer-milli BM25 surrogate rebuilt relationally —
    // every factor is an integer `//` quotient, so the score is
    // bit-identical (see Retrieval.searchTopK's determinism contract)
    "q90_retrieval" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |postings AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |doclen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY 1),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    greatest(CAST(sum(dl) AS BIGINT) // count(*), 1) AS avgdl
        |  FROM doclen),
        |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
        |qt AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id,
        |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')[1:8]) AS term
        |    FROM documents WHERE doc_id % 101 = 0)),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(
        |      ((1000 * (s.n_docs - f.df + 1)) // (f.df + 1)) *
        |      ((p.tf * 2200000) // (p.tf * 1000 +
        |        (1200 * (250 + (750 * ((1000 * d.dl) // s.avgdl)) // 1000)) // 1000))
        |    ) AS BIGINT) AS score
        |  FROM postings p
        |  JOIN qt q USING (term)
        |  JOIN dfreq f USING (term)
        |  JOIN doclen d USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
        |  FROM scored)
        |WHERE rk <= 5""".stripMargin,

    // the 2 Lloyd iterations unrolled as CTEs over the same
    // floor(x*1000)+32768 quantization — all-integer distances and
    // truncating means, so both engines agree bit-for-bit
    "q91_kmeans" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cent0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |d1 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a USING (id) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c USING (dim) GROUP BY 1, 2)
        |SELECT id AS vec_id, cluster, dist2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |  FROM d2)
        |WHERE rk = 1""".stripMargin,

    "q92_adaptive_cutoff" ->
      """WITH cut AS (
        |  SELECT source, quantile_cont(n_chars, 0.25) AS cutoff
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.source, d.n_chars, c.cutoff,
        |  CAST(CASE WHEN d.n_chars >= c.cutoff THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d JOIN cut c USING (source)""".stripMargin,

    // q91's training CTEs + one more update pass (cent2 = means over
    // the final assignment), dequantized, feeding q44's IVF serving
    // shape (list_dot_product assignment / probe ranking / cosine top-k)
    "q93_ivf_trained" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cent0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |d1 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a USING (id) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |cent2 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a2 a USING (id) GROUP BY 1, 2),
        |cvec AS (
        |  SELECT cluster AS cid, list((cv - 32768) / 1000.0 ORDER BY dim) AS cv
        |  FROM cent2 GROUP BY cluster),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, v, cid FROM (
        |    SELECT c.vec_id, c.v, cvec.cid,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_dot_product(c.v, cvec.cv) DESC, cvec.cid) AS rn
        |    FROM c CROSS JOIN cvec) WHERE rn = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv FROM c WHERE vec_id % 101 = 0),
        |probed AS (
        |  SELECT probe_id, pv, cid FROM (
        |    SELECT p.probe_id, p.pv, cvec.cid,
        |      row_number() OVER (PARTITION BY p.probe_id
        |        ORDER BY list_dot_product(p.pv, cvec.cv) DESC, cvec.cid) AS rn
        |    FROM probes p CROSS JOIN cvec) WHERE rn <= 2),
        |pairs AS (
        |  SELECT probed.probe_id, a.vec_id AS neighbor_id,
        |    list_dot_product(probed.pv, a.v) /
        |      (sqrt(list_dot_product(probed.pv, probed.pv)) *
        |       sqrt(list_dot_product(a.v, a.v))) AS cos
        |  FROM probed JOIN assigned a USING (cid)
        |  WHERE a.vec_id <> probed.probe_id)
        |SELECT probe_id, CAST(rk AS BIGINT) AS rank, neighbor_id, cos FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rk
        |  FROM pairs)
        |WHERE rk <= 5""".stripMargin,

    // q93's trained-centroid CTE chain (2 Lloyd iterations on the
    // integer-quantized grid, dequantized means) + q77's assignment /
    // within-cluster cosine prune, over the k-means lists
    "q95_semdedup_trained" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cent0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |d1 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a USING (id) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |cent2 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a2 a USING (id) GROUP BY 1, 2),
        |cvec AS (
        |  SELECT cluster AS cid, list((cv - 32768) / 1000.0 ORDER BY dim) AS cv
        |  FROM cent2 GROUP BY cluster),
        |c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |assigned AS (
        |  SELECT id, v, cid FROM (
        |    SELECT c.id, c.v, cvec.cid,
        |      row_number() OVER (PARTITION BY c.id
        |        ORDER BY list_dot_product(c.v, cvec.cv) DESC, cvec.cid) AS rn
        |    FROM c CROSS JOIN cvec) WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT b.id
        |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id < b.id
        |  WHERE list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.42)
        |SELECT c.id AS vec_id FROM c LEFT JOIN losers l ON c.id = l.id
        |WHERE l.id IS NULL""".stripMargin,

    // q88's tokenization + md5 feature hashing; w1 = X'y (w0 = 0 makes
    // every doc misclassified), step 2 adds X'y over docs with y*m <= 0
    "q96_perceptron" ->
      """WITH tok AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, y,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS j, count(*) AS c
        |  FROM tok WHERE length(tok) > 0 GROUP BY 1, 2, 3),
        |w1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w FROM feat GROUP BY j),
        |m2 AS (
        |  SELECT f.doc_id, f.y, CAST(sum(w1.w * f.c) AS BIGINT) AS m
        |  FROM feat f JOIN w1 USING (j) GROUP BY 1, 2),
        |mis2 AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
        |upd2 AS (
        |  SELECT j, CAST(sum(y * c) AS BIGINT) AS dw
        |  FROM feat WHERE doc_id IN (SELECT doc_id FROM mis2) GROUP BY j)
        |SELECT w1.j AS feature_id,
        |  CAST(w1.w + coalesce(upd2.dw, 0) AS BIGINT) AS weight
        |FROM w1 LEFT JOIN upd2 USING (j)""".stripMargin,

    // q96's training CTEs + a margin-scoring pass with the final weights
    "q97_train_serve" ->
      """WITH tok AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, y,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS j, count(*) AS c
        |  FROM tok WHERE length(tok) > 0 GROUP BY 1, 2, 3),
        |w1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w FROM feat GROUP BY j),
        |m2 AS (
        |  SELECT f.doc_id, f.y, CAST(sum(w1.w * f.c) AS BIGINT) AS m
        |  FROM feat f JOIN w1 USING (j) GROUP BY 1, 2),
        |mis2 AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
        |upd2 AS (
        |  SELECT j, CAST(sum(y * c) AS BIGINT) AS dw
        |  FROM feat WHERE doc_id IN (SELECT doc_id FROM mis2) GROUP BY j),
        |wf AS (
        |  SELECT w1.j, CAST(w1.w + coalesce(upd2.dw, 0) AS BIGINT) AS w
        |  FROM w1 LEFT JOIN upd2 USING (j))
        |SELECT f.doc_id, CAST(sum(wf.w * f.c) AS BIGINT) AS margin,
        |  CAST(CASE WHEN sum(wf.w * f.c) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
        |FROM feat f JOIN wf USING (j) GROUP BY f.doc_id""".stripMargin,

    // q86's cell construction, but emitting the FULL flat counter table
    // (zeros included — the merged array has all depth*width positions)
    "q98_cms_merge" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |occ AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |jd AS (SELECT * FROM (VALUES (0, 1), (1, 256), (2, 65536), (3, 16777216)) AS v(j, d)),
        |base AS (
        |  SELECT ('0x' || substr(md5(gram), 1, 12))::BIGINT AS b FROM occ),
        |cells AS (
        |  SELECT j, (b // d) % 256 AS bucket, count(*) AS c
        |  FROM base CROSS JOIN jd GROUP BY 1, 2),
        |allpos AS (
        |  SELECT j, bucket FROM jd, unnest(generate_series(0, 255)) AS u(bucket))
        |SELECT CAST(a.j * 256 + a.bucket AS BIGINT) AS pos,
        |  CAST(coalesce(c.c, 0) AS BIGINT) AS counter
        |FROM allpos a LEFT JOIN cells c ON a.j = c.j AND a.bucket = c.bucket""".stripMargin,

    // all quantities non-negative, so DuckDB's floor // equals Spark's
    // truncating div; two rank steps as CTEs, dangling mass dropped
    "q99_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 'h' || (doc_id % 101) AS src,
        |    'h' || ((doc_id * 7 + 3) % 101) AS dst
        |  FROM documents
        |  WHERE 'h' || (doc_id % 101) <> 'h' || ((doc_id * 7 + 3) % 101)),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000 AS BIGINT) AS rank FROM n),
        |c1 AS (
        |  SELECT e.dst AS node, CAST(sum(r0.rank // od.outdeg) AS BIGINT) AS inflow
        |  FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src GROUP BY 1),
        |r1 AS (
        |  SELECT n.node, CAST(150 + (850 * coalesce(c1.inflow, 0)) // 1000 AS BIGINT) AS rank
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, CAST(sum(r1.rank // od.outdeg) AS BIGINT) AS inflow
        |  FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src GROUP BY 1),
        |r2 AS (
        |  SELECT n.node, CAST(150 + (850 * coalesce(c2.inflow, 0)) // 1000 AS BIGINT) AS rank
        |  FROM n LEFT JOIN c2 USING (node))
        |SELECT node, rank FROM r2""".stripMargin,

    // q50's CC CTEs give the representative; the split bucket is the
    // md5 permille of the rep (singletons = own id)
    "q100_leakage_split" ->
      """WITH RECURSIVE base AS (SELECT doc_id FROM documents),
        |e0 AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM base WHERE doc_id % 10 <= 2
        |  UNION ALL
        |  SELECT doc_id, doc_id + 5 FROM base WHERE doc_id % 20 = 0),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |r AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
        |reps AS (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
        |assigned AS (
        |  SELECT d.doc_id, coalesce(reps.rep, d.doc_id) AS rep
        |  FROM base d LEFT JOIN reps ON d.doc_id = reps.id),
        |b AS (
        |  SELECT doc_id, rep,
        |    ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket
        |  FROM assigned)
        |SELECT doc_id, rep,
        |  CASE WHEN bucket < 100 THEN 'test'
        |       WHEN bucket < 200 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM b""".stripMargin,

    "q101_cc_distributed" ->
      """WITH RECURSIVE base AS (SELECT event_id FROM events),
        |e0 AS (
        |  SELECT event_id AS a, event_id + 1 AS b FROM base WHERE event_id % 10 <= 2
        |  UNION ALL
        |  SELECT event_id, event_id + 5 FROM base WHERE event_id % 20 = 0),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |r AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
        |SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a""".stripMargin,

    "q102_lsh_recall" ->
      s"""WITH sample AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 500),
         |lsh AS (
         |${lshPairsSqlFrom("sample")}
         |),
         |w2 AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM sample),
         |sh2 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(0, greatest(len(w) - 3, 0) + 1),
         |    i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
         |  FROM w2),
         |cnt2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
         |inter2 AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
         |  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT id_a, id_b FROM inter2
         |  JOIN cnt2 ca ON ca.doc_id = id_a
         |  JOIN cnt2 cb ON cb.doc_id = id_b
         |  WHERE CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) >= 0.2),
         |s AS (
         |  SELECT (SELECT count(*) FROM sample) AS n_docs,
         |         (SELECT count(*) FROM truth) AS n_true_pairs,
         |         (SELECT count(*) FROM lsh) AS n_lsh_pairs)
         |SELECT n_docs, n_true_pairs, n_lsh_pairs,
         |  CASE WHEN n_true_pairs = 0 THEN 1000
         |       ELSE n_lsh_pairs * 1000 // n_true_pairs END AS recall_milli
         |FROM s""".stripMargin,

    // the same [a-z0-9]+ token stream; prefix counts derive from bigram
    // counts; all-integer surprisal 1000*c1 // cb
    "q103_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
        |m AS (
        |  SELECT cb.w1, cb.w2, CAST((1000 * c1.c1) // cb.cb AS BIGINT) AS surp
        |  FROM cb JOIN c1 USING (w1))
        |SELECT bi.doc_id, CAST(sum(m.surp) AS BIGINT) AS total_surp,
        |  count(*) AS n_bigrams,
        |  CAST(sum(m.surp) // count(*) AS BIGINT) AS avg_surp
        |FROM bi JOIN m USING (w1, w2)
        |GROUP BY 1""".stripMargin,

    // the sub-keyed relational form of the PQ chain: quantize on the
    // same floor(x*1000)+32768 grid, per-subspace Lloyd (first-k init ->
    // assign -> truncating-integer means), encode, LUT, ADC sum — every
    // step exact integers, ties to the smaller cluster/neighbor id
    "q104_pq_adc" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST((i - 1) // (len(embedding) // 2) AS BIGINT) AS sub,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cent0 AS (SELECT sub, id AS cluster, dim, v AS cv FROM quant WHERE id < 4),
        |d1 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |a1 AS (
        |  SELECT id, sub, cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.sub, a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a ON q.id = a.id AND q.sub = a.sub
        |  GROUP BY 1, 2, 3),
        |d2 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT id, sub, cluster AS code FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |lut AS (
        |  SELECT q.id AS qid, q.sub, c.cluster AS code,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  WHERE q.id % 101 = 0
        |  GROUP BY 1, 2, 3),
        |adc AS (
        |  SELECT l.qid, c.id, CAST(sum(l.d2) AS BIGINT) AS adc2
        |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id, adc2
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc2, id) AS rk
        |  FROM adc WHERE id <> qid)
        |WHERE rk <= 5""".stripMargin,

    // q104's PQ chain + a coarse full-vector Lloyd chain (q91's CTE
    // shape, k=8, 1 iteration); candidate pairs = probed-list members
    // (nprobe=2), ADC restricted to them
    "q105_ivfadc" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST((i - 1) // (len(embedding) // 2) AS BIGINT) AS sub,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cc0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |cd1 AS (
        |  SELECT q.id, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cc0 c ON q.dim = c.dim GROUP BY 1, 2),
        |ca1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM cd1)
        |  WHERE rk = 1),
        |cc1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN ca1 a USING (id) GROUP BY 1, 2),
        |cd2 AS (
        |  SELECT q.id, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cc1 c ON q.dim = c.dim GROUP BY 1, 2),
        |lists AS (
        |  SELECT id, cluster AS list FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM cd2)
        |  WHERE rk = 1),
        |plists AS (
        |  SELECT qid, list FROM (
        |    SELECT id AS qid, cluster AS list, row_number() OVER (
        |      PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM cd2 WHERE id % 101 = 0)
        |  WHERE rk <= 2),
        |cent0 AS (SELECT sub, id AS cluster, dim, v AS cv FROM quant WHERE id < 4),
        |d1 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |a1 AS (
        |  SELECT id, sub, cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.sub, a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a ON q.id = a.id AND q.sub = a.sub
        |  GROUP BY 1, 2, 3),
        |d2 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT id, sub, cluster AS code FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |lut AS (
        |  SELECT q.id AS qid, q.sub, c.cluster AS code,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  WHERE q.id % 101 = 0
        |  GROUP BY 1, 2, 3),
        |cand AS (SELECT p.qid, l.id FROM lists l JOIN plists p USING (list)),
        |adc AS (
        |  SELECT c.qid, c.id, CAST(sum(l.d2) AS BIGINT) AS adc2
        |  FROM cand c
        |  JOIN codes co ON co.id = c.id
        |  JOIN lut l ON l.qid = c.qid AND l.sub = co.sub AND l.code = co.code
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id, adc2
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc2, id) AS rk
        |  FROM adc WHERE id <> qid)
        |WHERE rk <= 5""".stripMargin,

    // q102's shingle idiom + the q86 48-bit md5 hash pairing; bottom-k
    // of the union via ORDER BY h LIMIT k
    "q106_corpus_overlap" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(w) - 3, 0) + 1),
        |    i -> array_to_string(w[i+1:i+3], ' ')))) AS g
        |  FROM w),
        |ha AS (
        |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 12))::BIGINT AS h
        |  FROM sh WHERE doc_id % 2 = 0),
        |hb AS (
        |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 12))::BIGINT AS h
        |  FROM sh WHERE doc_id % 2 = 1),
        |u AS (
        |  SELECT h, max(a) AS in_a, max(b) AS in_b FROM (
        |    SELECT h, 1 AS a, 0 AS b FROM ha
        |    UNION ALL
        |    SELECT h, 0, 1 FROM hb) t
        |  GROUP BY h),
        |bk AS (SELECT * FROM u ORDER BY h LIMIT 256)
        |SELECT
        |  (SELECT count(*) FROM ha) AS n_grams_a,
        |  (SELECT count(*) FROM hb) AS n_grams_b,
        |  count(*) AS k_used,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |  CAST((1000 * sum(in_a * in_b)) // count(*) AS BIGINT) AS jaccard_milli
        |FROM bk""".stripMargin,

    // q72's CC CTEs + the two-step (priority, id) argmin
    "q107_priority_dedup" ->
      s"""WITH RECURSIVE p0 AS (
         |$lshPairsOracleSql
         |),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p0 UNION SELECT id_b, id_a FROM p0),
         |r AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
         |reps AS (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
         |d AS (
         |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS priority,
         |    coalesce(reps.rep, doc_id) AS rep
         |  FROM documents LEFT JOIN reps ON doc_id = reps.id),
         |mp AS (SELECT rep, min(priority) AS best_prio FROM d GROUP BY rep),
         |keep AS (
         |  SELECT min(d.doc_id) AS doc_id
         |  FROM d JOIN mp ON d.rep = mp.rep AND d.priority = mp.best_prio
         |  GROUP BY d.rep)
         |SELECT d2.doc_id, CAST(substr(d2.source, 4) AS BIGINT) AS priority
         |FROM documents d2 JOIN keep USING (doc_id)""".stripMargin,

    // q103's CTEs with the model restricted to even docs and scoring to
    // odd docs (train -> serve split)
    "q108_lm_train_serve" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |cb AS (
        |  SELECT w1, w2, count(*) AS cb FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
        |m AS (
        |  SELECT cb.w1, cb.w2, CAST((1000 * c1.c1) // cb.cb AS BIGINT) AS surp
        |  FROM cb JOIN c1 USING (w1))
        |SELECT bi.doc_id, CAST(sum(m.surp) AS BIGINT) AS total_surp,
        |  count(*) AS n_bigrams,
        |  CAST(sum(m.surp) // count(*) AS BIGINT) AS avg_surp
        |FROM bi JOIN m USING (w1, w2)
        |WHERE bi.doc_id % 2 = 1
        |GROUP BY 1""".stripMargin,

    // q90's CTEs + the matched-term count vs the per-query term count
    "q109_retrieval_conj" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |postings AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |doclen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY 1),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    greatest(CAST(sum(dl) AS BIGINT) // count(*), 1) AS avgdl
        |  FROM doclen),
        |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
        |qt AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id,
        |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')[1:8]) AS term
        |    FROM documents WHERE doc_id % 101 = 0)),
        |nq AS (SELECT query_id, count(*) AS n_qterms FROM qt GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(
        |      ((1000 * (s.n_docs - f.df + 1)) // (f.df + 1)) *
        |      ((p.tf * 2200000) // (p.tf * 1000 +
        |        (1200 * (250 + (750 * ((1000 * d.dl) // s.avgdl)) // 1000)) // 1000))
        |    ) AS BIGINT) AS score,
        |    count(*) AS n_matched
        |  FROM postings p
        |  JOIN qt q USING (term)
        |  JOIN dfreq f USING (term)
        |  JOIN doclen d USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id, score FROM (
        |  SELECT s.*, row_number() OVER (
        |    PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id) AS rk
        |  FROM scored s JOIN nq USING (query_id)
        |  WHERE s.n_matched = nq.n_qterms)
        |WHERE rk <= 5""".stripMargin,

    "q110_dedup_provenance" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper,
        |  string_agg(DISTINCT source, '|' ORDER BY source) AS provenance
        |FROM documents GROUP BY 1""".stripMargin,

    // DuckDB's NATIVE ASOF JOIN as the oracle; right side pre-deduped to
    // one row per (user, ts) — the same determinism contract both engines
    // require at duplicate timestamps
    "q111_asof_join" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |r0 AS (
        |  SELECT user_id, ts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.click_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  r0.view_id AS asof_view_id
        |FROM l ASOF LEFT JOIN r0
        |  ON l.user_id = r0.user_id AND l.ts >= r0.ts""".stripMargin,

    // the inequality join DuckDB plans natively (IEJoin); the Spark side
    // is the grid-bucket equi-join — same pair set
    "q112_range_join" ->
      """WITH s AS (
        |  SELECT event_id AS signup_id, user_id, ts
        |  FROM events WHERE event_type = 'signup'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click')
        |SELECT s.signup_id, c.click_id, s.user_id
        |FROM s JOIN c
        |  ON s.user_id = c.user_id
        |  AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 24 HOUR""".stripMargin,

    // same window arithmetic: starts 0, 16, ..., ceil((n-32)/16)*16
    // (clamped at 0), inclusive 32-token slices, remnant kept
    "q113_chunk_windows" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> len(t) > 0) AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM w WHERE len(t) > 0),
        |starts AS (
        |  SELECT doc_id, t, CAST(u.s AS BIGINT) AS st
        |  FROM nz, unnest(generate_series(0,
        |    greatest(0, CAST(ceil((n - 32) / 16.0) AS INT)) * 16, 16)) AS u(s))
        |SELECT doc_id, st // 16 AS chunk_idx,
        |  array_to_string(t[st+1:st+32], ' ') AS chunk_text,
        |  CAST(len(t[st+1:st+32]) AS BIGINT) AS n_tokens
        |FROM starts""".stripMargin,

    "q114_dup_histogram" ->
      """WITH g AS (
        |  SELECT md5(text) AS h, count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT n_copies, count(*) AS n_groups,
        |  CAST(n_copies * count(*) AS BIGINT) AS n_docs,
        |  CAST((n_copies - 1) * count(*) AS BIGINT) AS n_removable
        |FROM g GROUP BY 1""".stripMargin,

    // equal-ts views dedup to the max-(view_id,value,props) row — view_id
    // is unique, so ordering by it alone matches the Spark sweep's
    // lexicographic struct max; DuckDB's native ASOF carries the row
    "q116_asof_payload" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |r0 AS (
        |  SELECT user_id, ts, event_id AS view_id, value, props
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1)
        |SELECT l.click_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  r0.view_id AS asof_view_id, r0.value AS asof_value,
        |  r0.props AS asof_props
        |FROM l ASOF LEFT JOIN r0
        |  ON l.user_id = r0.user_id AND l.ts >= r0.ts""".stripMargin,

    // the inequality join DuckDB plans natively; the Spark side is the
    // grid-bucket equi-join with the emit-once cell rule — same pair set
    "q117_interval_overlap" ->
      """WITH s AS (
        |  SELECT event_id AS signup_id, user_id,
        |    ts AS lo, ts + INTERVAL 24 HOUR AS hi
        |  FROM events WHERE event_type = 'signup'),
        |c AS (
        |  SELECT event_id AS click_id, user_id,
        |    ts AS lo, ts + INTERVAL 1 HOUR AS hi
        |  FROM events WHERE event_type = 'click')
        |SELECT s.signup_id, c.click_id, s.user_id
        |FROM s JOIN c
        |  ON s.user_id = c.user_id
        |  AND s.lo <= c.hi AND c.lo <= s.hi""".stripMargin,

    // the FORWARD twin: DuckDB's native ASOF with the inequality
    // reversed (l.ts <= r.ts); same equal-ts max-payload dedup
    "q119_asof_next" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |r0 AS (
        |  SELECT user_id, ts, event_id AS view_id, value
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1)
        |SELECT l.click_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  r0.view_id AS asof_view_id, r0.value AS asof_value
        |FROM l ASOF LEFT JOIN r0
        |  ON l.user_id = r0.user_id AND l.ts <= r0.ts""".stripMargin,

    // q93's trained-centroid chain (2 Lloyd iterations, dequantized
    // means) re-quantized to the integer grid, then q105's list/probe
    // assignment + sub-codebook/ADC chain against those lists
    "q120_ivfadc_trained" ->
      """WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST((i - 1) // (len(embedding) // 2) AS BIGINT) AS sub,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |tc0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |td1 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN tc0 c USING (dim) GROUP BY 1, 2),
        |ta1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM td1)
        |  WHERE rk = 1),
        |tc1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN ta1 a USING (id) GROUP BY 1, 2),
        |td2 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN tc1 c USING (dim) GROUP BY 1, 2),
        |ta2 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM td2)
        |  WHERE rk = 1),
        |tc2 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN ta2 a USING (id) GROUP BY 1, 2),
        |cvq AS (
        |  SELECT cluster, dim,
        |    CAST(floor(((cv - 32768) / 1000.0) * 1000) + 32768 AS BIGINT) AS cv
        |  FROM tc2),
        |cd AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cvq c USING (dim) GROUP BY 1, 2),
        |lists AS (
        |  SELECT id, cluster AS list FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM cd)
        |  WHERE rk = 1),
        |plists AS (
        |  SELECT qid, list FROM (
        |    SELECT id AS qid, cluster AS list, row_number() OVER (
        |      PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM cd WHERE id % 101 = 0)
        |  WHERE rk <= 2),
        |cent0 AS (SELECT sub, id AS cluster, dim, v AS cv FROM quant WHERE id < 4),
        |d1 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |a1 AS (
        |  SELECT id, sub, cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.sub, a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a ON q.id = a.id AND q.sub = a.sub
        |  GROUP BY 1, 2, 3),
        |d2 AS (
        |  SELECT q.id, q.sub, c.cluster,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT id, sub, cluster AS code FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY id, sub ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |lut AS (
        |  SELECT q.id AS qid, q.sub, c.cluster AS code,
        |    CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS d2
        |  FROM quant q JOIN cent1 c ON q.sub = c.sub AND q.dim = c.dim
        |  WHERE q.id % 101 = 0
        |  GROUP BY 1, 2, 3),
        |cand AS (SELECT p.qid, l.id FROM lists l JOIN plists p USING (list)),
        |adc AS (
        |  SELECT c.qid, c.id, CAST(sum(l.d2) AS BIGINT) AS adc2
        |  FROM cand c
        |  JOIN codes co ON co.id = c.id
        |  JOIN lut l ON l.qid = c.qid AND l.sub = co.sub AND l.code = co.code
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id, adc2
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc2, id) AS rk
        |  FROM adc WHERE id <> qid)
        |WHERE rk <= 5""".stripMargin,

    // native ASOF carries the matched right ts; the staleness band is a
    // post-join CASE that turns too-old matches into non-matches (rows
    // kept, payload nulled) — the same semantics as the Spark gate
    "q122_asof_tolerance" ->
      """WITH l AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |r0 AS (
        |  SELECT user_id, ts, event_id AS view_id, value
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |j AS (
        |  SELECT l.click_id, l.user_id, l.ts, r0.ts AS rts,
        |    r0.view_id, r0.value
        |  FROM l ASOF LEFT JOIN r0
        |    ON l.user_id = r0.user_id AND l.ts >= r0.ts)
        |SELECT click_id, user_id, epoch_ms(ts) AS ts_ms,
        |  CASE WHEN ts - rts <= INTERVAL 5 MINUTE THEN view_id END AS asof_view_id,
        |  CASE WHEN ts - rts <= INTERVAL 5 MINUTE THEN value END AS asof_value,
        |  CASE WHEN ts - rts <= INTERVAL 5 MINUTE THEN epoch_ms(rts) END AS asof_view_ts_ms
        |FROM j""".stripMargin,

    // the composed stage CTEs (see pretrainOracleBody): packed train
    // sequences with their doc lineage
    "q115_pretrain_curate" ->
      s"""$pretrainOracleBody
         |SELECT p.chunk_id, g.doc_id, g.chunk_idx, g.lang, p.n_tokens, p.shard
         |FROM packed p JOIN gated g USING (chunk_id)""".stripMargin,

    // the same composed CTEs, counted stage by stage — q115's run-report
    // twin (K7 shape)
    "q118_pretrain_counters" ->
      s"""$pretrainOracleBody
         |SELECT 'docs_in' AS stage, CAST(count(*) AS BIGINT) AS n FROM train
         |UNION ALL SELECT 'chunks', CAST(count(*) AS BIGINT) FROM chunks
         |UNION ALL SELECT 'near_dup_pairs', CAST(count(*) AS BIGINT) FROM px
         |UNION ALL SELECT 'chunks_dedup', CAST(count(*) AS BIGINT) FROM ded
         |UNION ALL SELECT 'chunks_clean', CAST(count(*) AS BIGINT) FROM clean
         |UNION ALL SELECT 'chunks_gated', CAST(count(*) AS BIGINT) FROM gated
         |UNION ALL SELECT 'sequences_mixed', CAST(count(*) AS BIGINT) FROM mixed
         |UNION ALL SELECT 'train_sequences', CAST(count(*) AS BIGINT) FROM trainseq
         |UNION ALL SELECT 'packed_sequences', CAST(count(*) AS BIGINT) FROM packed
         |UNION ALL SELECT 'shards', CAST(count(DISTINCT shard) AS BIGINT) FROM packed""".stripMargin,

    // the incremental composed CTEs (see incrOracleBody): the new
    // batch's packed train sequences with their doc lineage
    "q121_incr_curate" ->
      s"""$incrOracleBody
         |SELECT p.chunk_id, g.doc_id, g.chunk_idx, g.lang, p.n_tokens, p.shard
         |FROM packed p JOIN gated g USING (chunk_id)""".stripMargin,

    // the same incremental CTEs counted stage by stage (K7 shape, with
    // the incumbent-filter stage the base pipeline doesn't have)
    "q123_incr_counters" ->
      s"""$incrOracleBody
         |SELECT 'docs_in' AS stage, CAST(count(*) AS BIGINT) AS n FROM batch
         |UNION ALL SELECT 'chunks', CAST(count(*) AS BIGINT) FROM chunks
         |UNION ALL SELECT 'near_dup_pairs', CAST(count(*) AS BIGINT) FROM px
         |UNION ALL SELECT 'chunks_dedup', CAST(count(*) AS BIGINT) FROM ded
         |UNION ALL SELECT 'chunks_vs_store', CAST(count(*) AS BIGINT) FROM inc
         |UNION ALL SELECT 'chunks_clean', CAST(count(*) AS BIGINT) FROM clean
         |UNION ALL SELECT 'chunks_gated', CAST(count(*) AS BIGINT) FROM gated
         |UNION ALL SELECT 'sequences_mixed', CAST(count(*) AS BIGINT) FROM mixed
         |UNION ALL SELECT 'train_sequences', CAST(count(*) AS BIGINT) FROM trainseq
         |UNION ALL SELECT 'packed_sequences', CAST(count(*) AS BIGINT) FROM packed
         |UNION ALL SELECT 'shards', CAST(count(DISTINCT shard) AS BIGINT) FROM packed""".stripMargin,

    // the BPE merge CTE chain (one stage per merge), final projection =
    // the learned merge table in step order
    "q124_bpe_train" ->
      (bpeStagesSql(BpeMergeCount) + "\n" +
        (1 to BpeMergeCount).map { i =>
          s"SELECT $i AS step, l AS pair_left, r AS pair_right, c AS cnt FROM b$i"
        }.mkString("\nUNION ALL ")),

    // same chain, then the piece histogram from the final symbol frame
    // (weighted by word count), top-20 with piece-asc tie-break
    "q125_bpe_encode" ->
      (bpeStagesSql(BpeMergeCount) + s"""
        |SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
        |  SELECT cnt, unnest(string_split(trim(sym), '  ')) AS piece
        |  FROM w$BpeMergeCount) t
        |GROUP BY piece
        |ORDER BY n DESC, piece ASC
        |LIMIT 20""".stripMargin),

    // the production-vocab twins compute the SAME tables (spec-pinned
    // bit-equal trainers / encoders), so they share q124/q125's oracles
    "q126_bpe_train_fast" ->
      (bpeStagesSql(BpeMergeCount) + "\n" +
        (1 to BpeMergeCount).map { i =>
          s"SELECT $i AS step, l AS pair_left, r AS pair_right, c AS cnt FROM b$i"
        }.mkString("\nUNION ALL ")),

    "q127_bpe_encode_vocab" ->
      (bpeStagesSql(BpeMergeCount) + s"""
        |SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
        |  SELECT cnt, unnest(string_split(trim(sym), '  ')) AS piece
        |  FROM w$BpeMergeCount) t
        |GROUP BY piece
        |ORDER BY n DESC, piece ASC
        |LIMIT 20""".stripMargin),

    // per-word piece counts from the final symbol frame, joined back to
    // the per-doc token stream (docs without tokens absent by omission)
    "q128_bpe_token_counts" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |wpc AS (SELECT w, len(string_split(trim(sym), '  ')) AS np FROM w$BpeMergeCount)
        |SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_tokens
        |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |      FROM documents) d
        |JOIN wpc USING (w)
        |GROUP BY doc_id""".stripMargin),

    // q83's window-sum pack formulation over the BPE counts
    "q129_bpe_pack" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |wpc AS (SELECT w, len(string_split(trim(sym), '  ')) AS np FROM w$BpeMergeCount),
        |tc AS (
        |  SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |        FROM documents) d
        |  JOIN wpc USING (w)
        |  GROUP BY doc_id),
        |t AS (SELECT doc_id, n_tokens, md5('shard:' || doc_id) AS k FROM tc)
        |SELECT doc_id, n_tokens,
        |  CAST((CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |FROM t""".stripMargin),

    // per-domain word/piece totals from the same per-word piece counts;
    // integer-div per-mille like the mixture rates
    "q130_bpe_fertility" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |wpc AS (SELECT w, len(string_split(trim(sym), '  ')) AS np FROM w$BpeMergeCount)
        |SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(np) AS BIGINT) AS n_pieces,
        |  (CAST(sum(np) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS fertility_permille
        |FROM (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |      FROM documents) d
        |JOIN wpc USING (w)
        |GROUP BY lang""".stripMargin),

    // q115's composed CTEs + the bpe chain (CTE names prefixed 'bp' —
    // the pretrain body already owns w0) + a BPE-count pack window; the
    // unreferenced default packin/packed CTEs prune away
    "q131_bpe_pretrain_pack" ->
      (pretrainOracleBody + ",\n" +
        bpeStagesSql(BpeMergeCount, pf = "bp").stripPrefix("WITH ") + s""",
        |bpwpc AS (SELECT w, len(string_split(trim(sym), '  ')) AS np FROM bpw$BpeMergeCount),
        |chunkbpe AS (
        |  SELECT chunk_id, CAST(sum(np) AS BIGINT) AS nb
        |  FROM (SELECT chunk_id,
        |          unnest(regexp_extract_all(lower(chunk_text), '[a-z0-9]+')) AS w
        |        FROM chunks) cw
        |  JOIN bpwpc USING (w)
        |  GROUP BY chunk_id),
        |packinb AS (
        |  SELECT t.chunk_id, coalesce(b.nb, 0) AS n_tokens,
        |    md5('shard:' || t.chunk_id) AS k
        |  FROM trainseq t LEFT JOIN chunkbpe b USING (chunk_id)),
        |packedb AS MATERIALIZED (
        |  SELECT chunk_id, n_tokens,
        |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, chunk_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |  FROM packinb)
        |SELECT p.chunk_id, g.doc_id, g.chunk_idx, g.lang, p.n_tokens, p.shard
        |FROM packedb p JOIN gated g USING (chunk_id)""".stripMargin),

    // q121's incremental CTEs + the prefixed bpe chain + the BPE-count
    // pack window (the incremental body shares the base CTE names)
    "q132_bpe_incr_pack" ->
      (incrOracleBody + ",\n" +
        bpeStagesSql(BpeMergeCount, pf = "bp").stripPrefix("WITH ") + s""",
        |bpwpc AS (SELECT w, len(string_split(trim(sym), '  ')) AS np FROM bpw$BpeMergeCount),
        |chunkbpe AS (
        |  SELECT chunk_id, CAST(sum(np) AS BIGINT) AS nb
        |  FROM (SELECT chunk_id,
        |          unnest(regexp_extract_all(lower(chunk_text), '[a-z0-9]+')) AS w
        |        FROM chunks) cw
        |  JOIN bpwpc USING (w)
        |  GROUP BY chunk_id),
        |packinb AS (
        |  SELECT t.chunk_id, coalesce(b.nb, 0) AS n_tokens,
        |    md5('shard:' || t.chunk_id) AS k
        |  FROM trainseq t LEFT JOIN chunkbpe b USING (chunk_id)),
        |packedb AS MATERIALIZED (
        |  SELECT chunk_id, n_tokens,
        |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, chunk_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |  FROM packinb)
        |SELECT p.chunk_id, g.doc_id, g.chunk_idx, g.lang, p.n_tokens, p.shard
        |FROM packedb p JOIN gated g USING (chunk_id)""".stripMargin),

    // the same integer DSIR pipeline: md5 feature buckets, +1-smoothed
    // per-bucket counts, milli-log2 llr (bin-length + interpolated
    // mantissa — Sampling.millilog2's exact SQL twin), smoothing-total
    // constant, deterministic top-k
    "q133_dsir_topk" -> dsirSelectSql(gumbel = false),

    // q133's scores with the seeded integer Gumbel noise added to the
    // ranking key (two more millilog2 folds over the md5 ppm uniform)
    "q134_dsir_gumbel" -> dsirSelectSql(gumbel = true),

    // closed-form water-filling in SQL: cap/weight-ordered window
    // prefix sums, HUGEINT cross-multiplied saturation predicate,
    // prefix-forced sat flag, floor-div proportional remainder
    "q135_token_budget" ->
      s"""WITH dom AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS tokens,
        |    CAST(CASE lang WHEN 'en' THEN 500 WHEN 'fr' THEN 200 ELSE 100 END AS BIGINT) AS weight
        |  FROM documents GROUP BY 1
        |  HAVING sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) >= 1),
        |${waterFillSql(30000L, 1500L)}
        |SELECT lang, tokens, weight, cap, alloc,
        |  CAST(alloc * 1000 // tokens AS BIGINT) AS epochs_milli
        |FROM alloc""".stripMargin,

    // the same integer drift decomposition: md5 feature buckets for BOTH
    // corpora, full-joined smoothed counts, milli-log2 llr (the ml2Sql
    // twin), HUGEINT cross-multiplied signed KL contribution in
    // micro-log2, |contrib| top-20
    "q136_domain_drift" -> driftSql("lang = 'en'", "lang <> 'en'"),

    // the same drift chain with the two corpora being the store's
    // current and previous SNAPSHOT memberships (the Spark side reads
    // them back through SnapshotStore.readAt time travel; membership
    // is deterministic, so the oracle mirrors it as predicates)
    "q139_snapshot_drift" -> driftSql("doc_id % 4 <> 3", "doc_id % 4 <> 1"),

    // the q44 assignment rule per era (argmax dot over reference-frozen
    // stride centroids, ties to lowest cid), per-cell counts, then the
    // shared drift tail with the centroid count as the smoothing space
    "q141_embedding_drift" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS cv FROM e
        |  WHERE vec_id % 64 = 0 AND vec_id % 3 <> 0),
        |passign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, cent.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, cent.cv) DESC, cent.cid) AS rn
        |    FROM e CROSS JOIN cent WHERE e.vec_id % 3 = 0) WHERE rn = 1),
        |qassign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, cent.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, cent.cv) DESC, cent.cid) AS rn
        |    FROM e CROSS JOIN cent WHERE e.vec_id % 3 <> 0) WHERE rn = 1),
        |pcc AS (SELECT cid AS b, count(*) AS p FROM passign GROUP BY 1),
        |qcc AS (SELECT cid AS b, count(*) AS q FROM qassign GROUP BY 1),
        |${driftTailSql("SELECT count(*) FROM cent", "")}""".stripMargin,

    // q93's training CTEs restricted to the REFERENCE era (the frozen
    // cell system is trained, k a model constant), dequantized, then
    // q141's per-era argmax-dot assignment and the shared drift tail
    // with the trained cell count as the smoothing space
    "q145_embedding_drift_trained" ->
      s"""WITH quant AS (
        |  SELECT vec_id AS id, i - 1 AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000) + 32768 AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        |  WHERE vec_id % 3 <> 0),
        |cent0 AS (SELECT id AS cluster, dim, v AS cv FROM quant WHERE id < 8),
        |d1 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent0 c USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d1)
        |  WHERE rk = 1),
        |cent1 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a1 a USING (id) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT q.id, c.cluster, CAST(sum((q.v - c.cv) * (q.v - c.cv)) AS BIGINT) AS dist2
        |  FROM quant q JOIN cent1 c USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT id, cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist2, cluster) AS rk
        |    FROM d2)
        |  WHERE rk = 1),
        |cent2 AS (
        |  SELECT a.cluster, q.dim, CAST(sum(q.v) AS BIGINT) // count(*) AS cv
        |  FROM quant q JOIN a2 a USING (id) GROUP BY 1, 2),
        |cvec AS (
        |  SELECT cluster AS cid, list((cv - 32768) / 1000.0 ORDER BY dim) AS cv
        |  FROM cent2 GROUP BY cluster),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |passign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, cvec.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, cvec.cv) DESC, cvec.cid) AS rn
        |    FROM e CROSS JOIN cvec WHERE e.vec_id % 3 = 0) WHERE rn = 1),
        |qassign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, cvec.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_dot_product(e.v, cvec.cv) DESC, cvec.cid) AS rn
        |    FROM e CROSS JOIN cvec WHERE e.vec_id % 3 <> 0) WHERE rn = 1),
        |pcc AS (SELECT cid AS b, count(*) AS p FROM passign GROUP BY 1),
        |qcc AS (SELECT cid AS b, count(*) AS q FROM qassign GROUP BY 1),
        |${driftTailSql("SELECT count(*) FROM cvec", "")}""".stripMargin,

    // the 8-merge BPE stages give each word's ordered piece array;
    // per-doc word order × within-word piece order materializes the
    // indexed token stream, the q143 md5 offset window places it
    // globally, and each 512-token bin folds its ids in position order
    "q146_packed_token_ids" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$docTokenStreamCtes,
        |cnts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT doc_id,
        |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM cnts),
        |pos AS (
        |  SELECT s.doc_id, s.tok_idx, v.token_id, o.start + s.tok_idx AS p
        |  FROM stream s
        |  JOIN off o ON s.doc_id = o.doc_id
        |  JOIN vocab v ON s.piece = v.piece)
        |SELECT CAST(p // 512 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids
        |FROM pos GROUP BY 1""".stripMargin),

    // the doc-trained merge chain APPLIED to the event-content words
    // (bpeApplySql), per-event token counts, q144's session CTEs, the
    // q143 md5 offset window with dialogues as docs, then the per-turn
    // span/bin arithmetic
    "q147_loss_mask_spans" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |${bpeApplySql(BpeMergeCount,
        "SELECT DISTINCT unnest(regexp_extract_all(lower(event_type || ' ' || props), " +
          "'[a-z0-9]+')) AS w FROM events")},
        |ewc AS (
        |  SELECT w, CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS np
        |  FROM ew$BpeMergeCount),
        |ecnt AS (
        |  SELECT event_id, CAST(sum(np) AS BIGINT) AS n
        |  FROM (SELECT event_id,
        |          unnest(regexp_extract_all(lower(event_type || ' ' || props),
        |            '[a-z0-9]+')) AS w
        |        FROM events) t
        |  JOIN ewc USING (w) GROUP BY 1),
        |sb AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |sf AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM sb),
        |sg AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM sf),
        |turns AS (
        |  SELECT g.user_id * 100000 + g.session_seq AS dlg_id,
        |    g.tsn, g.event_id, g.event_type AS role, coalesce(e.n, 0) AS n,
        |    CAST(row_number() OVER (PARTITION BY g.user_id, g.session_seq
        |      ORDER BY g.tsn, g.event_id) - 1 AS BIGINT) AS turn,
        |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (
        |      PARTITION BY g.user_id, g.session_seq ORDER BY g.tsn, g.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS turn_start
        |  FROM sg g LEFT JOIN ecnt e USING (event_id)),
        |dc AS (
        |  SELECT dlg_id, CAST(sum(n) AS BIGINT) AS n_tokens, md5('shard:' || dlg_id) AS k
        |  FROM turns GROUP BY 1),
        |off AS (
        |  SELECT dlg_id, CAST(sum(n_tokens) OVER (ORDER BY k, dlg_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM dc),
        |sp AS (
        |  SELECT t.dlg_id, t.turn, t.role,
        |    o.start + t.turn_start AS gs, o.start + t.turn_start + t.n AS ge
        |  FROM turns t JOIN off o USING (dlg_id) WHERE t.n > 0),
        |ex AS (
        |  SELECT dlg_id, turn, role, gs, ge, gs // 16 AS first_bin,
        |    CAST(unnest(generate_series(gs // 16, (ge - 1) // 16)) AS BIGINT) AS sequence
        |  FROM sp)
        |SELECT dlg_id, turn, role, sequence,
        |  CAST(greatest(gs - sequence * 16, 0) AS BIGINT) AS local_start,
        |  CAST(least((sequence + 1) * 16, ge) - greatest(sequence * 16, gs) AS BIGINT)
        |    AS span_len,
        |  sequence > first_bin AS is_continuation
        |FROM ex""".stripMargin),

    // q144's session CTEs (props carried), gaps-and-islands run
    // numbering on the role lag, one group per run: anchor ts/id,
    // member count, (ts, id)-ordered content join
    "q148_dialogue_repair" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type, props, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, event_type, props, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM b),
        |g AS (
        |  SELECT user_id, event_id, event_type, props, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM f),
        |r AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id, session_seq
        |    ORDER BY tsn, event_id) AS prev_role
        |  FROM g),
        |r2 AS (
        |  SELECT *, CASE WHEN prev_role IS NULL OR prev_role <> event_type
        |    THEN 1 ELSE 0 END AS new_run
        |  FROM r),
        |r3 AS (
        |  SELECT *, CAST(sum(new_run) OVER (PARTITION BY user_id, session_seq
        |    ORDER BY tsn, event_id) AS BIGINT) AS turn_seq
        |  FROM r2)
        |SELECT user_id, session_seq, turn_seq,
        |  min(event_type) AS event_type,
        |  CAST(min(tsn) AS BIGINT) AS ts,
        |  min(CASE WHEN new_run = 1 THEN event_id END) AS event_id,
        |  CAST(count(*) AS BIGINT) AS n_merged,
        |  string_agg(props, ' ' ORDER BY tsn, event_id) AS props
        |FROM r3 GROUP BY 1, 2, 3""".stripMargin,

    // q142's pack CTEs, per-epoch md5 permutations unrolled over
    // generate_series(0, 2), then the lexicographic (epoch, shard, pos)
    // strict-after cursor
    "q149_epoch_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
        |  FROM t),
        |manifest AS (
        |  SELECT doc_id, n_tokens, shard, CAST(e AS BIGINT) AS epoch,
        |    CAST(row_number() OVER (PARTITION BY e, shard
        |      ORDER BY md5('epoch:' || e || ':' || doc_id), doc_id) - 1 AS BIGINT) AS pos
        |  FROM packed, unnest(generate_series(0, 2)) AS u(e))
        |SELECT doc_id, n_tokens, shard, epoch, pos
        |FROM manifest
        |WHERE epoch > 1 OR (epoch = 1 AND
        |  (shard > 2 OR (shard = 2 AND pos > 3)))""".stripMargin,

    // per-shard first-fit-decreasing replayed as a RECURSIVE CTE: the
    // state is each shard's bin-load list; step rk places item rk into
    // the first bin with room (list_position over the fits mask) or
    // appends a new bin — exactly the Spark UDF's loop, shard by shard
    "q150_bestfit_pack" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |base AS (SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n FROM t),
        |fit AS (SELECT id, n, md5('shard:' || id) AS k
        |        FROM base WHERE n > 0 AND n <= 96),
        |sh AS (
        |  SELECT id, n,
        |    CAST((CAST(sum(n) OVER (ORDER BY k, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n) // 2000 AS BIGINT) AS shard
        |  FROM fit),
        |ranked AS (
        |  SELECT shard, n, id,
        |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS rk
        |  FROM sh),
        |ffd AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS loads,
        |    CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS bin,
        |    CAST(NULL AS BIGINT) AS n
        |  FROM (SELECT DISTINCT shard FROM ranked) s
        |  UNION ALL
        |  SELECT r.shard, r.rk,
        |    CASE WHEN nullif(pos.p, 0) IS NULL THEN list_append(f.loads, r.n)
        |         ELSE list_transform(f.loads,
        |           (x, i) -> CASE WHEN i = pos.p THEN x + r.n ELSE x END)
        |    END AS loads,
        |    r.id,
        |    CAST(coalesce(nullif(pos.p, 0), len(f.loads) + 1) - 1 AS BIGINT) AS bin,
        |    r.n
        |  FROM ffd f
        |  JOIN ranked r ON r.shard = f.shard AND r.rk = f.rk + 1
        |  CROSS JOIN LATERAL (
        |    SELECT list_position(list_transform(f.loads, x -> x + r.n <= 96),
        |      true) AS p) pos)
        |SELECT id AS doc_id, n AS n_tokens, shard, bin, false AS oversize
        |FROM ffd WHERE id IS NOT NULL
        |UNION ALL
        |SELECT id AS doc_id, n AS n_tokens, CAST(-1 AS BIGINT) AS shard,
        |  CAST(-1 AS BIGINT) AS bin, true AS oversize
        |FROM base WHERE n > 96""".stripMargin,

    // q147's session/turn-offset CTEs + q146's indexed-piece mechanics
    // over the EVENT content (doc-trained merges applied via
    // bpeApplySql), per-token mask from the turn's role, per-bin lists
    // in position order
    "q151_sft_sequences" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |${bpeApplySql(BpeMergeCount,
        "SELECT DISTINCT unnest(regexp_extract_all(lower(event_type || ' ' || props), " +
          "'[a-z0-9]+')) AS w FROM events")},
        |wp2 AS (
        |  SELECT w, string_split(trim(sym), '  ') AS pieces FROM ew$BpeMergeCount),
        |vocab AS (
        |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp2)),
        |dw AS (
        |  SELECT event_id, i AS wi, t[i] AS w
        |  FROM (SELECT event_id,
        |          regexp_extract_all(lower(event_type || ' ' || props), '[a-z0-9]+') AS t
        |        FROM events) z,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |ws AS (
        |  SELECT dw.event_id, dw.wi, wp2.pieces,
        |    CAST(coalesce(sum(len(wp2.pieces)) OVER (PARTITION BY dw.event_id
        |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS word_start
        |  FROM dw JOIN wp2 ON dw.w = wp2.w),
        |estream AS (
        |  SELECT event_id, word_start + pi - 1 AS turn_tok_idx, pieces[pi] AS piece
        |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi)),
        |ecnt AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n FROM estream GROUP BY 1),
        |sb AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |sf AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM sb),
        |sg AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM sf),
        |turns AS (
        |  SELECT g.user_id * 100000 + g.session_seq AS dlg_id, g.event_id,
        |    CASE WHEN g.event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS mask,
        |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (
        |      PARTITION BY g.user_id, g.session_seq ORDER BY g.tsn, g.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS turn_start
        |  FROM sg g LEFT JOIN ecnt e USING (event_id)),
        |stream AS (
        |  SELECT t.dlg_id, t.turn_start + s.turn_tok_idx AS tok_idx,
        |    v.token_id, t.mask
        |  FROM estream s
        |  JOIN turns t USING (event_id)
        |  JOIN vocab v ON s.piece = v.piece),
        |dc AS (
        |  SELECT dlg_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || dlg_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT dlg_id, CAST(sum(n_tokens) OVER (ORDER BY k, dlg_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM dc),
        |pos AS (
        |  SELECT s.dlg_id, s.tok_idx, s.token_id, s.mask, o.start + s.tok_idx AS p
        |  FROM stream s JOIN off o USING (dlg_id))
        |SELECT CAST(p // 16 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT dlg_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
        |  array_to_string(list(mask ORDER BY p), '') AS mask
        |FROM pos GROUP BY 1""".stripMargin),

    // q150's recursive-FFD CTEs folded to the per-bin writer manifest:
    // member ids in (n desc, id) order, fill, padding
    "q152_bestfit_manifest" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |base AS (SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n FROM t),
        |fit AS (SELECT id, n, md5('shard:' || id) AS k
        |        FROM base WHERE n > 0 AND n <= 96),
        |sh AS (
        |  SELECT id, n,
        |    CAST((CAST(sum(n) OVER (ORDER BY k, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n) // 2000 AS BIGINT) AS shard
        |  FROM fit),
        |ranked AS (
        |  SELECT shard, n, id,
        |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS rk
        |  FROM sh),
        |ffd AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS loads,
        |    CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS bin,
        |    CAST(NULL AS BIGINT) AS n
        |  FROM (SELECT DISTINCT shard FROM ranked) s
        |  UNION ALL
        |  SELECT r.shard, r.rk,
        |    CASE WHEN nullif(pos.p, 0) IS NULL THEN list_append(f.loads, r.n)
        |         ELSE list_transform(f.loads,
        |           (x, i) -> CASE WHEN i = pos.p THEN x + r.n ELSE x END)
        |    END AS loads,
        |    r.id,
        |    CAST(coalesce(nullif(pos.p, 0), len(f.loads) + 1) - 1 AS BIGINT) AS bin,
        |    r.n
        |  FROM ffd f
        |  JOIN ranked r ON r.shard = f.shard AND r.rk = f.rk + 1
        |  CROSS JOIN LATERAL (
        |    SELECT list_position(list_transform(f.loads, x -> x + r.n <= 96),
        |      true) AS p) pos)
        |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS fill,
        |  CAST(96 - sum(n) AS BIGINT) AS pad,
        |  array_to_string(list(id ORDER BY n DESC, id), ' ') AS doc_ids
        |FROM ffd WHERE id IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // q146's indexed-piece CTEs give the stream AND the per-doc BPE
    // counts; q150's recursive FFD places docs; a per-bin (n desc, id)
    // offset window concatenates each doc's tokens contiguously;
    // padding rendered as the repeated pad id
    "q153_bestfit_sequences" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
        |wp AS (SELECT w, string_split(trim(sym), '  ') AS pieces FROM w$BpeMergeCount),
        |vocab AS (
        |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp)),
        |dw AS (
        |  SELECT doc_id, i AS wi, t[i] AS w
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |        FROM documents) z,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |ws AS (
        |  SELECT dw.doc_id, dw.wi, wp.pieces,
        |    CAST(coalesce(sum(len(wp.pieces)) OVER (PARTITION BY dw.doc_id
        |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS word_start
        |  FROM dw JOIN wp ON dw.w = wp.w),
        |stream AS (
        |  SELECT doc_id, word_start + pi - 1 AS tok_idx, pieces[pi] AS piece
        |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi)),
        |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM stream GROUP BY 1),
        |fit AS (SELECT doc_id AS id, n, md5('shard:' || doc_id) AS k
        |        FROM tc WHERE n > 0 AND n <= 96),
        |sh AS (
        |  SELECT id, n,
        |    CAST((CAST(sum(n) OVER (ORDER BY k, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n) // 2000 AS BIGINT) AS shard
        |  FROM fit),
        |ranked AS (
        |  SELECT shard, n, id,
        |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS rk
        |  FROM sh),
        |ffd AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS loads,
        |    CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS bin,
        |    CAST(NULL AS BIGINT) AS n
        |  FROM (SELECT DISTINCT shard FROM ranked) s
        |  UNION ALL
        |  SELECT r.shard, r.rk,
        |    CASE WHEN nullif(pos.p, 0) IS NULL THEN list_append(f.loads, r.n)
        |         ELSE list_transform(f.loads,
        |           (x, i) -> CASE WHEN i = pos.p THEN x + r.n ELSE x END)
        |    END AS loads,
        |    r.id,
        |    CAST(coalesce(nullif(pos.p, 0), len(f.loads) + 1) - 1 AS BIGINT) AS bin,
        |    r.n
        |  FROM ffd f
        |  JOIN ranked r ON r.shard = f.shard AND r.rk = f.rk + 1
        |  CROSS JOIN LATERAL (
        |    SELECT list_position(list_transform(f.loads, x -> x + r.n <= 96),
        |      true) AS p) pos),
        |placed AS (
        |  SELECT shard, bin, id, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard, bin
        |      ORDER BY n DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off
        |  FROM ffd WHERE id IS NOT NULL),
        |tok AS (
        |  SELECT p.shard, p.bin, p.id, p.doc_off + s.tok_idx AS local, v.token_id
        |  FROM stream s
        |  JOIN placed p ON s.doc_id = p.id
        |  JOIN vocab v ON s.piece = v.piece)
        |SELECT shard, bin, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS fill,
        |  CAST(96 - count(*) AS BIGINT) AS pad_len,
        |  array_to_string(list(token_id ORDER BY local), ' ') ||
        |    repeat(' -1', CAST(96 - count(*) AS INT)) AS token_ids
        |FROM tok GROUP BY 1, 2""".stripMargin),

    // the q151 chain with SURVIVOR filtering first: q144's validity
    // verdict + whitespace-3-gram contamination vs the benchmark slice
    // drop dialogues whole; every piece CTE (merge apply, vocab, word
    // stream) is then built from the surviving events only — the
    // vocabulary must not encode dropped content
    "q155_sft_curate" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |sb AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |sf AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM sb),
        |sg AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM sf),
        |rr AS (
        |  SELECT user_id, session_seq, event_id, event_type, tsn,
        |    lag(event_type) OVER (PARTITION BY user_id, session_seq
        |      ORDER BY tsn, event_id) AS prev_role
        |  FROM sg),
        |vd AS (
        |  SELECT user_id, session_seq FROM rr GROUP BY 1, 2
        |  HAVING sum(CASE WHEN prev_role = event_type THEN 1 ELSE 0 END) = 0),
        |ctok AS (
        |  SELECT event_id,
        |    regexp_split_to_array(trim(event_type || ' ' || props), '\\s+') AS t
        |  FROM events),
        |cgr AS (
        |  SELECT event_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM ctok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
        |bgr AS (SELECT DISTINCT g FROM cgr WHERE event_id % 997 = 0),
        |contam AS (SELECT DISTINCT event_id FROM cgr JOIN bgr USING (g)),
        |bad AS (
        |  SELECT DISTINCT g2.user_id, g2.session_seq
        |  FROM sg g2 JOIN contam c ON c.event_id = g2.event_id),
        |surv AS (
        |  SELECT g.user_id, g.event_id, g.event_type, g.tsn, g.session_seq
        |  FROM sg g
        |  JOIN vd ON vd.user_id = g.user_id AND vd.session_seq = g.session_seq
        |  LEFT JOIN bad ON bad.user_id = g.user_id AND bad.session_seq = g.session_seq
        |  WHERE bad.user_id IS NULL),
        |${bpeApplySql(BpeMergeCount,
        "SELECT DISTINCT unnest(regexp_extract_all(lower(e.event_type || ' ' || " +
          "e.props), '[a-z0-9]+')) AS w FROM events e " +
          "JOIN surv s ON e.event_id = s.event_id")},
        |wp2 AS (
        |  SELECT w, string_split(trim(sym), '  ') AS pieces FROM ew$BpeMergeCount),
        |vocab AS (
        |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp2)),
        |dw AS (
        |  SELECT event_id, i AS wi, t[i] AS w
        |  FROM (SELECT e.event_id,
        |          regexp_extract_all(lower(e.event_type || ' ' || e.props),
        |            '[a-z0-9]+') AS t
        |        FROM events e JOIN surv s ON e.event_id = s.event_id) z,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |ws AS (
        |  SELECT dw.event_id, dw.wi, wp2.pieces,
        |    CAST(coalesce(sum(len(wp2.pieces)) OVER (PARTITION BY dw.event_id
        |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS word_start
        |  FROM dw JOIN wp2 ON dw.w = wp2.w),
        |estream AS (
        |  SELECT event_id, word_start + pi - 1 AS turn_tok_idx, pieces[pi] AS piece
        |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi)),
        |ecnt AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n FROM estream GROUP BY 1),
        |turns AS (
        |  SELECT s.user_id * 100000 + s.session_seq AS dlg_id, s.event_id,
        |    CASE WHEN s.event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS mask,
        |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (
        |      PARTITION BY s.user_id, s.session_seq ORDER BY s.tsn, s.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS turn_start
        |  FROM surv s LEFT JOIN ecnt e ON e.event_id = s.event_id),
        |stream AS (
        |  SELECT t.dlg_id, t.turn_start + s.turn_tok_idx AS tok_idx,
        |    v.token_id, t.mask
        |  FROM estream s
        |  JOIN turns t ON t.event_id = s.event_id
        |  JOIN vocab v ON s.piece = v.piece),
        |dc AS (
        |  SELECT dlg_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || dlg_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT dlg_id, CAST(sum(n_tokens) OVER (ORDER BY k, dlg_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM dc),
        |pos AS (
        |  SELECT s.dlg_id, s.tok_idx, s.token_id, s.mask, o.start + s.tok_idx AS p
        |  FROM stream s JOIN off o USING (dlg_id))
        |SELECT CAST(p // 16 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT dlg_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
        |  array_to_string(list(mask ORDER BY p), '') AS mask
        |FROM pos GROUP BY 1""".stripMargin),

    // q155's gate CTEs folded to the four stage counts
    "q156_sft_counters" ->
      """WITH sb AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |sf AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END AS news
        |  FROM sb),
        |sg AS (
        |  SELECT user_id, event_id, event_type, tsn,
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM sf),
        |rr AS (
        |  SELECT user_id, session_seq, event_id, event_type, tsn,
        |    lag(event_type) OVER (PARTITION BY user_id, session_seq
        |      ORDER BY tsn, event_id) AS prev_role
        |  FROM sg),
        |verd AS (
        |  SELECT user_id, session_seq,
        |    sum(CASE WHEN prev_role = event_type THEN 1 ELSE 0 END) = 0 AS valid
        |  FROM rr GROUP BY 1, 2),
        |ctok AS (
        |  SELECT event_id,
        |    regexp_split_to_array(trim(event_type || ' ' || props), '\s+') AS t
        |  FROM events),
        |cgr AS (
        |  SELECT event_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM ctok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
        |bgr AS (SELECT DISTINCT g FROM cgr WHERE event_id % 997 = 0),
        |contam AS (SELECT DISTINCT event_id FROM cgr JOIN bgr USING (g)),
        |bad AS (
        |  SELECT DISTINCT g2.user_id, g2.session_seq
        |  FROM sg g2 JOIN contam c ON c.event_id = g2.event_id),
        |j AS (
        |  SELECT v.user_id, v.session_seq, v.valid,
        |    (b.user_id IS NOT NULL) AS contaminated
        |  FROM verd v
        |  LEFT JOIN bad b ON b.user_id = v.user_id AND b.session_seq = v.session_seq)
        |SELECT 'dialogues_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM j
        |UNION ALL
        |SELECT 'dialogues_invalid', CAST(count(*) AS BIGINT) FROM j WHERE NOT valid
        |UNION ALL
        |SELECT 'dialogues_contaminated_valid', CAST(count(*) AS BIGINT)
        |FROM j WHERE valid AND contaminated
        |UNION ALL
        |SELECT 'dialogues_kept', CAST(count(*) AS BIGINT)
        |FROM j WHERE valid AND NOT contaminated""".stripMargin,

    // q150's FFD replay for the placed rows, then a SECOND FFD replay
    // over the oversize docs' chunk expansion (cid = id·1e5 + chunk) in
    // shards offset past the layout's last
    "q158_oversize_split" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |placed AS (SELECT id, n, shard, bin FROM ffd WHERE id IS NOT NULL),
        |soff AS (SELECT coalesce(max(shard), -1) + 1 AS o FROM placed),
        |cbase AS (
        |  SELECT id * 100000 + c AS id, CAST(least(96, n - c * 96) AS BIGINT) AS n
        |  FROM (SELECT id, n,
        |          CAST(unnest(generate_series(0, (n + 95) // 96 - 1)) AS BIGINT) AS c
        |        FROM base WHERE n > 96) z),
        |${ffdCtes("c", "cbase", 96, 2000)}
        |SELECT id AS doc_id, CAST(0 AS BIGINT) AS chunk, n AS n_tokens,
        |  shard, bin, false AS oversize, false AS from_split
        |FROM placed
        |UNION ALL
        |SELECT id // 100000, id % 100000, n, shard + (SELECT o FROM soff),
        |  bin, false, true
        |FROM cffd WHERE id IS NOT NULL""".stripMargin),

    // q150's FFD replay for the placed rows; truncated docs take one
    // full bin each — md5-budget shards offset past the layout's last,
    // bins numbered in id order within the shard
    "q162_oversize_truncate" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |placed AS (SELECT id, n, shard, bin FROM ffd WHERE id IS NOT NULL),
        |soff AS (SELECT coalesce(max(shard), -1) + 1 AS o FROM placed),
        |otr AS (SELECT id, n - 96 AS cut, md5('shard:' || id) AS k
        |        FROM base WHERE n > 96),
        |osh AS (
        |  SELECT id, cut,
        |    CAST((CAST(sum(96) OVER (ORDER BY k, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - 96) // 2000 AS BIGINT) AS shard0
        |  FROM otr),
        |obin AS (
        |  SELECT id, cut, shard0,
        |    CAST(row_number() OVER (PARTITION BY shard0 ORDER BY id) - 1
        |      AS BIGINT) AS bin
        |  FROM osh)
        |SELECT id AS doc_id, n AS n_tokens, CAST(0 AS BIGINT) AS cut_tokens,
        |  shard, bin, false AS oversize, false AS truncated
        |FROM placed
        |UNION ALL
        |SELECT id, CAST(96 AS BIGINT), CAST(cut AS BIGINT),
        |  shard0 + (SELECT o FROM soff), bin, false, true
        |FROM obin""".stripMargin),

    // q150's FFD bins rolled up, globally indexed in (shard, bin) order,
    // file = running-fill // budget, then the per-epoch md5 permutation
    "q159_writer_manifest" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |bins AS (
        |  SELECT shard, bin, CAST(sum(n) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM ffd WHERE id IS NOT NULL GROUP BY 1, 2),
        |sq AS (
        |  SELECT shard, bin, fill, n_docs,
        |    CAST(row_number() OVER (ORDER BY shard, bin) - 1 AS BIGINT) AS seq_id,
        |    CAST(CAST(coalesce(sum(fill) OVER (ORDER BY shard, bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      // 4000 AS BIGINT) AS file
        |  FROM bins)
        |SELECT shard, bin, fill, n_docs, seq_id, file, CAST(e AS BIGINT) AS epoch,
        |  CAST(row_number() OVER (PARTITION BY e, shard
        |    ORDER BY md5('epoch:' || e || ':' || seq_id), seq_id) - 1
        |    AS BIGINT) AS pos
        |FROM sq, unnest(generate_series(0, 1)) AS u(e)""".stripMargin),

    // candidate-level gates (validity + content-gram leak over ALL
    // candidates), then integer milli group stats over the survivors
    "q164_group_advantages" ->
      (s"WITH $candGateCtes" + """,
        |surv AS (
        |  SELECT prompt, event_id, content,
        |    CAST(floor(value * 1000) AS BIGINT) AS signal_milli
        |  FROM csurv),
        |gstats AS (
        |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(signal_milli) // count(*) AS BIGINT) AS mean_milli
        |  FROM surv GROUP BY 1 HAVING count(*) >= 2)
        |SELECT s.prompt, s.event_id, s.content, s.signal_milli,
        |  g.n_candidates, g.mean_milli,
        |  s.signal_milli - g.mean_milli AS advantage_milli
        |FROM surv s JOIN gstats g USING (prompt)""".stripMargin),

    // q164's sessionize + gate machinery at TRAJECTORY (dialogue) level,
    // then the turn attribution arithmetic replayed: base = adv // n
    // (integer, truncating — verified identical to Spark's div on
    // negatives), the ±1 residue over the first |residue| turns, and
    // the whole advantage on the last turn (attrRoles = all, so rank ==
    // turn+1 and n_attr == n_turns)
    "q165_turn_advantages" ->
      (s"""WITH ev AS (
        |  SELECT event_id, user_id, event_type, value, props,
        |    trim(event_type || ' ' || props) AS content, epoch_ns(ts) AS tsn
        |  FROM events),
        |${sessionizeCtes("t")},
        |trn AS (
        |  SELECT event_id, user_id, event_type, value, props, content, tsn,
        |    user_id * 100000 + session_seq AS dlg_id
        |  FROM tsg),
        |tbd AS (
        |  SELECT user_id * 100000 + session_seq AS dlg_id FROM tbad),
        |ttok AS (""".stripMargin + """
        |  SELECT dlg_id, event_id,
        |    regexp_split_to_array(trim(content), '\s+') AS tks
        |  FROM trn),
        |tgg AS (
        |  SELECT dlg_id, event_id, array_to_string(tks[i:i+2], ' ') AS g
        |  FROM ttok, unnest(generate_series(1, greatest(len(tks) - 2, 0))) AS u(i)),
        |tbg AS (SELECT DISTINCT g FROM tgg WHERE event_id % 997 = 0),
        |tleak AS (SELECT DISTINCT dlg_id FROM tgg JOIN tbg USING (g)),
        |tfp AS (
        |  SELECT dlg_id, props AS prompt FROM (
        |    SELECT dlg_id, props, row_number() OVER (PARTITION BY dlg_id
        |      ORDER BY tsn, event_id) AS rn FROM trn) z
        |  WHERE rn = 1),
        |tsig AS (
        |  SELECT dlg_id,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS signal_milli
        |  FROM trn GROUP BY 1),
        |tsurv AS (
        |  SELECT tfp.prompt, tfp.dlg_id, tsig.signal_milli
        |  FROM tfp JOIN tsig USING (dlg_id)
        |  WHERE tsig.signal_milli IS NOT NULL
        |    AND dlg_id NOT IN (SELECT dlg_id FROM tbd)
        |    AND dlg_id NOT IN (SELECT dlg_id FROM tleak)),
        |tst AS (
        |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_trajectories,
        |    CAST(sum(signal_milli) // count(*) AS BIGINT) AS mean_milli
        |  FROM tsurv GROUP BY 1 HAVING count(*) >= 2),
        |tadv AS (
        |  SELECT s.prompt, s.dlg_id, s.signal_milli, t.n_trajectories,
        |    t.mean_milli, s.signal_milli - t.mean_milli AS advantage_milli
        |  FROM tsurv s JOIN tst t USING (prompt)),
        |ttf AS (
        |  SELECT dlg_id, event_type,
        |    CAST(row_number() OVER (PARTITION BY dlg_id ORDER BY tsn, event_id) - 1
        |      AS BIGINT) AS turn,
        |    CAST(count(*) OVER (PARTITION BY dlg_id) AS BIGINT) AS n_turns
        |  FROM trn)
        |SELECT a.prompt, a.dlg_id, f.turn, f.event_type, true AS attributed,
        |  f.n_turns, f.n_turns AS n_attr_turns, a.signal_milli,
        |  a.n_trajectories, a.mean_milli, a.advantage_milli,
        |  CAST(a.advantage_milli // f.n_turns +
        |    CASE WHEN f.turn + 1 <=
        |        abs(a.advantage_milli - (a.advantage_milli // f.n_turns) * f.n_turns)
        |      THEN CASE WHEN a.advantage_milli < 0 THEN -1 ELSE 1 END
        |      ELSE 0 END AS BIGINT) AS adv_turn_uniform_milli,
        |  CAST(CASE WHEN f.turn + 1 = f.n_turns THEN a.advantage_milli
        |    ELSE 0 END AS BIGINT) AS adv_turn_last_milli
        |FROM tadv a JOIN ttf f USING (dlg_id)""".stripMargin),

    // the preference gate chain (assembly by (value, id) windows, the
    // two pair-level gates) folded to the surviving pair rows
    "q157_pref_pairs" ->
      (s"WITH $prefGateCtes" + """
        |SELECT prompt, n_candidates, chosen_id, chosen_signal,
        |  chosen_content, rejected_id, rejected_signal, rejected_content,
        |  margin
        |FROM kept""".stripMargin),

    // q157's gate CTEs folded to the four stage counts
    "q160_pref_counters" ->
      (s"WITH $prefGateCtes" + """
        |SELECT 'pairs_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM pairs
        |UNION ALL
        |SELECT 'pairs_invalid_side', CAST(count(*) AS BIGINT) FROM invpair
        |UNION ALL
        |SELECT 'pairs_contaminated_valid', CAST(count(*) AS BIGINT)
        |FROM leakpair WHERE prompt NOT IN (SELECT prompt FROM invpair)
        |UNION ALL
        |SELECT 'pairs_kept', CAST(count(*) AS BIGINT) FROM kept""".stripMargin),

    // q157's kept pairs exploded to two 2-turn sides (prompt mask 0,
    // response mask 1), then q151's indexed-piece + pack mechanics with
    // side_id = candidate·2 + side as the dialogue key
    "q161_pref_sequences" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$prefGateCtes,
        |$prefSideStreamCtes,
        |${streamPackTailSql(16)}""".stripMargin),

    // candidate-level gates (q164's CTEs), top-2 per prompt by
    // (value, id) DESC windows, then each selected candidate as a
    // 2-turn sample (sample key = the candidate id) through the q161
    // side-stream + pack mechanics
    "q166_bestofn_sequences" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$candGateCtes,
        |sel AS (
        |  SELECT prompt, event_id, content FROM (
        |    SELECT prompt, event_id, content,
        |      row_number() OVER (PARTITION BY prompt
        |        ORDER BY value DESC, event_id DESC) AS rk
        |    FROM csurv) z
        |  WHERE rk <= 2),
        |${sideStreamCtes("SELECT event_id AS side_id, prompt, content AS rcontent FROM sel")},
        |${streamPackTailSql(16)}""".stripMargin),

    // q163's side-stream + FFD CTEs rolled up to bins, then q159's
    // manifest tail: seq_id by (shard, bin) row_number, file by
    // running-fill // 4000, the 2-epoch md5 permutation
    "q168_pref_tensor_manifest" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
        |$prefGateCtes,
        |$prefSideStreamCtes,
        |scnt AS (
        |  SELECT side_id AS id, CAST(count(*) AS BIGINT) AS n
        |  FROM stream GROUP BY 1),
        |${ffdCtes("p", "scnt", 64, 2000)},
        |mbins AS (
        |  SELECT shard, bin, CAST(sum(n) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pffd WHERE id IS NOT NULL GROUP BY 1, 2),
        |msq AS (
        |  SELECT shard, bin, fill, n_docs,
        |    CAST(row_number() OVER (ORDER BY shard, bin) - 1 AS BIGINT) AS seq_id,
        |    CAST(CAST(coalesce(sum(fill) OVER (ORDER BY shard, bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      // 4000 AS BIGINT) AS file
        |  FROM mbins)
        |SELECT shard, bin, fill, n_docs, seq_id, file, CAST(e AS BIGINT) AS epoch,
        |  CAST(row_number() OVER (PARTITION BY e, shard
        |    ORDER BY md5('epoch:' || e || ':' || seq_id), seq_id) - 1
        |    AS BIGINT) AS pos
        |FROM msq, unnest(generate_series(0, 1)) AS u(e)""".stripMargin),

    // q107's caption-pair + CC + priority machinery with the image-side
    // gate added. The IMAGE equivalence is FROZEN (the q64 pattern —
    // DuckDB ships no codec): the decodable halfred.jpg/halfred.png
    // fixtures decode to near-identical stats embeddings (cosine ≈ 1,
    // their per-channel means differ by one JPEG-loss milli — q64's
    // frozen rows gate the decode itself) so they form the one
    // similarity pair, and corrupt.bin matches only by content
    // identity; the Spark side RUNS the real decode + LSH, so a codec
    // or similarity regression breaks the compare
    "q167_multimodal_pair_dedup" ->
      s"""WITH RECURSIVE p0 AS (
         |$lshPairsOracleSql
         |),
         |asg AS (
         |  SELECT doc_id,
         |    CASE doc_id % 4 WHEN 0 THEN 'corrupt.bin' WHEN 1 THEN 'halfred.jpg'
         |      WHEN 2 THEN 'halfred.png' ELSE 'blue.ppm' END AS img
         |  FROM documents),
         |jp AS (
         |  SELECT p0.id_a, p0.id_b
         |  FROM p0
         |  JOIN asg a ON p0.id_a = a.doc_id
         |  JOIN asg b ON p0.id_b = b.doc_id
         |  WHERE a.img = b.img
         |     OR (a.img IN ('halfred.jpg', 'halfred.png')
         |         AND b.img IN ('halfred.jpg', 'halfred.png'))),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp UNION SELECT id_b, id_a FROM jp),
         |r AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
         |reps AS (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
         |d AS (
         |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS priority,
         |    coalesce(reps.rep, doc_id) AS rep
         |  FROM documents LEFT JOIN reps ON doc_id = reps.id),
         |mp AS (SELECT rep, min(priority) AS best_prio FROM d GROUP BY rep),
         |keep AS (
         |  SELECT min(d.doc_id) AS doc_id
         |  FROM d JOIN mp ON d.rep = mp.rep AND d.priority = mp.best_prio
         |  GROUP BY d.rep)
         |SELECT d2.doc_id, CAST(substr(d2.source, 4) AS BIGINT) AS priority
         |FROM documents d2 JOIN keep USING (doc_id)""".stripMargin,

    // q164's gates + the integer variance expansion in HUGEINT, the
    // double-seeded ±1-corrected integer sqrt, and milli-σ advantages
    "q169_group_advantages_std" ->
      (s"WITH $candGateCtes" + """,
        |surv AS (
        |  SELECT prompt, event_id, content,
        |    CAST(floor(value * 1000) AS BIGINT) AS signal_milli
        |  FROM csurv),
        |sst AS (
        |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(signal_milli) AS BIGINT) AS s1,
        |    sum(CAST(signal_milli AS HUGEINT) * signal_milli) AS s2
        |  FROM surv GROUP BY 1 HAVING count(*) >= 2),
        |sms AS (
        |  SELECT prompt, n_candidates, s1, s2,
        |    CAST(s1 // n_candidates AS BIGINT) AS mean_milli
        |  FROM sst),
        |svr AS (
        |  SELECT prompt, n_candidates, mean_milli,
        |    CAST((s2 - 2 * CAST(mean_milli AS HUGEINT) * s1
        |      + CAST(n_candidates AS HUGEINT) * mean_milli * mean_milli)
        |      // n_candidates AS BIGINT) AS var_milli2
        |  FROM sms),
        |sq0 AS (
        |  SELECT *, CAST(floor(sqrt(CAST(var_milli2 AS DOUBLE))) AS BIGINT) AS s0
        |  FROM svr),
        |sstd AS (
        |  SELECT prompt, n_candidates, mean_milli, var_milli2,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= var_milli2 THEN s0 + 1
        |         WHEN s0 * s0 > var_milli2 THEN s0 - 1
        |         ELSE s0 END AS std_milli
        |  FROM sq0)
        |SELECT s.prompt, s.event_id, s.content, s.signal_milli,
        |  g.n_candidates, g.mean_milli, g.var_milli2, g.std_milli,
        |  s.signal_milli - g.mean_milli AS advantage_milli,
        |  CAST(CASE WHEN g.std_milli > 0
        |    THEN ((s.signal_milli - g.mean_milli) * 1000) // g.std_milli
        |    ELSE 0 END AS BIGINT) AS adv_norm_milli
        |FROM surv s JOIN sstd g USING (prompt)""".stripMargin),

    // q164's gates + per-prompt class counts + the integer balance
    // weight (minority 1000, majority min·1000 // n_class)
    "q171_binary_feedback" ->
      (s"WITH $candGateCtes" + """,
        |lbl AS (
        |  SELECT prompt, event_id, content, value, value >= 35.0 AS desirable
        |  FROM csurv),
        |cls AS (
        |  SELECT prompt,
        |    CAST(sum(CASE WHEN desirable THEN 1 ELSE 0 END) AS BIGINT) AS n_desirable,
        |    CAST(sum(CASE WHEN desirable THEN 0 ELSE 1 END) AS BIGINT) AS n_undesirable
        |  FROM lbl GROUP BY 1)
        |SELECT l.prompt, l.event_id, l.content, l.value, l.desirable,
        |  c.n_desirable, c.n_undesirable,
        |  CAST(CASE WHEN c.n_desirable = 0 OR c.n_undesirable = 0 THEN 1000
        |    ELSE (least(c.n_desirable, c.n_undesirable) * 1000)
        |      // (CASE WHEN l.desirable THEN c.n_desirable
        |              ELSE c.n_undesirable END)
        |    END AS BIGINT) AS weight_milli
        |FROM lbl l JOIN cls c USING (prompt)""".stripMargin),

    // global (difficulty, id) rank -> 10 bands; epoch e of 4 admits the
    // ceil((e+1)*10/4)-band prefix; per-epoch md5 permutation per band
    "q172_curriculum_order" -> curriculumOracleSql,

    // q172's schedule wrapped with the strictly-after cursor filter
    "q179_curriculum_resume" ->
      (s"""SELECT * FROM (
        |$curriculumOracleSql
        |) cur
        |WHERE epoch > 1 OR (epoch = 1
        |  AND (bucket > 2 OR (bucket = 2 AND pos > 100)))""".stripMargin),

    // q166's gate + selection + side-stream CTEs rolled up to the
    // per-bin (fill, n_docs) counts, then the split-manifest tail:
    // seq_id by bin order, file by running-fill // 64, the 2-epoch
    // per-FILE md5 permutation
    "q173_bestofn_manifest" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$candGateCtes,
        |sel AS (
        |  SELECT prompt, event_id, content FROM (
        |    SELECT prompt, event_id, content,
        |      row_number() OVER (PARTITION BY prompt
        |        ORDER BY value DESC, event_id DESC) AS rk
        |    FROM csurv) z
        |  WHERE rk <= 2),
        |${sideStreamCtes("SELECT event_id AS side_id, prompt, content AS rcontent FROM sel")},
        |$streamPosCtes,
        |mbin AS (
        |  SELECT CAST(p // 16 AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS fill,
        |    CAST(count(DISTINCT side_id) AS BIGINT) AS n_docs
        |  FROM pos GROUP BY 1),
        |msq AS (
        |  SELECT bin, fill, n_docs,
        |    CAST(row_number() OVER (ORDER BY bin) - 1 AS BIGINT) AS seq_id,
        |    CAST(CAST(coalesce(sum(fill) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      // 64 AS BIGINT) AS file
        |  FROM mbin)
        |SELECT bin, fill, n_docs, seq_id, file, CAST(e AS BIGINT) AS epoch,
        |  CAST(row_number() OVER (PARTITION BY e, file
        |    ORDER BY md5('epoch:' || e || ':' || seq_id), seq_id) - 1 AS BIGINT)
        |    AS pos
        |FROM msq, unnest(generate_series(0, 1)) AS u(e)""".stripMargin),

    // q165's sessionize + attribution mechanics, UNGATED, with the
    // trajectory signal re-derived from per-turn rewards (floor·1000
    // per turn, integer-summed — the quantize-then-sum law)
    "q174_turn_advantages_rewards" ->
      (s"""WITH ev AS (
        |  SELECT event_id, user_id, event_type, value, props, epoch_ns(ts) AS tsn
        |  FROM events),
        |${sessionizeCtes("t")},
        |trn AS (
        |  SELECT event_id, user_id, event_type, value, props, tsn,
        |    user_id * 100000 + session_seq AS dlg_id
        |  FROM tsg),
        |tfp AS (
        |  SELECT dlg_id, props AS prompt FROM (
        |    SELECT dlg_id, props, row_number() OVER (PARTITION BY dlg_id
        |      ORDER BY tsn, event_id) AS rn FROM trn) z
        |  WHERE rn = 1),
        |tsig AS (
        |  SELECT dlg_id,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS signal_milli
        |  FROM trn WHERE value IS NOT NULL GROUP BY 1),
        |tsurv AS (
        |  SELECT tfp.prompt, tfp.dlg_id, tsig.signal_milli
        |  FROM tfp JOIN tsig USING (dlg_id)),
        |tst AS (
        |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_trajectories,
        |    CAST(sum(signal_milli) // count(*) AS BIGINT) AS mean_milli
        |  FROM tsurv GROUP BY 1 HAVING count(*) >= 2),
        |tadv AS (
        |  SELECT s.prompt, s.dlg_id, s.signal_milli, t.n_trajectories,
        |    t.mean_milli, s.signal_milli - t.mean_milli AS advantage_milli
        |  FROM tsurv s JOIN tst t USING (prompt)),
        |ttf AS (
        |  SELECT dlg_id, event_type,
        |    CAST(row_number() OVER (PARTITION BY dlg_id ORDER BY tsn, event_id) - 1
        |      AS BIGINT) AS turn,
        |    CAST(count(*) OVER (PARTITION BY dlg_id) AS BIGINT) AS n_turns
        |  FROM trn)
        |SELECT a.prompt, a.dlg_id, f.turn, f.event_type, true AS attributed,
        |  f.n_turns, f.n_turns AS n_attr_turns, a.signal_milli,
        |  a.n_trajectories, a.mean_milli, a.advantage_milli,
        |  CAST(a.advantage_milli // f.n_turns +
        |    CASE WHEN f.turn + 1 <=
        |        abs(a.advantage_milli - (a.advantage_milli // f.n_turns) * f.n_turns)
        |      THEN CASE WHEN a.advantage_milli < 0 THEN -1 ELSE 1 END
        |      ELSE 0 END AS BIGINT) AS adv_turn_uniform_milli,
        |  CAST(CASE WHEN f.turn + 1 = f.n_turns THEN a.advantage_milli
        |    ELSE 0 END AS BIGINT) AS adv_turn_last_milli
        |FROM tadv a JOIN ttf f USING (dlg_id)""".stripMargin),

    // q167's caption-pair + CC + priority machinery with the AUDIO
    // compatibility lattice frozen the same way (DuckDB ships no audio
    // codec): halfloud.wav/halfloud.au are one clip in two containers
    // (identical PCM through the JDK decode → identical segment-RMS
    // envelopes), quiet.wav decodes but its envelope is dissimilar,
    // corrupt.bin matches by content identity only; the Spark side
    // RUNS the real decode + envelope + LSH, so a codec or similarity
    // regression breaks the compare
    "q175_audio_pair_dedup" ->
      s"""WITH RECURSIVE p0 AS (
         |$lshPairsOracleSql
         |),
         |asg AS (
         |  SELECT doc_id,
         |    CASE doc_id % 4 WHEN 0 THEN 'corrupt.bin' WHEN 1 THEN 'halfloud.wav'
         |      WHEN 2 THEN 'halfloud.au' ELSE 'quiet.wav' END AS clip
         |  FROM documents),
         |jp AS (
         |  SELECT p0.id_a, p0.id_b
         |  FROM p0
         |  JOIN asg a ON p0.id_a = a.doc_id
         |  JOIN asg b ON p0.id_b = b.doc_id
         |  WHERE a.clip = b.clip
         |     OR (a.clip IN ('halfloud.wav', 'halfloud.au')
         |         AND b.clip IN ('halfloud.wav', 'halfloud.au'))),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp UNION SELECT id_b, id_a FROM jp),
         |r AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
         |reps AS (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
         |d AS (
         |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS priority,
         |    coalesce(reps.rep, doc_id) AS rep
         |  FROM documents LEFT JOIN reps ON doc_id = reps.id),
         |mp AS (SELECT rep, min(priority) AS best_prio FROM d GROUP BY rep),
         |keep AS (
         |  SELECT min(d.doc_id) AS doc_id
         |  FROM d JOIN mp ON d.rep = mp.rep AND d.priority = mp.best_prio
         |  GROUP BY d.rep)
         |SELECT d2.doc_id, CAST(substr(d2.source, 4) AS BIGINT) AS priority
         |FROM documents d2 JOIN keep USING (doc_id)""".stripMargin,

    // q174's sessionize + advantage CTEs, the q155 survivor-vocab law
    // (pieces from surviving turns only), per-turn uniform credit
    // attached to every token, then the q151 pack tail with the value
    // channel riding the stream
    "q176_prm_sequences" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |ev AS (
        |  SELECT event_id, user_id, event_type, value, props, epoch_ns(ts) AS tsn
        |  FROM events),
        |${sessionizeCtes("t")},
        |trn AS (
        |  SELECT event_id, user_id, event_type, value, props, tsn,
        |    user_id * 100000 + session_seq AS dlg_id
        |  FROM tsg),
        |tfp AS (
        |  SELECT dlg_id, props AS prompt FROM (
        |    SELECT dlg_id, props, row_number() OVER (PARTITION BY dlg_id
        |      ORDER BY tsn, event_id) AS rn FROM trn) z
        |  WHERE rn = 1),
        |tsig AS (
        |  SELECT dlg_id,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS signal_milli
        |  FROM trn WHERE value IS NOT NULL GROUP BY 1),
        |tsurv AS (
        |  SELECT tfp.prompt, tfp.dlg_id, tsig.signal_milli
        |  FROM tfp JOIN tsig USING (dlg_id)),
        |tst AS (
        |  SELECT prompt, CAST(count(*) AS BIGINT) AS n_trajectories,
        |    CAST(sum(signal_milli) // count(*) AS BIGINT) AS mean_milli
        |  FROM tsurv GROUP BY 1 HAVING count(*) >= 2),
        |tadv AS (
        |  SELECT s.dlg_id, s.signal_milli - t.mean_milli AS advantage_milli
        |  FROM tsurv s JOIN tst t USING (prompt)),
        |strn AS (
        |  SELECT t.* FROM trn t JOIN tadv a USING (dlg_id)),
        |${bpeApplySql(BpeMergeCount,
        "SELECT DISTINCT unnest(regexp_extract_all(lower(event_type || ' ' || " +
          "props), '[a-z0-9]+')) AS w FROM strn")},
        |wp2 AS (
        |  SELECT w, string_split(trim(sym), '  ') AS pieces FROM ew$BpeMergeCount),
        |vocab AS (
        |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp2)),
        |dw AS (
        |  SELECT event_id, i AS wi, t[i] AS w
        |  FROM (SELECT event_id,
        |          regexp_extract_all(lower(event_type || ' ' || props), '[a-z0-9]+') AS t
        |        FROM strn) z,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |ws AS (
        |  SELECT dw.event_id, dw.wi, wp2.pieces,
        |    CAST(coalesce(sum(len(wp2.pieces)) OVER (PARTITION BY dw.event_id
        |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS word_start
        |  FROM dw JOIN wp2 ON dw.w = wp2.w),
        |estream AS (
        |  SELECT event_id, word_start + pi - 1 AS turn_tok_idx, pieces[pi] AS piece
        |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi)),
        |ecnt AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n FROM estream GROUP BY 1),
        |pturn AS (
        |  SELECT t.dlg_id, t.event_id, a.advantage_milli,
        |    CAST(row_number() OVER (PARTITION BY t.dlg_id
        |      ORDER BY t.tsn, t.event_id) - 1 AS BIGINT) AS turn,
        |    CAST(count(*) OVER (PARTITION BY t.dlg_id) AS BIGINT) AS n_turns,
        |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (PARTITION BY t.dlg_id
        |      ORDER BY t.tsn, t.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS turn_start
        |  FROM strn t
        |  JOIN tadv a USING (dlg_id)
        |  LEFT JOIN ecnt e ON e.event_id = t.event_id),
        |pval AS (
        |  SELECT dlg_id, event_id, turn_start,
        |    CAST(advantage_milli // n_turns + CASE WHEN turn + 1 <=
        |        abs(advantage_milli - (advantage_milli // n_turns) * n_turns)
        |      THEN CASE WHEN advantage_milli < 0 THEN -1 ELSE 1 END
        |      ELSE 0 END AS BIGINT) AS value_milli
        |  FROM pturn),
        |stream AS (
        |  SELECT p.dlg_id, p.turn_start + s.turn_tok_idx AS tok_idx,
        |    v.token_id, CAST(1 AS BIGINT) AS mask, p.value_milli
        |  FROM estream s
        |  JOIN pval p USING (event_id)
        |  JOIN vocab v ON s.piece = v.piece),
        |dc AS (
        |  SELECT dlg_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || dlg_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT dlg_id, CAST(sum(n_tokens) OVER (ORDER BY k, dlg_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM dc),
        |pos AS (
        |  SELECT s.dlg_id, s.tok_idx, s.token_id, s.mask, s.value_milli,
        |    o.start + s.tok_idx AS p
        |  FROM stream s JOIN off o USING (dlg_id))
        |SELECT CAST(p // 16 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT dlg_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
        |  array_to_string(list(mask ORDER BY p), '') AS mask,
        |  array_to_string(list(value_milli ORDER BY p), ' ') AS value_milli
        |FROM pos GROUP BY 1""".stripMargin),

    // q173's manifest CTEs re-checked against their own export: the
    // size stats and the five violation counters (all zero on the
    // well-formed artifact — the spec drives the corruption classes)
    "q177_manifest_check" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$candGateCtes,
        |sel AS (
        |  SELECT prompt, event_id, content FROM (
        |    SELECT prompt, event_id, content,
        |      row_number() OVER (PARTITION BY prompt
        |        ORDER BY value DESC, event_id DESC) AS rk
        |    FROM csurv) z
        |  WHERE rk <= 2),
        |${sideStreamCtes("SELECT event_id AS side_id, prompt, content AS rcontent FROM sel")},
        |$streamPosCtes,
        |mbin AS (
        |  SELECT CAST(p // 16 AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS fill,
        |    CAST(count(DISTINCT side_id) AS BIGINT) AS n_docs
        |  FROM pos GROUP BY 1),
        |${writerManCtes("mbin", Seq("bin"), "file", 64, 1)}
        |SELECT 'sequences_export' AS "check", CAST(count(*) AS BIGINT) AS n FROM mbin
        |UNION ALL
        |SELECT 'manifest_rows', CAST(count(*) AS BIGINT) FROM man
        |UNION ALL
        |SELECT 'epochs_seen', CAST(count(DISTINCT epoch) AS BIGINT) FROM man
        |UNION ALL
        |SELECT 'epoch_gaps',
        |  CAST(coalesce(max(epoch) + 1, 0) - count(DISTINCT epoch) AS BIGINT)
        |FROM man
        |UNION ALL
        |SELECT 'duplicate_manifest_keys', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM man GROUP BY epoch, seq_id)
        |UNION ALL
        |SELECT 'missing_sequences', CAST(coalesce(sum(nn - c), 0) AS BIGINT)
        |FROM (SELECT epoch, count(DISTINCT m.seq_id) AS c,
        |        (SELECT count(*) FROM msq) AS nn
        |      FROM man m JOIN msq x ON m.seq_id = x.seq_id GROUP BY epoch)
        |UNION ALL
        |SELECT 'layout_mismatches', CAST(count(*) AS BIGINT)
        |FROM man m LEFT JOIN msq x ON m.seq_id = x.seq_id
        |WHERE x.seq_id IS NULL OR m.bin <> x.bin OR m.fill <> x.fill
        |   OR m.n_docs <> x.n_docs OR m.file <> x.file
        |UNION ALL
        |SELECT 'pos_violations', CAST(count(*) AS BIGINT)
        |FROM (SELECT epoch, file, count(*) AS c, max(pos) AS mx,
        |        count(DISTINCT pos) AS d
        |      FROM man GROUP BY 1, 2)
        |WHERE mx <> c - 1 OR d <> c
        |UNION ALL
        |SELECT 'pos_mismatches', CAST(count(*) AS BIGINT)
        |FROM man m JOIN (
        |  SELECT e2.epoch, s2.seq_id,
        |    CAST(row_number() OVER (PARTITION BY e2.epoch, s2.file
        |      ORDER BY md5('epoch:' || e2.epoch || ':' || s2.seq_id), s2.seq_id)
        |      - 1 AS BIGINT) AS e_pos
        |  FROM msq s2, (SELECT DISTINCT epoch FROM man) e2) x
        |  ON m.epoch = x.epoch AND m.seq_id = x.seq_id
        |WHERE m.pos IS DISTINCT FROM x.e_pos""".stripMargin),

    // q159's manifest CTEs re-checked against their own layout — the
    // q177 counter shape with the (shard, bin) identity and the
    // per-(epoch, shard) pos density
    "q180_manifest_check_bestfit" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |bins AS (
        |  SELECT shard, bin, CAST(sum(n) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM ffd WHERE id IS NOT NULL GROUP BY 1, 2),
        |${writerManCtes("bins", Seq("shard", "bin"), "shard", 4000, 1)}
        |SELECT 'sequences_export' AS "check", CAST(count(*) AS BIGINT) AS n FROM msq
        |UNION ALL
        |SELECT 'manifest_rows', CAST(count(*) AS BIGINT) FROM man
        |UNION ALL
        |SELECT 'epochs_seen', CAST(count(DISTINCT epoch) AS BIGINT) FROM man
        |UNION ALL
        |SELECT 'epoch_gaps',
        |  CAST(coalesce(max(epoch) + 1, 0) - count(DISTINCT epoch) AS BIGINT)
        |FROM man
        |UNION ALL
        |SELECT 'duplicate_manifest_keys', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM man GROUP BY epoch, seq_id)
        |UNION ALL
        |SELECT 'missing_sequences', CAST(coalesce(sum(nn - c), 0) AS BIGINT)
        |FROM (SELECT epoch, count(DISTINCT m.seq_id) AS c,
        |        (SELECT count(*) FROM msq) AS nn
        |      FROM man m JOIN msq x ON m.seq_id = x.seq_id GROUP BY epoch)
        |UNION ALL
        |SELECT 'layout_mismatches', CAST(count(*) AS BIGINT)
        |FROM man m LEFT JOIN msq x ON m.seq_id = x.seq_id
        |WHERE x.seq_id IS NULL OR m.shard <> x.shard OR m.bin <> x.bin
        |   OR m.fill <> x.fill OR m.n_docs <> x.n_docs OR m.file <> x.file
        |UNION ALL
        |SELECT 'pos_violations', CAST(count(*) AS BIGINT)
        |FROM (SELECT epoch, shard, count(*) AS c, max(pos) AS mx,
        |        count(DISTINCT pos) AS d
        |      FROM man GROUP BY 1, 2)
        |WHERE mx <> c - 1 OR d <> c
        |UNION ALL
        |SELECT 'pos_mismatches', CAST(count(*) AS BIGINT)
        |FROM man m JOIN (
        |  SELECT e2.epoch, s2.seq_id,
        |    CAST(row_number() OVER (PARTITION BY e2.epoch, s2.shard
        |      ORDER BY md5('epoch:' || e2.epoch || ':' || s2.seq_id), s2.seq_id)
        |      - 1 AS BIGINT) AS e_pos
        |  FROM msq s2, (SELECT DISTINCT epoch FROM man) e2) x
        |  ON m.epoch = x.epoch AND m.seq_id = x.seq_id
        |WHERE m.pos IS DISTINCT FROM x.e_pos""".stripMargin),

    // q180's generator CTEs + the same deterministic corruption
    // battery, then each violation class re-labeled INDEPENDENTLY (the
    // quarantine frame: offending row + generator-derived correction).
    // NULLS FIRST on the duplicate keep-rule sort — Spark's asc default
    "q181_manifest_quarantine" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |bins AS (
        |  SELECT shard, bin, CAST(sum(n) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM ffd WHERE id IS NOT NULL GROUP BY 1, 2),
        |${writerManCtes("bins", Seq("shard", "bin"), "shard", 4000, 1)},
        |cor AS MATERIALIZED (
        |  SELECT shard, bin,
        |    CASE WHEN epoch = 0 AND seq_id % 17 = 2 THEN fill + 5
        |         ELSE fill END AS fill,
        |    n_docs, seq_id, file, epoch,
        |    CASE WHEN epoch = 1 AND seq_id % 19 = 3 THEN pos + 1000
        |         ELSE pos END AS pos
        |  FROM man WHERE NOT (epoch = 1 AND seq_id % 11 = 0)
        |  UNION ALL
        |  SELECT shard, bin, fill, n_docs, seq_id, file, epoch, pos
        |  FROM man WHERE epoch = 0 AND seq_id % 13 = 1),
        |expos AS MATERIALIZED (
        |  SELECT e2.epoch, s2.seq_id,
        |    CAST(row_number() OVER (PARTITION BY e2.epoch, s2.shard
        |      ORDER BY md5('epoch:' || e2.epoch || ':' || s2.seq_id), s2.seq_id)
        |      - 1 AS BIGINT) AS e_pos
        |  FROM msq s2, (SELECT DISTINCT epoch FROM cor) e2),
        |nl AS (SELECT CAST(NULL AS BIGINT) AS x)
        |SELECT 'duplicate_key' AS violation, epoch, seq_id, shard, bin, fill,
        |  n_docs, file, pos, nl.x AS e_shard, nl.x AS e_bin, nl.x AS e_fill,
        |  nl.x AS e_n_docs, nl.x AS e_file, nl.x AS e_pos
        |FROM (SELECT *, row_number() OVER (PARTITION BY epoch, seq_id
        |        ORDER BY pos ASC NULLS FIRST, shard ASC NULLS FIRST,
        |          bin ASC NULLS FIRST, fill ASC NULLS FIRST,
        |          n_docs ASC NULLS FIRST, file ASC NULLS FIRST) AS rn
        |      FROM cor) z, nl WHERE rn > 1
        |UNION ALL
        |SELECT 'missing', x.epoch, x.seq_id, nl.x, nl.x, nl.x, nl.x, nl.x,
        |  nl.x, s.shard, s.bin, s.fill, s.n_docs, s.file, x.e_pos
        |FROM expos x JOIN msq s USING (seq_id), nl
        |WHERE NOT EXISTS (SELECT 1 FROM cor c
        |                  WHERE c.epoch = x.epoch AND c.seq_id = x.seq_id)
        |UNION ALL
        |SELECT 'layout_mismatch', m.epoch, m.seq_id, m.shard, m.bin, m.fill,
        |  m.n_docs, m.file, m.pos, x.shard, x.bin, x.fill, x.n_docs, x.file,
        |  nl.x
        |FROM cor m LEFT JOIN msq x USING (seq_id), nl
        |WHERE m.shard IS DISTINCT FROM x.shard OR m.bin IS DISTINCT FROM x.bin
        |   OR m.fill IS DISTINCT FROM x.fill
        |   OR m.n_docs IS DISTINCT FROM x.n_docs
        |   OR m.file IS DISTINCT FROM x.file
        |UNION ALL
        |SELECT 'pos_violation', g.epoch, nl.x, g.shard, nl.x, nl.x, nl.x,
        |  nl.x, nl.x, nl.x, nl.x, nl.x, nl.x, nl.x, nl.x
        |FROM (SELECT epoch, shard, count(*) AS c, max(pos) AS mx,
        |        count(DISTINCT pos) AS d
        |      FROM cor GROUP BY 1, 2) g, nl
        |WHERE g.mx <> g.c - 1 OR g.d <> g.c
        |UNION ALL
        |SELECT 'pos_mismatch', m.epoch, m.seq_id, m.shard, m.bin, m.fill,
        |  m.n_docs, m.file, m.pos, nl.x, nl.x, nl.x, nl.x, nl.x, x.e_pos
        |FROM cor m JOIN expos x
        |  ON m.epoch = x.epoch AND m.seq_id = x.seq_id, nl
        |WHERE m.pos IS DISTINCT FROM x.e_pos
        |UNION ALL
        |SELECT 'epoch_gap', CAST(u.e AS BIGINT), nl.x, nl.x, nl.x, nl.x,
        |  nl.x, nl.x, nl.x, nl.x, nl.x, nl.x, nl.x, nl.x, nl.x
        |FROM unnest(generate_series(0, (SELECT max(epoch) FROM cor))) AS u(e),
        |  nl
        |WHERE u.e NOT IN (SELECT epoch FROM cor)""".stripMargin),

    // q146's doc token-stream CTEs, interleaved with the deterministic
    // placeholder assignment (doc_id % 3 != 0 → key doc_id % 4 + 1,
    // token −2 at position 0, text shifted one right), then the q151
    // md5-offset packing with the payload-key channel riding position
    // order and the per-bin modality counts
    "q182_interleaved_sequences" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$docTokenStreamCtes,
        |tstream AS (
        |  SELECT s.doc_id, s.tok_idx, v.token_id
        |  FROM stream s JOIN vocab v ON s.piece = v.piece),
        |asg AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS pk
        |  FROM documents WHERE doc_id % 3 <> 0),
        |istream AS (
        |  SELECT a.doc_id, CAST(0 AS BIGINT) AS tok_idx,
        |    CAST(-2 AS BIGINT) AS token_id, a.pk AS payload_key
        |  FROM asg a
        |  UNION ALL
        |  SELECT t.doc_id,
        |    CAST(t.tok_idx + CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END
        |      AS BIGINT),
        |    t.token_id, CAST(-1 AS BIGINT)
        |  FROM tstream t LEFT JOIN asg a USING (doc_id)),
        |cnts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM istream GROUP BY 1),
        |off AS (
        |  SELECT doc_id,
        |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM cnts),
        |pos AS (
        |  SELECT i.doc_id, i.tok_idx, i.token_id, i.payload_key,
        |    o.start + i.tok_idx AS p
        |  FROM istream i JOIN off o USING (doc_id))
        |SELECT CAST(p // 16 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  CAST(sum(CASE WHEN token_id = -2 THEN 1 ELSE 0 END) AS BIGINT) AS n_placeholders,
        |  CAST(sum(CASE WHEN token_id = -2 THEN 0 ELSE 1 END) AS BIGINT) AS n_text_tokens,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
        |  array_to_string(list(payload_key ORDER BY p), ' ') AS payload_key
        |FROM pos GROUP BY 1""".stripMargin),

    // q146's doc-stream CTEs at 64-token bins, the per-bin boundary
    // derivation via lag(doc) over position order (a boundary wherever
    // the doc changes, position 0 included), cu_seqlens = boundaries ++
    // [n_tokens]
    "q184_attention_segments" ->
      (bpeStagesSql(BpeMergeCount) + s""",
        |$docTokenStreamCtes,
        |cnts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || doc_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT doc_id,
        |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM cnts),
        |pos2 AS (
        |  SELECT s.doc_id, s.tok_idx, v.token_id, o.start + s.tok_idx AS p,
        |    CAST((o.start + s.tok_idx) // 64 AS BIGINT) AS bin
        |  FROM stream s
        |  JOIN off o ON s.doc_id = o.doc_id
        |  JOIN vocab v ON s.piece = v.piece),
        |lb AS (
        |  SELECT bin, p, doc_id,
        |    CAST(row_number() OVER (PARTITION BY bin ORDER BY p) - 1 AS BIGINT)
        |      AS local,
        |    lag(doc_id) OVER (PARTITION BY bin ORDER BY p) AS prev
        |  FROM pos2),
        |bstat AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_doc_starts,
        |    array_to_string(list(token_id ORDER BY p), ' ') AS token_ids
        |  FROM pos2 GROUP BY 1),
        |bcu AS (
        |  SELECT bin, list(local ORDER BY local) AS ib
        |  FROM lb WHERE prev IS NULL OR prev <> doc_id GROUP BY 1)
        |SELECT b.bin, b.n_tokens, b.n_docs, b.n_doc_starts,
        |  CAST(len(c.ib) AS BIGINT) AS n_segments,
        |  array_to_string(list_append(c.ib, b.n_tokens), ' ') AS cu_seqlens,
        |  b.token_ids
        |FROM bstat b JOIN bcu c USING (bin)""".stripMargin),

    // q152's recursive-FFD CTEs folded to the per-bin segment offsets:
    // doc_off windows in (n desc, id) order, cu = offsets ++ [fill]
    "q185_bestfit_segments" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |pl AS (
        |  SELECT shard, bin, id, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard, bin
        |      ORDER BY n DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off
        |  FROM ffd WHERE id IS NOT NULL)
        |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(n) AS BIGINT) AS fill,
        |  CAST(96 - sum(n) AS BIGINT) AS pad,
        |  array_to_string(
        |    list_append(list(doc_off ORDER BY doc_off),
        |      CAST(sum(n) AS BIGINT)), ' ') AS cu_seqlens
        |FROM pl GROUP BY 1, 2""".stripMargin),

    // q174's sessionize + prompt CTEs, then the exact Horner recurrence
    // as a recursive CTE anchored at each trajectory's LAST turn:
    // ret(last) = q, ret(t) = q(t) + (900000 · ret(t+1)) // 10^6 —
    // DuckDB's // truncates toward zero exactly like Spark/Java
    // division (verified on negatives), so the oracle replays the
    // residue law bit for bit
    "q183_returns_to_go" ->
      (s"""WITH RECURSIVE ev AS (
        |  SELECT event_id, user_id, event_type, value, props, epoch_ns(ts) AS tsn
        |  FROM events),
        |${sessionizeCtes("t")},
        |trn AS (
        |  SELECT event_id, user_id, event_type, value, props, tsn,
        |    user_id * 100000 + session_seq AS dlg_id
        |  FROM tsg),
        |tfp AS (
        |  SELECT dlg_id, props AS prompt FROM (
        |    SELECT dlg_id, props, row_number() OVER (PARTITION BY dlg_id
        |      ORDER BY tsn, event_id) AS rn FROM trn) z
        |  WHERE rn = 1),
        |tr AS (
        |  SELECT f.prompt, t.dlg_id, t.event_id,
        |    CASE WHEN t.value IS NULL THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(t.value * 1000) AS BIGINT) END AS q,
        |    row_number() OVER (PARTITION BY t.dlg_id
        |      ORDER BY t.tsn, t.event_id) AS rn,
        |    count(*) OVER (PARTITION BY t.dlg_id) AS cnt
        |  FROM trn t JOIN tfp f USING (dlg_id)),
        |rtg AS (
        |  SELECT prompt, dlg_id, event_id, q, rn, cnt, q AS ret
        |  FROM tr WHERE rn = cnt
        |  UNION ALL
        |  SELECT t.prompt, t.dlg_id, t.event_id, t.q, t.rn, t.cnt,
        |    t.q + (900000 * r.ret) // 1000000
        |  FROM tr t JOIN rtg r ON t.dlg_id = r.dlg_id AND t.rn = r.rn - 1)
        |SELECT prompt, dlg_id, event_id, CAST(rn - 1 AS BIGINT) AS turn,
        |  CAST(q AS BIGINT) AS reward_milli, CAST(ret AS BIGINT) AS return_milli
        |FROM rtg""".stripMargin),

    // q183's recursive return-to-go CTE + q176's token-stream tail,
    // with EVERY trajectory surviving (a return needs no group
    // baseline) and the vocab built over all turns; each token's value
    // is its turn's ret, mask 1 (attrRoles None)
    "q189_prm_rtg_sequences" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
        |ev AS (
        |  SELECT event_id, user_id, event_type, value, props, epoch_ns(ts) AS tsn
        |  FROM events),
        |${sessionizeCtes("t")},
        |trn AS (
        |  SELECT event_id, user_id, event_type, value, props, tsn,
        |    user_id * 100000 + session_seq AS dlg_id
        |  FROM tsg),
        |tr AS (
        |  SELECT t.dlg_id, t.event_id,
        |    CASE WHEN t.value IS NULL THEN CAST(0 AS BIGINT)
        |         ELSE CAST(floor(t.value * 1000) AS BIGINT) END AS q,
        |    row_number() OVER (PARTITION BY t.dlg_id
        |      ORDER BY t.tsn, t.event_id) AS rn,
        |    count(*) OVER (PARTITION BY t.dlg_id) AS cnt
        |  FROM trn t),
        |rtg AS (
        |  SELECT dlg_id, event_id, q, rn, cnt, q AS ret
        |  FROM tr WHERE rn = cnt
        |  UNION ALL
        |  SELECT t.dlg_id, t.event_id, t.q, t.rn, t.cnt,
        |    t.q + (900000 * r.ret) // 1000000
        |  FROM tr t JOIN rtg r ON t.dlg_id = r.dlg_id AND t.rn = r.rn - 1),
        |${bpeApplySql(BpeMergeCount,
        "SELECT DISTINCT unnest(regexp_extract_all(lower(event_type || ' ' || " +
          "props), '[a-z0-9]+')) AS w FROM trn")},
        |wp2 AS (
        |  SELECT w, string_split(trim(sym), '  ') AS pieces FROM ew$BpeMergeCount),
        |vocab AS (
        |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
        |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wp2)),
        |dw AS (
        |  SELECT event_id, i AS wi, t[i] AS w
        |  FROM (SELECT event_id,
        |          regexp_extract_all(lower(event_type || ' ' || props), '[a-z0-9]+') AS t
        |        FROM trn) z,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |ws AS (
        |  SELECT dw.event_id, dw.wi, wp2.pieces,
        |    CAST(coalesce(sum(len(wp2.pieces)) OVER (PARTITION BY dw.event_id
        |      ORDER BY dw.wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS word_start
        |  FROM dw JOIN wp2 ON dw.w = wp2.w),
        |estream AS (
        |  SELECT event_id, word_start + pi - 1 AS turn_tok_idx, pieces[pi] AS piece
        |  FROM ws, unnest(generate_series(1, len(pieces))) AS u(pi)),
        |ecnt AS (SELECT event_id, CAST(count(*) AS BIGINT) AS n FROM estream GROUP BY 1),
        |pturn AS (
        |  SELECT t.dlg_id, t.event_id, r.ret,
        |    CAST(coalesce(sum(coalesce(e.n, 0)) OVER (PARTITION BY t.dlg_id
        |      ORDER BY t.tsn, t.event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS turn_start
        |  FROM trn t
        |  JOIN rtg r ON r.event_id = t.event_id AND r.dlg_id = t.dlg_id
        |  LEFT JOIN ecnt e ON e.event_id = t.event_id),
        |stream AS (
        |  SELECT p.dlg_id, p.turn_start + s.turn_tok_idx AS tok_idx,
        |    v.token_id, CAST(1 AS BIGINT) AS mask,
        |    CAST(p.ret AS BIGINT) AS value_milli
        |  FROM estream s
        |  JOIN pturn p USING (event_id)
        |  JOIN vocab v ON s.piece = v.piece),
        |dc AS (
        |  SELECT dlg_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    md5('shard:' || dlg_id) AS k
        |  FROM stream GROUP BY 1),
        |off AS (
        |  SELECT dlg_id, CAST(sum(n_tokens) OVER (ORDER BY k, dlg_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        |  FROM dc),
        |pos AS (
        |  SELECT s.dlg_id, s.tok_idx, s.token_id, s.mask, s.value_milli,
        |    o.start + s.tok_idx AS p
        |  FROM stream s JOIN off o USING (dlg_id))
        |SELECT CAST(p // 16 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT dlg_id) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tok_idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_starts,
        |  array_to_string(list(token_id ORDER BY p), ' ') AS token_ids,
        |  array_to_string(list(mask ORDER BY p), '') AS mask,
        |  array_to_string(list(value_milli ORDER BY p), ' ') AS value_milli
        |FROM pos GROUP BY 1""".stripMargin),

    // q172's generator CTEs + the q190 battery replayed verbatim, then
    // each violation class re-labeled independently (the q181 label
    // algebra on (epoch, doc_id) keys; NULLS FIRST on the keep-rule
    // sort; the explicit x.bucket IS NULL arm is the foreign/
    // inadmissible case)
    "q190_curriculum_quarantine" ->
      (s"""WITH $curriculumCtes,
        |cor AS MATERIALIZED (
        |  SELECT epoch, doc_id,
        |    CASE WHEN epoch = 0 AND doc_id % 17 = 2 THEN bucket + 3
        |         ELSE bucket END AS bucket,
        |    CASE WHEN epoch = 3 AND doc_id % 13 = 5 THEN NULL
        |         ELSE difficulty END AS difficulty,
        |    CASE WHEN epoch = 2 AND doc_id % 19 = 3 THEN pos + 1000
        |         ELSE pos END AS pos
        |  FROM cur WHERE epoch <> 1 AND NOT (epoch = 2 AND doc_id % 11 = 0)
        |  UNION ALL
        |  SELECT epoch, doc_id, bucket, difficulty, pos FROM cur
        |  WHERE epoch = 0 AND doc_id % 13 = 1
        |  UNION ALL
        |  SELECT epoch, doc_id + 100000000, bucket, difficulty, pos FROM cur
        |  WHERE epoch = 0 AND doc_id % 23 = 4),
        |nl AS (SELECT CAST(NULL AS BIGINT) AS x)
        |SELECT 'duplicate_key' AS violation, epoch, doc_id, bucket,
        |  difficulty, pos, nl.x AS e_bucket, nl.x AS e_difficulty,
        |  nl.x AS e_pos
        |FROM (SELECT *, row_number() OVER (PARTITION BY epoch, doc_id
        |        ORDER BY pos ASC NULLS FIRST, bucket ASC NULLS FIRST,
        |          difficulty ASC NULLS FIRST) AS rn
        |      FROM cor) z, nl
        |WHERE rn > 1
        |UNION ALL
        |SELECT 'missing', c.epoch, c.doc_id, nl.x, nl.x, nl.x,
        |  c.bucket, c.difficulty, c.pos
        |FROM cur c, nl
        |WHERE NOT EXISTS (SELECT 1 FROM cor m
        |                  WHERE m.epoch = c.epoch AND m.doc_id = c.doc_id)
        |UNION ALL
        |SELECT 'layout_mismatch', m.epoch, m.doc_id, m.bucket,
        |  m.difficulty, m.pos, x.bucket, x.difficulty, nl.x
        |FROM cor m LEFT JOIN cur x
        |  ON m.epoch = x.epoch AND m.doc_id = x.doc_id, nl
        |WHERE x.bucket IS NULL OR m.bucket IS DISTINCT FROM x.bucket
        |   OR m.difficulty IS DISTINCT FROM x.difficulty
        |UNION ALL
        |SELECT 'pos_violation', g.epoch, nl.x, g.bucket, nl.x, nl.x,
        |  nl.x, nl.x, nl.x
        |FROM (SELECT epoch, bucket, count(*) AS c, max(pos) AS mx,
        |        count(DISTINCT pos) AS d
        |      FROM cor GROUP BY 1, 2) g, nl
        |WHERE g.mx <> g.c - 1 OR g.d <> g.c
        |UNION ALL
        |SELECT 'pos_mismatch', m.epoch, m.doc_id, m.bucket, m.difficulty,
        |  m.pos, nl.x, nl.x, x.pos
        |FROM cor m JOIN cur x
        |  ON m.epoch = x.epoch AND m.doc_id = x.doc_id, nl
        |WHERE m.pos IS DISTINCT FROM x.pos""".stripMargin),

    // the curriculum repair law IS the oracle (the q186 argument):
    // repair(battery(schedule)) == the generator's own schedule,
    // battery-free — any repair bug breaks hash equality
    "q191_curriculum_repair" -> curriculumOracleSql,

    // the repair law IS the oracle: repair(corrupted) == the generator's
    // own manifest for the epochs the corrupted manifest names (0..2
    // here — epoch 1 is the gap the refill regenerates), so the oracle
    // re-derives that manifest INDEPENDENTLY and never replays the
    // battery. Split layout: packSequences' piece rollup per 64-token
    // bin, the writer's seq_id/file prefix rule at budget 4000, the
    // md5 per-(epoch, file) permutation
    "q186_manifest_repair" ->
      (s"""WITH $bestFitBaseCtes,
        |off AS (
        |  SELECT id AS doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY md5('shard:' || id), id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS start
        |  FROM base WHERE n > 0),
        |pieces AS (
        |  SELECT doc_id, CAST(u.b AS BIGINT) AS bin,
        |    least((u.b + 1) * 64, start + n) - greatest(u.b * 64, start)
        |      AS piece_len
        |  FROM off, unnest(generate_series(start // 64, (start + n - 1) // 64))
        |    AS u(b)),
        |mbin AS (
        |  SELECT bin, CAST(sum(piece_len) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pieces GROUP BY 1),
        |${writerManCtes("mbin", Seq("bin"), "file", 4000, 2)}
        |SELECT bin, fill, n_docs, seq_id, file, epoch, pos FROM man""".stripMargin),

    // q182's interleave CTEs + the recursive-FFD layout over the
    // INTERLEAVED per-doc lengths (placeholder included), doc_off
    // windows in insertion order, tokens at doc_off + tok_idx, pads
    // appended as strings (' -1' per pad slot — both the padId and the
    // key channel's no-payload sentinel are −1 here)
    "q188_interleaved_bestfit" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
        |$docTokenStreamCtes,
        |tstream AS (
        |  SELECT s.doc_id, s.tok_idx, v.token_id
        |  FROM stream s JOIN vocab v ON s.piece = v.piece),
        |asg AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS pk
        |  FROM documents WHERE doc_id % 3 <> 0),
        |istream AS (
        |  SELECT a.doc_id, CAST(0 AS BIGINT) AS tok_idx,
        |    CAST(-2 AS BIGINT) AS token_id, a.pk AS payload_key
        |  FROM asg a
        |  UNION ALL
        |  SELECT t.doc_id,
        |    CAST(t.tok_idx + CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END
        |      AS BIGINT),
        |    t.token_id, CAST(-1 AS BIGINT)
        |  FROM tstream t LEFT JOIN asg a USING (doc_id)),
        |ibase AS (
        |  SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n
        |  FROM istream GROUP BY 1),
        |${ffdCtes("", "ibase", 96, 2000)},
        |pl AS (
        |  SELECT shard, bin, id, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard, bin
        |      ORDER BY n DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off
        |  FROM ffd WHERE id IS NOT NULL),
        |tok AS (
        |  SELECT p.shard, p.bin, i.token_id, i.payload_key,
        |    p.doc_off + i.tok_idx AS local
        |  FROM istream i JOIN pl p ON i.doc_id = p.id),
        |bs AS (
        |  SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS fill
        |  FROM pl GROUP BY 1, 2),
        |ts AS (
        |  SELECT shard, bin,
        |    CAST(sum(CASE WHEN token_id = -2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_placeholders,
        |    array_to_string(list(token_id ORDER BY local), ' ') AS tok_str,
        |    array_to_string(list(payload_key ORDER BY local), ' ') AS key_str
        |  FROM tok GROUP BY 1, 2)
        |SELECT b.shard, b.bin, b.n_docs, b.fill,
        |  CAST(96 - b.fill AS BIGINT) AS pad_len, t.n_placeholders,
        |  t.tok_str || repeat(' -1', CAST(96 - b.fill AS INT)) AS token_ids,
        |  t.key_str || repeat(' -1', CAST(96 - b.fill AS INT)) AS payload_key
        |FROM bs b JOIN ts t USING (shard, bin)""".stripMargin),

    // q188's interleave + recursive-FFD CTEs with the two extra
    // channels: the mask (0 at placeholders, '0'-padded — the
    // no-train suffix) and the q185 segment derivation
    // (list(doc_off) ++ [fill]) per bin
    "q192_multimodal_sft" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
        |$docTokenStreamCtes,
        |tstream AS (
        |  SELECT s.doc_id, s.tok_idx, v.token_id
        |  FROM stream s JOIN vocab v ON s.piece = v.piece),
        |asg AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 1 AS BIGINT) AS pk
        |  FROM documents WHERE doc_id % 3 <> 0),
        |istream AS (
        |  SELECT a.doc_id, CAST(0 AS BIGINT) AS tok_idx,
        |    CAST(-2 AS BIGINT) AS token_id, a.pk AS payload_key
        |  FROM asg a
        |  UNION ALL
        |  SELECT t.doc_id,
        |    CAST(t.tok_idx + CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END
        |      AS BIGINT),
        |    t.token_id, CAST(-1 AS BIGINT)
        |  FROM tstream t LEFT JOIN asg a USING (doc_id)),
        |ibase AS (
        |  SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n
        |  FROM istream GROUP BY 1),
        |${ffdCtes("", "ibase", 96, 2000)},
        |pl AS (
        |  SELECT shard, bin, id, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard, bin
        |      ORDER BY n DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off
        |  FROM ffd WHERE id IS NOT NULL),
        |tok AS (
        |  SELECT p.shard, p.bin, i.token_id, i.payload_key,
        |    CASE WHEN i.token_id = -2 THEN 0 ELSE 1 END AS m,
        |    p.doc_off + i.tok_idx AS local
        |  FROM istream i JOIN pl p ON i.doc_id = p.id),
        |bs AS (
        |  SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(sum(n) AS BIGINT) AS fill,
        |    array_to_string(
        |      list_append(list(doc_off ORDER BY doc_off),
        |        CAST(sum(n) AS BIGINT)), ' ') AS cu_seqlens
        |  FROM pl GROUP BY 1, 2),
        |ts AS (
        |  SELECT shard, bin,
        |    array_to_string(list(token_id ORDER BY local), ' ') AS tok_str,
        |    array_to_string(list(payload_key ORDER BY local), ' ') AS key_str,
        |    array_to_string(list(m ORDER BY local), '') AS m_str
        |  FROM tok GROUP BY 1, 2)
        |SELECT b.shard, b.bin, b.n_docs, b.fill,
        |  CAST(96 - b.fill AS BIGINT) AS pad_len, b.n_segments,
        |  t.tok_str || repeat(' -1', CAST(96 - b.fill AS INT)) AS token_ids,
        |  t.key_str || repeat(' -1', CAST(96 - b.fill AS INT)) AS payload_key,
        |  t.m_str || repeat('0', CAST(96 - b.fill AS INT)) AS mask,
        |  b.cu_seqlens
        |FROM bs b JOIN ts t USING (shard, bin)""".stripMargin),

    // q180's generator CTEs expanded to the 3 epochs the corrupted
    // manifest names — the best-fit repair law's independent
    // re-derivation (same battery-free argument as q186)
    "q187_manifest_repair_bestfit" ->
      (s"""WITH RECURSIVE $bestFitBaseCtes,
        |${ffdCtes("", "base", 96, 2000)},
        |bins AS (
        |  SELECT shard, bin, CAST(sum(n) AS BIGINT) AS fill,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM ffd WHERE id IS NOT NULL GROUP BY 1, 2),
        |${writerManCtes("bins", Seq("shard", "bin"), "shard", 4000, 2)}
        |SELECT shard, bin, fill, n_docs, seq_id, file, epoch, pos
        |FROM man""".stripMargin),

    // the round-trip's oracle is the CANONICAL normalization itself —
    // no BPE replay: if the engine's train+encode+decode conserves
    // content, it must reproduce exactly this
    "q178_bpe_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')
        |    AS text
        |FROM documents
        |WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0""".stripMargin,

    // q166's gate CTEs folded to the five stage counts (selected =
    // sum of min(k, per-prompt survivors))
    "q170_bestofn_counters" ->
      (s"WITH $candGateCtes" + """
        |SELECT 'candidates_total' AS stage, CAST(count(*) AS BIGINT) AS n
        |FROM ev WHERE value IS NOT NULL
        |UNION ALL
        |SELECT 'candidates_invalid', CAST(count(*) AS BIGINT)
        |FROM ev WHERE value IS NOT NULL
        |  AND event_id IN (SELECT event_id FROM ginv)
        |UNION ALL
        |SELECT 'candidates_contaminated_valid', CAST(count(*) AS BIGINT)
        |FROM ev WHERE value IS NOT NULL
        |  AND event_id NOT IN (SELECT event_id FROM ginv)
        |  AND event_id IN (SELECT event_id FROM gleak)
        |UNION ALL
        |SELECT 'candidates_kept', CAST(count(*) AS BIGINT) FROM csurv
        |UNION ALL
        |SELECT 'candidates_selected', CAST(coalesce(sum(least(c, 2)), 0) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM csurv GROUP BY prompt)""".stripMargin),

    // q161's side-stream CTEs, then the whole-side best-fit packing:
    // FFD over side token counts, per-bin (n desc, id) offsets, padded
    // token-id and mask rendering (the q153 tail with a mask)
    "q163_pref_tensors" ->
      (bpeStagesSql(BpeMergeCount).replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
        |$prefGateCtes,
        |$prefSideStreamCtes,
        |scnt AS (
        |  SELECT side_id AS id, CAST(count(*) AS BIGINT) AS n
        |  FROM stream GROUP BY 1),
        |${ffdCtes("p", "scnt", 64, 2000)},
        |pplaced AS (
        |  SELECT shard, bin, id, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard, bin
        |      ORDER BY n DESC, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS doc_off
        |  FROM pffd WHERE id IS NOT NULL),
        |ptok AS (
        |  SELECT p.shard, p.bin, p.id, p.doc_off + s.tok_idx AS local,
        |    s.token_id, s.mask
        |  FROM stream s JOIN pplaced p ON s.side_id = p.id)
        |SELECT shard, bin, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS fill,
        |  CAST(64 - count(*) AS BIGINT) AS pad_len,
        |  array_to_string(list(token_id ORDER BY local), ' ') ||
        |    repeat(' -1', CAST(64 - count(*) AS INT)) AS token_ids,
        |  array_to_string(list(mask ORDER BY local), '') ||
        |    repeat('0', CAST(64 - count(*) AS INT)) AS mask
        |FROM ptok GROUP BY 1, 2""".stripMargin),


    // q150's recursive FFD folded to the one-row waste economics
    "q154_bestfit_waste" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |base AS (SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n FROM t),
        |fit AS (SELECT id, n, md5('shard:' || id) AS k
        |        FROM base WHERE n > 0 AND n <= 96),
        |sh AS (
        |  SELECT id, n,
        |    CAST((CAST(sum(n) OVER (ORDER BY k, id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n) // 2000 AS BIGINT) AS shard
        |  FROM fit),
        |ranked AS (
        |  SELECT shard, n, id,
        |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS rk
        |  FROM sh),
        |ffd AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS rk, CAST([] AS BIGINT[]) AS loads,
        |    CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS bin,
        |    CAST(NULL AS BIGINT) AS n
        |  FROM (SELECT DISTINCT shard FROM ranked) s
        |  UNION ALL
        |  SELECT r.shard, r.rk,
        |    CASE WHEN nullif(pos.p, 0) IS NULL THEN list_append(f.loads, r.n)
        |         ELSE list_transform(f.loads,
        |           (x, i) -> CASE WHEN i = pos.p THEN x + r.n ELSE x END)
        |    END AS loads,
        |    r.id,
        |    CAST(coalesce(nullif(pos.p, 0), len(f.loads) + 1) - 1 AS BIGINT) AS bin,
        |    r.n
        |  FROM ffd f
        |  JOIN ranked r ON r.shard = f.shard AND r.rk = f.rk + 1
        |  CROSS JOIN LATERAL (
        |    SELECT list_position(list_transform(f.loads, x -> x + r.n <= 96),
        |      true) AS p) pos),
        |bins AS (
        |  SELECT shard, bin, count(*) AS nd, sum(n) AS fill
        |  FROM ffd WHERE id IS NOT NULL GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs_packed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM base WHERE n > 96) AS n_oversize,
        |  CAST(count(*) * 96 AS BIGINT) AS capacity,
        |  CAST(coalesce(sum(fill), 0) AS BIGINT) AS filled,
        |  CAST(count(*) * 96 - coalesce(sum(fill), 0) AS BIGINT) AS waste,
        |  CAST(CASE WHEN count(*) > 0
        |    THEN (count(*) * 96 - coalesce(sum(fill), 0)) * 1000 // (count(*) * 96)
        |    ELSE 0 END AS BIGINT) AS waste_permille
        |FROM bins""".stripMargin,

    // two prefixed BPE chains (en / non-en slices), step-aligned full
    // join, textual-difference rows only — the same diff predicate the
    // Spark side's mergeTableDiff emits
    "q140_bpe_table_drift" -> {
      val n = BpeMergeCount
      val steps = (pf: String) => (1 to n).map { i =>
        s"SELECT $i AS step, l, r FROM $pf" + s"b$i"
      }.mkString("\nUNION ALL ")
      bpeStagesSql(n, pf = "da", where = "lang = 'en'") + ",\n" +
        bpeStagesSql(n, pf = "db", where = "lang <> 'en'").stripPrefix("WITH ") + s""",
        |asteps AS (${steps("da")}),
        |bsteps AS (${steps("db")}),
        |j AS (
        |  SELECT coalesce(a.step, b.step) AS step,
        |    a.l AS a_left, a.r AS a_right, b.l AS b_left, b.r AS b_right
        |  FROM asteps a FULL JOIN bsteps b ON a.step = b.step)
        |SELECT step, a_left, a_right, b_left, b_right,
        |  CASE WHEN a_left IS NULL THEN 'only_b'
        |       WHEN b_left IS NULL THEN 'only_a' ELSE 'changed' END AS kind
        |FROM j
        |WHERE a_left IS DISTINCT FROM b_left OR a_right IS DISTINCT FROM b_right""".stripMargin
    },

    // q103's bigram surprisal folded to per-lang milli-log2 loss, the
    // DoReMi exponential reweighting (excess over the best lang via the
    // exact shift-mantissa pow2Milli twin, tau 250), then the q135
    // water-fill chain over the reweighted domains
    "q137_loss_aware_alloc" ->
      s"""WITH $langLossSql,
        |best AS (SELECT min(loss_milli) AS best FROM loss),
        |wts AS (
        |  SELECT lang, loss_milli, loss_milli - best AS excess_milli,
        |    CAST((1::BIGINT << CAST(((loss_milli - best) * 1000 // 250) // 1000 AS INT)) *
        |      (1000 + ((loss_milli - best) * 1000 // 250) % 1000) AS BIGINT) AS weight
        |  FROM loss, best),
        |domt AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1
        |  HAVING sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) >= 1),
        |dom AS (
        |  SELECT d.lang, d.tokens, w.weight FROM domt d JOIN wts w USING (lang)),
        |${waterFillSql(30000L, 1500L)}
        |SELECT a.lang, w.loss_milli, CAST(w.excess_milli AS BIGINT) AS excess_milli,
        |  a.tokens, a.weight, a.cap, a.alloc,
        |  CAST(a.alloc * 1000 // a.tokens AS BIGINT) AS epochs_milli
        |FROM alloc a JOIN wts w USING (lang)""".stripMargin,

    // the iterative twin: the same loss frame, then 4 unrolled rounds of
    // w * 2^(excess/tau) with HUGEINT ppm renormalization per round,
    // final + step-averaged outputs
    "q138_doremi_rounds" -> {
      val rounds = 4
      val sb = new StringBuilder
      sb ++= s"""WITH $langLossSql,
        |dbest AS (SELECT min(loss_milli) AS best FROM loss),
        |dw0 AS (
        |  SELECT lang, loss_milli, loss_milli - best AS excess_milli,
        |    CAST((1::BIGINT << CAST(((loss_milli - best) * 1000 // 250) // 1000 AS INT)) *
        |      (1000 + ((loss_milli - best) * 1000 // 250) % 1000) AS BIGINT) AS mult,
        |    CAST(1000000 AS BIGINT) AS w, CAST(0 AS BIGINT) AS w_sum
        |  FROM loss, dbest)""".stripMargin
      for (t <- 1 to rounds) {
        sb ++= s""",
          |draw$t AS (
          |  SELECT *, w::HUGEINT * mult::HUGEINT // 1000 AS raw FROM dw${t - 1}),
          |dtot$t AS (SELECT sum(raw) AS tot FROM draw$t),
          |dw$t AS (
          |  SELECT lang, loss_milli, excess_milli, mult,
          |    CAST(raw * 1000000 // tot AS BIGINT) AS w,
          |    w_sum + CAST(raw * 1000000 // tot AS BIGINT) AS w_sum
          |  FROM draw$t, dtot$t)""".stripMargin
      }
      sb ++= s"""
        |SELECT lang, loss_milli, CAST(excess_milli AS BIGINT) AS excess_milli,
        |  w AS w_final_ppm, CAST(w_sum // $rounds AS BIGINT) AS w_avg_ppm
        |FROM dw$rounds""".stripMargin
      sb.toString
    },

    // the same integer pipeline: isqrt domain scores, div-exact
    // per-mille rates, q58's md5-bucket replication scheme
    "q94_temperature_mix" ->
      """WITH n AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS s
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS s_tot FROM n),
        |rates AS (
        |  SELECT lang, n_docs, (1000 * 200 * s) // (s_tot * n_docs) AS permille
        |  FROM n CROSS JOIN tot),
        |w AS (
        |  SELECT d.doc_id, d.lang, r.n_docs, r.permille,
        |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS b
        |  FROM documents d JOIN rates r USING (lang)),
        |c AS (
        |  SELECT doc_id, lang, n_docs, permille,
        |    (permille // 1000) + (CASE WHEN b < permille % 1000 THEN 1 ELSE 0 END) AS copies
        |  FROM w)
        |SELECT doc_id, lang, n_docs, permille,
        |  CAST(unnest(range(0, copies)) AS BIGINT) AS copy
        |FROM c WHERE copies > 0""".stripMargin
  )

  /** q59 oracle: the A8/A9 two-phase annotation merge
    * (AnnotCache.java:92-134, 169-211) in DuckDB SQL. Each phase is a
    * token-split + DISTINCT string_agg (the TreeSet merge) followed by a
    * recursive-CTE chunker reproducing splitAnnots' "cut at the last '|'
    * at or before maxLen, keep the tail" loop (same idiom as the q26
    * oracle). `unnest(coalesce(split, [NULL]))` keeps all-null merge
    * groups alive the way Spark's explode_outer does.
    */
  private lazy val annotMergeOracleSql: String = {
    val xrefMax = 25
    val wiMax = 13
    def chunkRec(rec: String, src: String, keys: String, vCol: String, maxLen: Int): String = {
      val w = maxLen + 1
      s"""$rec($keys, rest, head) AS (
         |  SELECT $keys, $vCol, CAST(NULL AS VARCHAR) FROM $src
         |  UNION ALL
         |  SELECT $keys,
         |    CASE WHEN pos0 <= 0 THEN substr(rest, $w) ELSE substr(rest, pos0 + 2) END,
         |    CASE WHEN pos0 <= 0 THEN substr(rest, 1, $maxLen) ELSE substr(rest, 1, pos0) END
         |  FROM (SELECT $keys, rest,
         |          CASE WHEN strpos(reverse(substr(rest, 1, $w)), '|') = 0 THEN 0
         |               ELSE $w - strpos(reverse(substr(rest, 1, $w)), '|') END AS pos0
         |        FROM $rec WHERE length(rest) > $maxLen) t)""".stripMargin
    }
    s"""WITH RECURSIVE src AS (
       |  SELECT o_custkey % 100 AS annotated_rgd_id,
       |    'DOID:' || (o_orderkey % 5) AS term_acc,
       |    'D' AS aspect,
       |    CASE WHEN o_orderkey % 4 = 0 THEN 'ISO' ELSE 'IAGP' END AS evidence,
       |    'PMID:' || (o_orderkey % 3) || ';PMID:' || ((o_orderkey * 2 + 1) % 5) AS xref_source,
       |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
       |         WHEN o_orderkey % 7 = 0
       |           THEN 'WITH:' || (o_orderkey % 3) || ';WITH:' || ((o_orderkey * 3 + 1) % 4)
       |         WHEN o_orderkey % 13 = 0 THEN 'WITH:' || (o_orderkey % 3) || ';'
       |         ELSE 'WITH:' || (o_orderkey % 3) END AS with_info
       |  FROM orders),
       |p1m AS (
       |  SELECT annotated_rgd_id, term_acc, aspect, evidence, with_info,
       |    coalesce(string_agg(DISTINCT tok, '|' ORDER BY tok), '') AS xref_source
       |  FROM (SELECT annotated_rgd_id, term_acc, aspect, evidence, with_info,
       |          unnest(coalesce(string_split_regex(
       |            regexp_replace(xref_source, '[|,;]+$$', ''), '[|,;]'), [NULL])) AS tok
       |        FROM src)
       |  GROUP BY 1, 2, 3, 4, 5),
       |${chunkRec("p1rec", "p1m",
                   "annotated_rgd_id, term_acc, aspect, evidence, with_info",
                   "xref_source", xrefMax)},
       |p1 AS (
       |  SELECT annotated_rgd_id, term_acc, aspect, evidence, with_info, head AS xref_source
       |  FROM p1rec WHERE head IS NOT NULL
       |  UNION ALL
       |  SELECT annotated_rgd_id, term_acc, aspect, evidence, with_info, rest AS xref_source
       |  FROM p1rec WHERE length(rest) <= $xrefMax),
       |p2m AS (
       |  SELECT annotated_rgd_id, term_acc, aspect, evidence, xref_source,
       |    coalesce(string_agg(DISTINCT tok, '|' ORDER BY tok), '') AS with_info
       |  FROM (SELECT annotated_rgd_id, term_acc, aspect, evidence, xref_source,
       |          unnest(coalesce(string_split_regex(
       |            regexp_replace(with_info, '[|,;]+$$', ''), '[|,;]'), [NULL])) AS tok
       |        FROM p1)
       |  GROUP BY 1, 2, 3, 4, 5),
       |${chunkRec("p2rec", "p2m",
                   "annotated_rgd_id, term_acc, aspect, evidence, xref_source",
                   "with_info", wiMax)}
       |SELECT annotated_rgd_id, term_acc, aspect, evidence, xref_source, head AS with_info
       |FROM p2rec WHERE head IS NOT NULL
       |UNION ALL
       |SELECT annotated_rgd_id, term_acc, aspect, evidence, xref_source, rest AS with_info
       |FROM p2rec WHERE length(rest) <= $wiMax""".stripMargin
  }

  /** q56 oracle: the asymmetric (new-batch vs corpus) variant of the
    * q23 MinHash dataflow — corpus buckets capped, candidates cross-side
    * only, survivors = new docs with no verified near-dup.
    */
  private lazy val incrDedupOracleSql: String = {
    // MUST mirror the q56 call site's tuning exactly
    val numHashes = 16
    val bands = 8
    val rpb = numHashes / bands
    val shingleSize = 3
    val maxBucket = 1000
    // odd-multiplier bijections over one 48-bit md5 prefix, mirroring
    // Dedup.minhashSignatures (numHashes = 16 -> single hash group "0:")
    val sigAggs = (0 until numHashes)
      .map(s => s"min((${Dedup.MinhashMultipliers(s % 16)} * hg) % ${Dedup.MinhashMod}) AS h$s")
      .mkString(",\n    ")
    val bandExprs = (0 until bands).map { b =>
      val slice = (0 until rpb).map(r => s"h${b * rpb + r}::VARCHAR").mkString(" || ',' || ")
      s"md5('$b:' || $slice)"
    }.mkString(", ")
    s"""WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
       |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
       |wn AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM newd),
       |wc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corp),
       |shn AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(w) - $shingleSize, 0) + 1),
       |    i -> array_to_string(w[i+1:i+$shingleSize], ' ')))) AS sh
       |  FROM wn),
       |shc AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(w) - $shingleSize, 0) + 1),
       |    i -> array_to_string(w[i+1:i+$shingleSize], ' ')))) AS sh
       |  FROM wc),
       |shhn AS (SELECT doc_id, sh,
       |  ('0x' || substr(md5('0:' || sh), 1, 12))::BIGINT AS hg FROM shn),
       |shhc AS (SELECT doc_id, sh,
       |  ('0x' || substr(md5('0:' || sh), 1, 12))::BIGINT AS hg FROM shc),
       |sign AS (SELECT doc_id, $sigAggs FROM shhn GROUP BY doc_id),
       |sigc AS (SELECT doc_id, $sigAggs FROM shhc GROUP BY doc_id),
       |bn AS (SELECT doc_id, unnest([$bandExprs]) AS band FROM sign),
       |bc AS (SELECT doc_id, unnest([$bandExprs]) AS band FROM sigc),
       |bucketok AS (SELECT band FROM bc GROUP BY band HAVING count(*) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
       |  FROM bn n JOIN bc c ON n.band = c.band
       |  JOIN bucketok ON bucketok.band = n.band),
       |cntn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY doc_id),
       |cntc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT cand.new_id, cand.corp_id, count(*) AS ni
       |  FROM cand
       |  JOIN shn a ON a.doc_id = cand.new_id
       |  JOIN shc b ON b.doc_id = cand.corp_id AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT DISTINCT inter.new_id FROM inter
       |  JOIN cntn ON cntn.doc_id = inter.new_id
       |  JOIN cntc ON cntc.doc_id = inter.corp_id
       |  WHERE CAST(ni AS DOUBLE) / CAST(cntn.n + cntc.n - ni AS DOUBLE) >= 0.2)
       |SELECT doc_id FROM newd
       |WHERE doc_id NOT IN (SELECT new_id FROM dup)""".stripMargin
  }

  /** q23 oracle: the exact md5 MinHash+LSH+Jaccard dataflow of
    * Dedup.minhashPairsExact in DuckDB SQL (signature/band lists
    * generated to mirror the Spark column expressions 1:1).
    */
  private lazy val lshPairsOracleSql: String = lshPairsSqlFrom("documents")

  /** q23/q72/q102 oracle core: the md5-bijection MinHash + banded-LSH
    * verified-pair pipeline as one self-contained WITH...SELECT over
    * `src` (a table or CTE with (doc_id, text)) — mirrors
    * Dedup.minhashPairsExact at the production parameterization.
    */
  private def lshPairsSqlFrom(src: String, threshold: Double = 0.2): String = {
    val numHashes = 16
    val bands = 8
    val rpb = numHashes / bands
    // odd-multiplier bijections over one 48-bit md5 prefix, mirroring
    // Dedup.minhashSignatures (numHashes = 16 -> single hash group "0:")
    val sigAggs = (0 until numHashes)
      .map(s => s"min((${Dedup.MinhashMultipliers(s % 16)} * hg) % ${Dedup.MinhashMod}) AS h$s")
      .mkString(",\n    ")
    val bandExprs = (0 until bands).map { b =>
      val slice = (0 until rpb).map(r => s"h${b * rpb + r}::VARCHAR").mkString(" || ',' || ")
      s"md5('$b:' || $slice)"
    }.mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(w) - 3, 0) + 1),
       |    i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
       |  FROM words),
       |shh AS (SELECT doc_id, sh,
       |  ('0x' || substr(md5('0:' || sh), 1, 12))::BIGINT AS hg FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $sigAggs
       |  FROM shh GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, unnest([$bandExprs]) AS band FROM sig),
       |bandok AS (
       |  SELECT band FROM banded GROUP BY band HAVING count(*) BETWEEN 2 AND 1000),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a
       |  JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       |  JOIN bandok ON bandok.band = a.band),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.id_a, p.id_b, count(*) AS ni
       |  FROM pairs p
       |  JOIN sh a ON a.doc_id = p.id_a
       |  JOIN sh b ON b.doc_id = p.id_b AND b.sh = a.sh
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) >= $threshold""".stripMargin
  }

  /** q115/q118 oracle core: the whole pretraining pipeline as composed
    * CTEs — q113's chunker, [[lshPairsSqlFrom]] at threshold 0.6 over
    * the chunk frame, q107's priority dedup, q87's decontamination,
    * q103's surprisal, q94's mixture at ppm resolution, q100's split
    * bucket, q83's pack window. Multi-referenced stages carry DuckDB
    * MATERIALIZED hints: CTE inlining otherwise re-evaluates the whole
    * upstream pipeline per reference (measured 257 s → 0.8 s at sf0.01).
    */
  private lazy val pretrainOracleBody: String =
    s"""WITH RECURSIVE
       |train AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
       |w0 AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS priority, lang,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0) AS t
       |  FROM train),
       |nz AS (SELECT doc_id, priority, lang, t, len(t) AS n FROM w0 WHERE len(t) > 0),
       |starts AS (
       |  SELECT doc_id, priority, lang, t, CAST(u.s AS BIGINT) AS st
       |  FROM nz, unnest(generate_series(0,
       |    greatest(0, CAST(ceil((n - 32) / 16.0) AS INT)) * 16, 16)) AS u(s)),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id * 65536 + st // 16 AS chunk_id, doc_id, st // 16 AS chunk_idx,
       |    priority, lang,
       |    array_to_string(t[st+1:st+32], ' ') AS chunk_text,
       |    CAST(len(t[st+1:st+32]) AS BIGINT) AS n_tokens
       |  FROM starts),
       |lshsrc AS (SELECT chunk_id AS doc_id, chunk_text AS text FROM chunks),
       |p0 AS MATERIALIZED (
       |${lshPairsSqlFrom("lshsrc", 0.6)}
       |),
       |px AS (SELECT id_a, id_b FROM p0 WHERE id_a // 65536 <> id_b // 65536),
       |edges AS (SELECT id_a AS a, id_b AS b FROM px UNION SELECT id_b, id_a FROM px),
       |r AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
       |reps AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
       |dpr AS (
       |  SELECT c.chunk_id, c.priority, coalesce(reps.rep, c.chunk_id) AS rep
       |  FROM chunks c LEFT JOIN reps ON c.chunk_id = reps.id),
       |mp AS (SELECT rep, min(priority) AS best_prio FROM dpr GROUP BY rep),
       |keep AS (
       |  SELECT min(dpr.chunk_id) AS chunk_id
       |  FROM dpr JOIN mp ON dpr.rep = mp.rep AND dpr.priority = mp.best_prio
       |  GROUP BY dpr.rep),
       |ded AS MATERIALIZED (SELECT c.* FROM chunks c JOIN keep USING (chunk_id)),
       |tokh AS (SELECT chunk_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS t FROM ded),
       |grams AS (
       |  SELECT chunk_id, array_to_string(t[i:i+3], ' ') AS g
       |  FROM tokh, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
       |btok AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 11 = 0),
       |bench AS (
       |  SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS g
       |  FROM btok, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
       |contaminated AS (SELECT DISTINCT chunk_id FROM grams JOIN bench USING (g)),
       |clean AS MATERIALIZED (
       |  SELECT d.* FROM ded d LEFT JOIN contaminated c USING (chunk_id)
       |  WHERE c.chunk_id IS NULL),
       |stoks AS (SELECT chunk_id, regexp_extract_all(lower(chunk_text), '[a-z0-9]+') AS t FROM clean),
       |bi AS (
       |  SELECT chunk_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM stoks, unnest(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
       |m AS (
       |  SELECT cb.w1, cb.w2, CAST((1000 * c1.c1) // cb.cb AS BIGINT) AS surp
       |  FROM cb JOIN c1 USING (w1)),
       |surp AS MATERIALIZED (
       |  SELECT bi.chunk_id, CAST(sum(m.surp) // count(*) AS BIGINT) AS avg_surp
       |  FROM bi JOIN m USING (w1, w2) GROUP BY 1),
       |scut AS (SELECT quantile_cont(avg_surp, 0.9) AS surp_cut FROM surp),
       |gated AS MATERIALIZED (
       |  SELECT c.* FROM clean c JOIN surp s USING (chunk_id) CROSS JOIN scut
       |  WHERE s.avg_surp <= scut.surp_cut),
       |nmix AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(floor(sqrt(count(*))) AS BIGINT) AS s
       |  FROM gated GROUP BY 1),
       |tot AS (SELECT CAST(sum(s) AS BIGINT) AS s_tot FROM nmix),
       |rates AS (
       |  SELECT lang, n_docs, (1000000 * 400 * s) // (s_tot * n_docs) AS rate
       |  FROM nmix CROSS JOIN tot),
       |wmix AS (
       |  SELECT g.chunk_id, g.lang, r.rate,
       |    ('0x' || substr(md5(CAST(g.chunk_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
       |  FROM gated g JOIN rates r USING (lang)),
       |cmix AS (
       |  SELECT chunk_id, lang,
       |    (rate // 1000000) + (CASE WHEN b < rate % 1000000 THEN 1 ELSE 0 END) AS copies
       |  FROM wmix),
       |mixed AS MATERIALIZED (
       |  SELECT chunk_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS copy
       |  FROM cmix WHERE copies > 0),
       |splitb AS (
       |  SELECT g.chunk_id, coalesce(reps.rep, g.chunk_id) AS rep
       |  FROM gated g LEFT JOIN reps ON g.chunk_id = reps.id),
       |splits AS MATERIALIZED (
       |  SELECT chunk_id,
       |    CASE WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 1000 < 100 THEN 'test'
       |         WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 1000 < 200 THEN 'val'
       |         ELSE 'train' END AS split
       |  FROM splitb),
       |trainseq AS MATERIALIZED (
       |  SELECT m.chunk_id, m.copy FROM mixed m JOIN splits s USING (chunk_id)
       |  WHERE s.split = 'train'),
       |packin AS (
       |  SELECT t.chunk_id, g.n_tokens, md5('shard:' || t.chunk_id) AS k
       |  FROM trainseq t JOIN gated g USING (chunk_id)),
       |packed AS MATERIALIZED (
       |  SELECT chunk_id, n_tokens,
       |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, chunk_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
       |  FROM packin)""".stripMargin

  /** q121/q123 oracle core: the INCREMENTAL pipeline as composed CTEs —
    * the base split's chunk frame as the store, q113's chunker over the
    * batch, [[lshPairsSqlFrom]] for batch-internal pairs, the recursive
    * CC + priority dedup, the q56 band-bucket incumbent filter against
    * the store (chunk-level), q87's decontamination, batch-local
    * quantile surprisal gate, the REBALANCED mixture (√(store+batch)
    * scores over batch rates), q100's split bucket, q83's pack window.
    * Multi-referenced stages carry MATERIALIZED hints (the r12 CTE
    * inlining lesson).
    */
  private lazy val incrOracleBody: String = {
    val numHashes = 16
    val bands = 8
    val rpb = numHashes / bands
    val sigAggs = (0 until numHashes)
      .map(s => s"min((${Dedup.MinhashMultipliers(s % 16)} * hg) % ${Dedup.MinhashMod}) AS h$s")
      .mkString(",\n    ")
    val bandExprs = (0 until bands).map { b =>
      val slice = (0 until rpb).map(r => s"h${b * rpb + r}::VARCHAR").mkString(" || ',' || ")
      s"md5('$b:' || $slice)"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |base AS (SELECT * FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 3 <> 0),
       |batch AS (SELECT * FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 3 = 0),
       |sw0 AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0) AS t
       |  FROM base),
       |snz AS (SELECT doc_id, lang, t, len(t) AS n FROM sw0 WHERE len(t) > 0),
       |sstarts AS (
       |  SELECT doc_id, lang, t, CAST(u.s AS BIGINT) AS st
       |  FROM snz, unnest(generate_series(0,
       |    greatest(0, CAST(ceil((n - 32) / 16.0) AS INT)) * 16, 16)) AS u(s)),
       |storechunks AS MATERIALIZED (
       |  SELECT doc_id * 65536 + st // 16 AS chunk_id, lang,
       |    array_to_string(t[st+1:st+32], ' ') AS chunk_text
       |  FROM sstarts),
       |w0 AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS priority, lang,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0) AS t
       |  FROM batch),
       |nz AS (SELECT doc_id, priority, lang, t, len(t) AS n FROM w0 WHERE len(t) > 0),
       |starts AS (
       |  SELECT doc_id, priority, lang, t, CAST(u.s AS BIGINT) AS st
       |  FROM nz, unnest(generate_series(0,
       |    greatest(0, CAST(ceil((n - 32) / 16.0) AS INT)) * 16, 16)) AS u(s)),
       |chunks AS MATERIALIZED (
       |  SELECT doc_id * 65536 + st // 16 AS chunk_id, doc_id, st // 16 AS chunk_idx,
       |    priority, lang,
       |    array_to_string(t[st+1:st+32], ' ') AS chunk_text,
       |    CAST(len(t[st+1:st+32]) AS BIGINT) AS n_tokens
       |  FROM starts),
       |lshsrc AS (SELECT chunk_id AS doc_id, chunk_text AS text FROM chunks),
       |p0 AS MATERIALIZED (
       |${lshPairsSqlFrom("lshsrc", 0.6)}
       |),
       |px AS (SELECT id_a, id_b FROM p0 WHERE id_a // 65536 <> id_b // 65536),
       |edges AS (SELECT id_a AS a, id_b AS b FROM px UNION SELECT id_b, id_a FROM px),
       |r AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a),
       |reps AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS rep FROM r GROUP BY a),
       |dpr AS (
       |  SELECT c.chunk_id, c.priority, coalesce(reps.rep, c.chunk_id) AS rep
       |  FROM chunks c LEFT JOIN reps ON c.chunk_id = reps.id),
       |mp AS (SELECT rep, min(priority) AS best_prio FROM dpr GROUP BY rep),
       |keep AS (
       |  SELECT min(dpr.chunk_id) AS chunk_id
       |  FROM dpr JOIN mp ON dpr.rep = mp.rep AND dpr.priority = mp.best_prio
       |  GROUP BY dpr.rep),
       |ded AS MATERIALIZED (SELECT c.* FROM chunks c JOIN keep USING (chunk_id)),
       |ishn AS (
       |  SELECT chunk_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(w) - 3, 0) + 1),
       |    i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
       |  FROM (SELECT chunk_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS w FROM ded)),
       |ishc AS (
       |  SELECT chunk_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(w) - 3, 0) + 1),
       |    i -> array_to_string(w[i+1:i+3], ' ')))) AS sh
       |  FROM (SELECT chunk_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS w FROM storechunks)),
       |ishhn AS (SELECT chunk_id, sh,
       |  ('0x' || substr(md5('0:' || sh), 1, 12))::BIGINT AS hg FROM ishn),
       |ishhc AS (SELECT chunk_id, sh,
       |  ('0x' || substr(md5('0:' || sh), 1, 12))::BIGINT AS hg FROM ishc),
       |isign AS (SELECT chunk_id, $sigAggs FROM ishhn GROUP BY chunk_id),
       |isigc AS (SELECT chunk_id, $sigAggs FROM ishhc GROUP BY chunk_id),
       |ibn AS (SELECT chunk_id, unnest([$bandExprs]) AS band FROM isign),
       |ibc AS (SELECT chunk_id, unnest([$bandExprs]) AS band FROM isigc),
       |ibucketok AS (SELECT band FROM ibc GROUP BY band HAVING count(*) <= 1000),
       |icand AS (
       |  SELECT DISTINCT n.chunk_id AS new_id, c.chunk_id AS corp_id
       |  FROM ibn n JOIN ibc c ON n.band = c.band
       |  JOIN ibucketok ON ibucketok.band = n.band),
       |icntn AS (SELECT chunk_id, count(*) AS n FROM ishn GROUP BY chunk_id),
       |icntc AS (SELECT chunk_id, count(*) AS n FROM ishc GROUP BY chunk_id),
       |iinter AS (
       |  SELECT icand.new_id, icand.corp_id, count(*) AS ni
       |  FROM icand
       |  JOIN ishn a ON a.chunk_id = icand.new_id
       |  JOIN ishc b ON b.chunk_id = icand.corp_id AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |idup AS (
       |  SELECT DISTINCT iinter.new_id FROM iinter
       |  JOIN icntn ON icntn.chunk_id = iinter.new_id
       |  JOIN icntc ON icntc.chunk_id = iinter.corp_id
       |  WHERE CAST(ni AS DOUBLE) / CAST(icntn.n + icntc.n - ni AS DOUBLE) >= 0.6),
       |inc AS MATERIALIZED (
       |  SELECT d.* FROM ded d WHERE chunk_id NOT IN (SELECT new_id FROM idup)),
       |tokh AS (SELECT chunk_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS t FROM inc),
       |grams AS (
       |  SELECT chunk_id, array_to_string(t[i:i+3], ' ') AS g
       |  FROM tokh, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
       |btok AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 11 = 0),
       |bench AS (
       |  SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS g
       |  FROM btok, unnest(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)),
       |contaminated AS (SELECT DISTINCT chunk_id FROM grams JOIN bench USING (g)),
       |clean AS MATERIALIZED (
       |  SELECT d.* FROM inc d LEFT JOIN contaminated c USING (chunk_id)
       |  WHERE c.chunk_id IS NULL),
       |stoks AS (SELECT chunk_id, regexp_extract_all(lower(chunk_text), '[a-z0-9]+') AS t FROM clean),
       |bi AS (
       |  SELECT chunk_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM stoks, unnest(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
       |m AS (
       |  SELECT cb.w1, cb.w2, CAST((1000 * c1.c1) // cb.cb AS BIGINT) AS surp
       |  FROM cb JOIN c1 USING (w1)),
       |surp AS MATERIALIZED (
       |  SELECT bi.chunk_id, CAST(sum(m.surp) // count(*) AS BIGINT) AS avg_surp
       |  FROM bi JOIN m USING (w1, w2) GROUP BY 1),
       |scut AS (SELECT quantile_cont(avg_surp, 0.9) AS surp_cut FROM surp),
       |gated AS MATERIALIZED (
       |  SELECT c.* FROM clean c JOIN surp s USING (chunk_id) CROSS JOIN scut
       |  WHERE s.avg_surp <= scut.surp_cut),
       |storeg AS (SELECT lang, count(*) AS n_base FROM storechunks GROUP BY 1),
       |batchg AS (SELECT lang, count(*) AS n_batch FROM gated GROUP BY 1),
       |sizes AS (
       |  SELECT lang, coalesce(n_batch, 0) AS n_batch,
       |    coalesce(n_batch, 0) + coalesce(n_base, 0) AS n_tot
       |  FROM storeg FULL JOIN batchg USING (lang)),
       |smix AS (
       |  SELECT lang, n_batch, n_tot, CAST(floor(sqrt(n_tot)) AS BIGINT) AS s
       |  FROM sizes),
       |tot AS (SELECT CAST(sum(s) AS BIGINT) AS s_tot FROM smix),
       |rates AS (
       |  SELECT lang, n_tot AS n_docs, (1000000 * 400 * s) // (s_tot * n_batch) AS rate
       |  FROM smix CROSS JOIN tot WHERE n_batch > 0),
       |wmix AS (
       |  SELECT g.chunk_id, g.lang, r.rate,
       |    ('0x' || substr(md5(CAST(g.chunk_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
       |  FROM gated g JOIN rates r USING (lang)),
       |cmix AS (
       |  SELECT chunk_id, lang,
       |    (rate // 1000000) + (CASE WHEN b < rate % 1000000 THEN 1 ELSE 0 END) AS copies
       |  FROM wmix),
       |mixed AS MATERIALIZED (
       |  SELECT chunk_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS copy
       |  FROM cmix WHERE copies > 0),
       |splitb AS (
       |  SELECT g.chunk_id, coalesce(reps.rep, g.chunk_id) AS rep
       |  FROM gated g LEFT JOIN reps ON g.chunk_id = reps.id),
       |splits AS MATERIALIZED (
       |  SELECT chunk_id,
       |    CASE WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 1000 < 100 THEN 'test'
       |         WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 1000 < 200 THEN 'val'
       |         ELSE 'train' END AS split
       |  FROM splitb),
       |trainseq AS MATERIALIZED (
       |  SELECT m.chunk_id, m.copy FROM mixed m JOIN splits s USING (chunk_id)
       |  WHERE s.split = 'train'),
       |packin AS (
       |  SELECT t.chunk_id, g.n_tokens, md5('shard:' || t.chunk_id) AS k
       |  FROM trainseq t JOIN gated g USING (chunk_id)),
       |packed AS MATERIALIZED (
       |  SELECT chunk_id, n_tokens,
       |    CAST((CAST(sum(n_tokens) OVER (ORDER BY k, chunk_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2000 AS BIGINT) AS shard
       |  FROM packin)""".stripMargin
  }

  /** q25 oracle: hyperplane signatures from the same literal dyadic
    * weight vectors the Spark side uses (Similarity.planeWeights), so
    * both engines compute bit-identical buckets; then cosine top-k
    * inside buckets exactly like q21.
    */
  private lazy val annLshOracleSql: String = {
    val w = Similarity.planeWeights(AnnLshPlanes, 64)
    val sigP = Similarity.planeSignatureSql("p.embedding::DOUBLE[]", w)
    val sigC = Similarity.planeSignatureSql("c.embedding::DOUBLE[]", w)
    s"""SELECT probe_id, rank, neighbor_id FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (
       |      PARTITION BY p.vec_id
       |      ORDER BY list_dot_product(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
       |        (sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[])) *
       |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
       |      c.vec_id) AS rank
       |  FROM embeddings p JOIN embeddings c
       |    ON p.vec_id <> c.vec_id AND ($sigP) = ($sigC)
       |  WHERE p.vec_id % 50 = 0)
       |WHERE rank <= 5""".stripMargin
  }

  /** q38 oracle: the same banded-LSH semantics as
    * Similarity.cosineNearDupPairs — signatures from identical literal
    * dyadic weights, candidates where ANY band slice matches, exact
    * cosine verify. (DuckDB evaluates it all-pairs; only the SEMANTICS
    * must match — the Spark side's equi-join plan is the point.)
    */
  private lazy val embedNearDupOracleSql: String = {
    val w = Similarity.planeWeights(EmbedNearDupPlanes, 64)
    val sigE = Similarity.planeSignatureSql("embedding::DOUBLE[]", w)
    val r = EmbedNearDupPlanes / EmbedNearDupBands
    val bandCond = (0 until EmbedNearDupBands)
      .map(b => s"substr(a.s, ${b * r + 1}, $r) = substr(b.s, ${b * r + 1}, $r)")
      .mkString("\n       OR ")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v, ($sigE) AS s FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |WHERE ($bandCond)
       |  AND list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.42""".stripMargin
  }
}
