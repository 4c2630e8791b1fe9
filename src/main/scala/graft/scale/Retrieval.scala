package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index text retrieval — the corpus-curation companion to the
  * embedding ANN family ([[Similarity]]): score a (small) query set
  * against the whole corpus through term postings and return the top-k
  * documents per query. This is the lexical half of
  * retrieval-based decontamination and quality mining (find the corpus
  * documents most similar to a benchmark prompt / a seed set) where
  * [[Dedup.decontaminate]] is the exact-overlap gate.
  *
  * Scoring is BM25-SHAPED but with integer-rational arithmetic end to
  * end (Robertson et al., "Okapi at TREC-3", 1994, gives the float
  * form): floating-point idf (`ln`) and the saturation quotient are NOT
  * bit-stable across engines (libm differs) or across partitionings
  * (float addition is not associative), so — exactly like
  * [[TextStats.hashedLinearScore]]'s integer weights — every factor is
  * scaled to integer milli-units and combined with integer `div`
  * (truncating; all operands nonnegative, so Spark `div` and SQL `//`
  * agree):
  *
  *  - `rel_milli  = (1000 * dl) div avgdl` — doc length vs corpus mean
  *    (`avgdl = tot_tokens div n_docs`, min 1),
  *  - `tfsat_milli = (tf * 2_200_000) div (tf * 1000 + (1200 * (250 +
  *    (750 * rel_milli) div 1000)) div 1000)` — the k1=1.2, b=0.75
  *    saturation curve in milli (bounded by 2200 = k1+1),
  *  - `idf_milli  = (1000 * (n_docs - df + 1)) div (df + 1)` — a
  *    monotone integer surrogate for the log idf (rarer term => larger),
  *  - `score      = sum over matched terms of idf_milli * tfsat_milli`.
  *
  * Integer sums are associative, so the score is bit-identical for any
  * partitioning and any engine — the DuckDB oracle rebuilds the exact
  * same postings and formula relationally.
  *
  * Scale shape: ONE corpus-sized shuffle builds the postings
  * (`(doc, term) -> tf`, map-side combined), and the postings frame is
  * PERSISTED ([[graft.ops.CacheScope]] lifecycle) because it feeds four
  * consumers — the probe join, document frequencies, document lengths,
  * and the global stats. Without the persist, column pruning makes each
  * branch's postings subtree canonically distinct, so nothing reuses
  * and a 100 TB corpus would be tokenized four times (PlanGuardSpec
  * pins the cached scan in the executed plan). This is also the honest
  * production shape: the inverted index is an artifact built once and
  * probed many times. The document-frequency frame is vocabulary-sized
  * and joins the postings UN-HINTED — AQE broadcasts it while it fits
  * and falls back to a slim (term, df) shuffle join on a 100 TB
  * vocabulary. Query terms are a broadcast probe, so only postings of
  * queried terms survive into the scoring aggregation: per-query
  * candidate work is bounded by the posting lists of its terms, not the
  * corpus. The final top-k window partitions BY QUERY over those
  * candidates (Spark plans it with WindowGroupLimit, so each partition
  * pre-prunes to k before the shuffle); for adversarially common query
  * terms swap in the two-pass [[Sampling.topNPerGroup]] prune, same
  * contract.
  */
object Retrieval {

  /** The integer-BM25 saturation of one term, `tfsat_milli` over
    * `rel_milli` (both as in the object scaladoc); the term's score is
    * `idf_milli * tfsat_milli`. The one per-row kernel of [[searchTopK]]
    * (postings `tf`, document length `dl`, corpus `avgdl`) and
    * `StreamingOps.retrieveStream` (its token array's counts against
    * frozen stats). The score product stays at the call sites so the
    * batch aggregate keeps summing two projected columns.
    */
  def bm25TfSatMilli(tf: Column, dl: Column, avgdl: Column): Column = {
    def div(a: Column, b: Column) = call_function("div", a, b)
    val relMilli = div(lit(1000) * dl, avgdl)
    val inner = lit(250) + div(lit(750) * relMilli, lit(1000))
    div(tf * lit(2200000), tf * lit(1000) + div(lit(1200) * inner, lit(1000)))
  }

  /** Top-k corpus docs per query. `queries` carries (queryIdCol,
    * queryTextCol); term multiplicity within a query is collapsed (each
    * distinct query term votes once — standard bag-of-terms probing).
    * Output: (query_id, rank, doc_id, score) with rank 1-based,
    * deterministic ties (score desc, doc_id asc).
    *
    * `maxDfPermille` is the DEGENERATE-VOCABULARY guard — the classic
    * stop-word cut: a term whose document frequency exceeds
    * `maxDfPermille`/1000 of the corpus contributes NOTHING (it is
    * dropped before the scoring aggregation), which bounds scored pairs
    * at Σ min(df, ceil·N) per query term even when the vocabulary is so
    * small that idf pruning fails (every term near-ubiquitous — the
    * regime where scored pairs otherwise grow ~queries·N and the
    * operator turns quadratic at scale). RECALL CONTRACT: dropping a
    * term loses exactly its additive score contribution; for genuinely
    * ubiquitous terms the integer idf is already ~0 (df ≈ N ⇒
    * `idf_milli = 1000·(N−df+1) div (df+1) = 0` once df+1 > 1000·(N−df+1)),
    * so the cut changes nothing on corpora ≥ ~1000 docs — the
    * capped==uncapped equality RetrievalKMeansSpec pins. The default
    * 1000 (= 100% of N) disables the cut: the DuckDB-oracle shape, like
    * `cosineNearDupPairs`' unbounded `maxBucket`.
    */
  def searchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      maxDfPermille: Int = 1000,
      requireAllTerms: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfPermille >= 1 && maxDfPermille <= 1000,
      s"maxDfPermille must be in [1, 1000], got $maxDfPermille")

    val postings = graft.ops.CacheScope.persisted(
      corpus
        .select(col(idCol).as("doc_id"), explode(TextStats.words(col(textCol))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf")))

    val doclen = postings.groupBy("doc_id").agg(sum("tf").as("dl"))

    // 1-row global stats frame (the sanctioned 1-row crossJoin pattern)
    val stats = doclen.agg(
      count(lit(1)).as("n_docs"),
      greatest(expr("sum(dl) div count(1)"), lit(1L)).as("avgdl"))

    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))

    // the stop-word cut happens at the VOCABULARY level, before the
    // postings probe's output reaches the scoring shuffle: the capped
    // (term, df) frame inner-joins the probe, so postings of over-ceiling
    // terms never enter the (query_id, doc_id) aggregation
    val dfreqKept =
      if (maxDfPermille >= 1000) dfreq
      else dfreq
        .crossJoin(broadcast(stats.select("n_docs")))
        .filter(col("df") * 1000 <= col("n_docs") * maxDfPermille)
        .select("term", "df")

    val qterms = broadcast(
      queries
        .select(col(queryIdCol).as("query_id"),
          explode(TextStats.words(col(queryTextCol))).as("term"))
        .distinct())

    val scored = postings
      .join(qterms, "term")
      .join(dfreqKept, "term") // un-hinted: AQE broadcasts while vocab fits
      .join(doclen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tfsat_milli", bm25TfSatMilli(col("tf"), col("dl"), col("avgdl")))
      .withColumn("idf_milli", expr("(1000 * (n_docs - df + 1)) div (df + 1)"))
      .groupBy("query_id", "doc_id")

    // CONJUNCTIVE mode: a candidate survives only when it matched every
    // distinct query term — per (query, doc) group the matched-term
    // count (postings are (doc, term)-unique and qterms distinct, so
    // rows == matched terms) must equal the query's term count. The
    // query-sized count frame broadcasts; a query with an out-of-corpus
    // term returns nothing (strict AND), and under a maxDfPermille cut
    // stop-worded terms can never match — conjunctive callers should
    // keep the default permille. The match counter only exists on this
    // branch, so the disjunctive (default) plan is unchanged.
    val conj =
      if (!requireAllTerms)
        scored.agg(sum(expr("idf_milli * tfsat_milli")).as("score"))
      else
        scored
          .agg(
            sum(expr("idf_milli * tfsat_milli")).as("score"),
            count(lit(1)).as("n_matched"))
          .join(
            broadcast(qterms.groupBy("query_id").agg(count(lit(1)).as("n_qterms"))),
            "query_id")
          .filter(col("n_matched") === col("n_qterms"))

    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
    conj
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }
}
