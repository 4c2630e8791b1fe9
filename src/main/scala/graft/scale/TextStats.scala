package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality signals, language id, fingerprinting.
  * All pure `functions._` composites (codegen'd, no UDFs) so they run
  * inside whole-stage codegen over a 100 TB documents scan.
  */
object TextStats {

  /** The house token stream: lowercase `[a-z0-9]+` runs. One home for
    * every operator that tokenizes this way (vocab coverage, bigram
    * surprisal, retrieval, BPE, DSIR, drift), so index and query, model
    * and serving, batch and stream agree on term identity.
    */
  def words(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** The whitespace token array: `text` trimmed of spaces and split on
    * whitespace runs. A blank text, or one padded with tabs or
    * newlines, leaves empty strings at the array's ends; the callers
    * that count tokens drop them (`length > 0`).
    */
  def spaceTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(spaceTokens(text)))

  /** BPE-ish token estimate: word pieces + standalone punctuation. */
  def bpeIshTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  /** Number of punctuation characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Number of stopword occurrences (tiny English list — a quality
    * signal, not a linguistic claim).
    */
  def stopwordCount(text: Column): Column =
    regexp_count(text, lit("\\b(the|a|of|and|to|is|in)\\b"))

  /** Marker-word hit count for one language. */
  def langMarkerCount(text: Column, markers: Seq[String]): Column =
    regexp_count(text, lit("\\b(" + markers.mkString("|") + ")\\b"))

  /** Deterministic n-gram-heuristic language id: argmax of marker-word
    * counts with a fixed preference order on ties.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "fr" -> Seq("le", "la", "les", "et", "une"),
    "es" -> Seq("el", "los", "que", "una", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "了", "是")
  )

  def langId(text: Column, markers: Seq[(String, Seq[String])] = LangMarkers): Column = {
    val counts = markers.map { case (lang, ws) => lang -> langMarkerCount(text, ws) }
    // first language whose count is >= all later ones (ties prefer order)
    counts.zipWithIndex.foldRight(lit(counts.last._1)) { case (((lang, c), i), rest) =>
      val laterCounts = counts.drop(i + 1).map(_._2)
      if (laterCounts.isEmpty) lit(lang)
      else when(laterCounts.map(c >= _).reduce(_ && _), lit(lang)).otherwise(rest)
    }
  }

  /** Simple quality bucket from integer signals only (deterministic
    * across engines — no float thresholds).
    */
  def qualityBucket(text: Column): Column = {
    val t = tokenCount(text)
    val s = stopwordCount(text)
    val p = punctCount(text)
    when(t === 0, "empty")
      .when(s * 10 >= t, "stopwordy")
      .when(p === 0, "clean")
      .otherwise("other")
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (16 hex chars). Exact-dup key; cheap and stable.
    */
  def fingerprint(text: Column, hexLen: Int = 16): Column =
    substring(md5(regexp_replace(lower(text), "\\s+", " ").cast("binary")), 0, hexLen)

  /** Deterministic hash bucket in [0, buckets): the first 8 hex nibbles
    * of md5 (32 bits — mod bias < 1e-8 for any sane bucket count)
    * reduced mod `buckets`. Reproducible across engines (md5 hex is
    * bit-identical; DuckDB parses the same nibbles via
    * `('0x' || substr(md5(x),1,8))::BIGINT`) and across runs — the
    * foundation for SAMPLING a 100 TB corpus as a pushed-down,
    * shuffle-free scan filter instead of rand() (not reproducible) or a
    * global sort (not scalable). Quota sampling = `bucket < quota`.
    */
  def hashBucket(c: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= (1 << 24), "buckets must fit the 32-bit hash space")
    pmod(graft.functions.Md5PrefixLong(c, 4), lit(buckets))
  }

  /** 64-bit SimHash over whitespace tokens, md5 bit source, hex-string
    * output — the oracle-portable formulation.
    *
    * Shape: explode tokens → md5 once per token → groupBy(id) with 64
    * conditional-sum vote aggs (all codegen'd hash-agg with map-side
    * partials) → sign of each vote is a bit, packed as 16 hex chars
    * (most-significant nibble first).
    * Bit b of a token = bit (b mod 4) of md5 hex digit (b div 4).
    */
  def simhashMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(
        col(idCol).as("id"),
        explode(spaceTokens(col(textCol))).as("t"))
      .withColumn("h", md5(col("t").cast("binary")))
    val votes = (0 until 64).map { b =>
      val nib = expr(s"instr('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1")
      sum(when(shiftright(nib, b % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val voted = tok.groupBy("id").agg(votes.head, votes.tail: _*)
    val nibbleChars = (15 to 0 by -1).map { j =>
      val v = (0 until 4)
        .map(k => when(col(s"v${4 * j + k}") > 0, 1 << k).otherwise(0))
        .reduce(_ + _)
      element_at(split(lit("0 1 2 3 4 5 6 7 8 9 a b c d e f"), " "), v + 1)
    }
    voted.select(col("id").as(idCol), concat(nibbleChars: _*).as("simhash"))
  }

  /** DuckDB SQL equivalent of [[simhashMd5]] (same bit/nibble layout),
    * for SparkEntry.oracleSql.
    */
  def simhashMd5Sql(table: String, idCol: String, textCol: String): String = {
    val votes = (0 until 64).map { b =>
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val nibbles = (15 to 0 by -1).map { j =>
      val v = (0 until 4)
        .map(k => s"(CASE WHEN v${4 * j + k} > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($v) + 1, 1)"
    }.mkString(" || ")
    s"""WITH tok AS (
       |  SELECT $idCol AS id, md5(unnest(regexp_split_to_array(trim($textCol), '\\s+'))) AS h
       |  FROM $table),
       |voted AS (
       |  SELECT id,
       |    $votes
       |  FROM tok GROUP BY id)
       |SELECT id AS $idCol, $nibbles AS simhash FROM voted""".stripMargin
  }

  // === PII scrubbing ==========================================================

  /** RE2-safe patterns (no backreferences/lookaround) so the same
    * strings drive Spark's Java regex and the DuckDB oracle's RE2.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails then IPv4-ish literals — codegen'd regexp_replace
    * chain over the scan; the shape every curation pipeline runs before
    * releasing text (swap/extend patterns per policy).
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))

  /** URL host extraction (RE2-safe, one capture group) — feeds
    * domain-level corpus curation: per-domain document counts and
    * blocklist filtering, the standard web-corpus quality lever next to
    * per-document signals. Returns the array of hosts in `text`.
    */
  val UrlHostPattern = "https?://([^/\\s]+)"
  def urlHosts(text: Column): Column =
    regexp_extract_all(text, lit(UrlHostPattern), lit(1))

  /** Canonical URL for crawl-level dedup (the C4/CCNet curation step
    * that collapses fetch-time variants of one page): drop the
    * fragment, drop tracking params (utm_*, fbclid, gclid) and collapse
    * the separators they leave, lowercase scheme+authority, and strip
    * the scheme's default port (:80 http / :443 https). Pure per-row
    * regex chain — codegen'd, no shuffle; every pattern stays in the
    * Java-regex ∩ RE2 subset (no lookaround, no backrefs in MATCH) so
    * the DuckDB oracle runs the byte-identical contract.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag, "(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*", "")
    val collapsed = regexp_replace(
      regexp_replace(regexp_replace(noTrack, "\\?&+", "?"), "&{2,}", "&"),
      "[?&]+$", "")
    val lowered = concat(
      lower(regexp_extract(collapsed, "^[A-Za-z]+://[^/?#]*", 0)),
      regexp_replace(collapsed, "^[A-Za-z]+://[^/?#]*", ""))
    regexp_replace(
      regexp_replace(lowered, "^(https://[^/:?#]*):443([/?#]|$)", "$1$2"),
      "^(http://[^/:?#]*):80([/?#]|$)", "$1$2")
  }

  /** Crawl dedup by canonical URL: one row per canonical key with the
    * doc count behind it and the min-id keeper (the [[graft.scale.Dedup]]
    * family's representative contract). One shuffle, on the canonical
    * string; at crawl scale swap the key for its xxhash64 the way
    * [[graft.scale.Dedup.duplicatedSpanStats]] does if URL strings
    * dominate the exchange.
    */
  def urlKeyDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), canonicalUrl(col(urlCol)).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keeper"))

  /** Per-language corpus summary (doc count, median/p90 chars, distinct
    * sources) in two forms:
    *
    *  - `approx = false` — the oracle-exact form behind q41: exact
    *    `percentile` + `count(DISTINCT ...)`. Both hold per-group state
    *    proportional to the group (percentile buffers every value;
    *    distinct shuffles every (lang, source) pair) — fine at test SF,
    *    wrong at 100 TB where one language can hold billions of rows.
    *  - `approx = true` — the documented 100 TB path: `approx_percentile`
    *    (Greenwald-Khanna sketch, memory bounded by `accuracy`, not by
    *    group size) + `approx_count_distinct` (HyperLogLog++, ~1.5 KB per
    *    group at rsd=0.02). Constant per-group state, single map-side-
    *    combined aggregation, no value buffering.
    *
    * Column names/types match between the two so a caller can swap the
    * flag without touching downstream code (approx casts its percentile
    * outputs to double to mirror exact `percentile`'s return type).
    */
  def corpusStats(docs: DataFrame, approx: Boolean,
                  accuracy: Int = 10000, rsd: Double = 0.02): DataFrame = {
    val aggs =
      if (approx) Seq(
        count(lit(1)).as("n_docs"),
        expr(s"approx_percentile(n_chars, 0.5, $accuracy)").cast("double").as("med_chars"),
        expr(s"approx_percentile(n_chars, 0.9, $accuracy)").cast("double").as("p90_chars"),
        approx_count_distinct(col("source"), rsd).as("n_sources"))
      else Seq(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("med_chars"),
        expr("percentile(n_chars, 0.9)").as("p90_chars"),
        countDistinct(col("source")).as("n_sources"))
    docs.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
  }

  /** Repetition quality signals (the Gopher/MassiveText-style repetition
    * filters): per document, the duplicate-token fraction and the count
    * of the most-repeated word bigram. High values flag boilerplate /
    * degenerate text that dedup misses because no other document shares
    * it.
    *
    *  - `dup_token_milli` = floor(1000 * (n_tokens - n_distinct) /
    *    n_tokens) — integer per-mille so the value hashes identically
    *    across engines.
    *  - `max_bigram_n` = occurrences of the document's most frequent
    *    bigram (>= 2 means some bigram repeats).
    *
    * Scale shape: token stats are pure codegen'd expressions on the
    * scan; the bigram mode needs true occurrence counts (the codegen'd
    * [[graft.functions.WordShingles]] dedups, so it can't count) — an
    * explode + two map-side-combined aggregations keyed (id, gram) then
    * (id). The only shuffled payload is (id, gram, partial count).
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = spaceTokens(col(textCol))
    val base = docs.select(
      col(idCol),
      size(tok).as("n_tokens"),
      size(array_distinct(tok)).as("n_distinct"))
      .withColumn(
        "dup_token_milli",
        (lit(1000) * (col("n_tokens") - col("n_distinct")) / col("n_tokens")).cast("long"))
    val bigrams = docs
      .select(col(idCol), tok.as("t"))
      .select(col(idCol), explode(when(size(col("t")) >= 2,
        expr("transform(sequence(0, size(t) - 2), " +
          "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val maxRep = bigrams
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max(col("c")).as("max_bigram_n"))
    base.join(maxRep, Seq(idCol), "left")
      .na.fill(0L, Seq("max_bigram_n"))
  }

  /** Boilerplate-line detection (the CCNet/RefinedWeb-style pass that
    * removes lines repeated across many documents — headers, footers,
    * navigation chrome — which document-level dedup never sees): segment
    * each document into fixed `lineTokens`-token lines, hash each line,
    * index the hashes appearing in >= `minDocs` DISTINCT documents, and
    * report per document how many of its lines are boilerplate.
    *
    * Scale shape: line hashes shuffle once to build the repeated-line
    * index (map-side-combined distinct-count) and once more for the
    * probe join — the index join is deliberately UN-HINTED, and the
    * regime switch is AQE's to make at runtime:
    *
    *   - index ≤ `spark.sql.autoBroadcastJoinThreshold` (the common
    *     case — boilerplate is a small, heavy-tailed set of chrome
    *     lines): AQE rewrites the probe to a broadcast-hash join and
    *     the lines frame never shuffles for it (PlanGuardSpec pins this
    *     at test scale);
    *   - index larger (a 100 TB crawl where millions of template lines
    *     clear `minDocs`): the plan stays a shuffle hash/sort-merge
    *     join on `h` — correct and linear, just one more exchange of
    *     slim (h, flag) rows. A forced broadcast here would OOM the
    *     driver, which is exactly why no hint is given.
    *
    * Final per-doc agg shuffles (id) rows. The line explode is inherent
    * to the algorithm (every line must be seen once).
    * Output: (idCol, n_lines, n_boiler).
    */
  def boilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lineTokens: Int = 10,
      minDocs: Int = 2): DataFrame = {
    val lines = docs
      .select(col(idCol), spaceTokens(col(textCol)).as("t"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(0L, (size(t) - 1) div $lineTokens), " +
          s"j -> md5(cast(array_join(slice(t, cast(j * $lineTokens + 1 as int), $lineTokens), ' ') as binary)))"))
        .as("h"))
    val idx = lines.groupBy("h")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), lit(1).as("is_boiler"))
    lines.join(idx, Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_boiler"), lit(0))).as("n_boiler"))
  }

  /** Per-domain ADAPTIVE quality cutoff — the curation pass that fixed
    * global thresholds get wrong: a single corpus-wide floor on a
    * quality signal (length, score, …) over-prunes terse domains and
    * under-prunes verbose ones, so production pipelines cut each domain
    * at its own quantile (e.g. drop the bottom quartile PER SOURCE).
    * Emits every document with its domain's cutoff and a 0/1 `keep`
    * (signal >= cutoff), so downstream composes it like
    * [[policyFilter]].
    *
    * `q` should be DYADIC (0.25, 0.5, 0.75): the interpolated exact
    * percentile is then a sum of exactly-representable dyadic products,
    * bit-identical across engines regardless of evaluation order.
    *
    * Scale shape: the cutoff frame is domain-sized and aggregates with
    * `percentile` — which buffers every group value, the documented
    * exact-vs-approx trade of [[corpusStats]]; at 100 TB swap in
    * `approx_percentile` (same frame shape, sketch memory). The join
    * back to the scan is UN-HINTED: AQE broadcasts the domain frame
    * while it fits (PlanGuardSpec pins this), and a corpus with more
    * domains than driver memory degrades to a slim (domain, cutoff)
    * shuffle join — never a corpus-wide window, which would shuffle
    * every document to its domain's single partition.
    */
  def adaptiveQualityCutoff(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      signalCol: String,
      q: Double = 0.25): DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1), got $q")
    val cutoffs = docs
      .groupBy(col(groupCol))
      .agg(expr(s"percentile($signalCol, $q)").as("cutoff"))
    docs
      .select(col(idCol), col(groupCol), col(signalCol))
      .join(cutoffs, groupCol)
      .withColumn("keep", (col(signalCol) >= col("cutoff")).cast("long"))
  }

  /** Deterministic epoch-weighted replication — the mixture-building
    * primitive: a row with weight w per-mille keeps w/1000 whole copies
    * plus one more iff its hash bucket falls below w mod 1000, so
    * E[copies] = w/1000 EXACTLY and the same row always replicates the
    * same way. Weights are INTEGER per-mille on purpose: fractional
    * double weights truncate differently across engines. Emits a `copy`
    * index column (0-based); rows with weight 0 drop out.
    */
  def epochSample(df: DataFrame, keyCol: Column, permille: Column): DataFrame =
    epochSampleAtResolution(df, keyCol, permille, 1000L)

  /** [[epochSample]] at an arbitrary rate RESOLUTION (rate in units of
    * 1/`resolution`): the per-mille grid floors any corpus/budget ratio
    * beyond 1000:1 to rate 0 (the q94 century measurement — a 200-doc
    * budget over 500k docs is 0.4‰, which truncates to nothing), so
    * planet-scale mixtures use per-million or finer. The md5 draw uses
    * 32 hash bits — keep `resolution` ≤ ~1e6 so the modular bias stays
    * negligible.
    */
  def epochSampleAtResolution(
      df: DataFrame, keyCol: Column, rate: Column, resolution: Long): DataFrame = {
    require(resolution >= 1 && resolution <= 16777216L,
      s"resolution must be in [1, 2^24], got $resolution")
    val whole = (rate.cast("long") / resolution).cast("long")
    val extra =
      when(hashBucket(keyCol, resolution.toInt) < pmod(rate.cast("long"), lit(resolution)), 1L)
        .otherwise(0L)
    val n = whole + extra
    df.withColumn(
      "copy",
      explode(when(n > 0, sequence(lit(0L), n - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Temperature-weighted domain mixture (the UniMax / GPT-3-style
    * mixing step: sampling weight per domain ∝ n^α with α < 1, so
    * small domains are upweighted relative to proportional sampling
    * and no single huge domain swamps the mix): with α = 1/2 the
    * domain score is the INTEGER square root s_g = floor(sqrt(n_g)) —
    * exact in both engines (sqrt of a < 2^52 integer is correctly
    * rounded; perfect squares are exact) — and each document of
    * domain g replicates with
    * `permille_g = (1000 * budgetDocs * s_g) div (S * n_g)` where
    * S = Σ s_h, so the expected output size is ~budgetDocs and every
    * quotient is integer arithmetic (engine- and partition-exact).
    * Replication itself is [[epochSample]]'s deterministic md5-bucket
    * scheme (fractional part as a hash draw, whole part as copies).
    *
    * Scale shape: the domain frame is one map-side-combined count agg;
    * S is the sanctioned 1-row crossJoin; rates join the corpus back
    * UN-HINTED (AQE broadcasts a domain frame); the replication is a
    * scan-side explode. No corpus-sized shuffle anywhere.
    */
  def temperatureMix(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      budgetDocs: Long): DataFrame =
    temperatureMixAtResolution(docs, idCol, groupCol, budgetDocs, 1000L)
      .withColumnRenamed("rate", "permille")

  /** [[temperatureMix]] at an arbitrary rate resolution (the
    * [[epochSampleAtResolution]] contract): at per-mille resolution a
    * budget below 1/1000 of the corpus floors every rate to 0 and the
    * mixture STARVES — measured at the 100× staging (q94's 200-doc
    * budget over 500k docs → 0 rows). Production mixtures over
    * planet-scale corpora run per-million (resolution = 1_000_000);
    * the oracle query keeps per-mille for the 1:1 DuckDB shape. Output
    * rate column is named `rate` (in 1/resolution units).
    */
  def temperatureMixAtResolution(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      budgetDocs: Long,
      resolution: Long): DataFrame = {
    require(budgetDocs >= 1, s"budgetDocs must be >= 1, got $budgetDocs")
    val sized = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("s", expr("cast(floor(sqrt(n_docs)) as bigint)"))
    val tot = sized.agg(sum(col("s")).as("s_tot"))
    val rates = sized.crossJoin(broadcast(tot))
      .withColumn("rate",
        expr(s"(${resolution}L * ${budgetDocs}L * s) div (s_tot * n_docs)"))
      .select(col(groupCol), col("n_docs"), col("rate"))
    epochSampleAtResolution(
      docs.select(col(idCol), col(groupCol)).join(rates, groupCol),
      col(idCol).cast("string"), col("rate"), resolution)
      .select(col(idCol), col(groupCol), col("n_docs"), col("rate"), col("copy"))
  }

  /** Incremental-mixture variant of [[temperatureMixAtResolution]]: the
    * REBALANCE step of curating a new batch against an existing store.
    * Domain scores come from the COMBINED population (`baseSizes` =
    * (groupCol, n_base) — the store's per-domain survivor counts —
    * outer-joined with the batch's own counts, s_g = floor(sqrt(n_base
    * + n_batch))), but replication applies only to the BATCH rows:
    * `rate_g = (resolution · budgetDocs · s_g) div (S · n_batch_g)`,
    * so the appended epoch copies move the overall mixture toward the
    * √n target instead of re-mixing the batch in isolation (a tiny
    * batch of an over-represented store domain gets correspondingly
    * few copies). Domains present only in the store still contribute
    * their score to S — they dilute the budget exactly as a full
    * re-mix over store+batch would — they just emit nothing here.
    * Same integer-exact arithmetic and md5-draw replication as the
    * base operator; same scale shape (domain-frame aggs + un-hinted
    * rate join + scan-side explode).
    */
  def temperatureMixRebalance(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      baseSizes: DataFrame,
      budgetDocs: Long,
      resolution: Long): DataFrame = {
    require(budgetDocs >= 1, s"budgetDocs must be >= 1, got $budgetDocs")
    val batchSized = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_batch"))
    val sized = batchSized
      .join(baseSizes.select(col(groupCol), col("n_base")), Seq(groupCol), "full_outer")
      .select(col(groupCol),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        (coalesce(col("n_batch"), lit(0L)) + coalesce(col("n_base"), lit(0L))).as("n_tot"))
      .withColumn("s", expr("cast(floor(sqrt(n_tot)) as bigint)"))
    val tot = sized.agg(sum(col("s")).as("s_tot"))
    val rates = sized.filter(col("n_batch") > 0)
      .crossJoin(broadcast(tot))
      .withColumn("rate",
        expr(s"(${resolution}L * ${budgetDocs}L * s) div (s_tot * n_batch)"))
      .select(col(groupCol), col("n_tot").as("n_docs"), col("rate"))
    epochSampleAtResolution(
      docs.select(col(idCol), col(groupCol)).join(rates, groupCol),
      col(idCol).cast("string"), col("rate"), resolution)
      .select(col(idCol), col(groupCol), col("n_docs"), col("rate"), col("copy"))
  }

  /** Corpus-wide heavy-hitter word n-grams — the "what is my corpus
    * full of" diagnostic (and the contamination-analysis input: the top
    * repeated n-grams are where template chrome and benchmark leakage
    * concentrate). Returns the global top `k` n-grams by total
    * occurrence count with document frequency:
    * (gram, n_occ, n_docs), tie-broken (n_occ desc, n_docs desc, gram
    * asc) so the top-k SET is deterministic.
    *
    * Scale shape: the occurrence explode is inherent (every position
    * seen once — [[graft.functions.WordShingles]] is NOT used because
    * it dedups per document and this operator needs true occurrence
    * counts). Aggregation is TWO-LEVEL — (gram, id) partial counts,
    * then (gram) totals with `n_docs = count(*)` — instead of one
    * `agg(count, countDistinct)`, which would plan an Expand (2× the
    * exploded rows through the first shuffle). Both levels map-side
    * combine, and the final top-k is `TakeOrderedAndProject`:
    * per-partition k rows to the driver, never a global sort. k·P
    * driver rows bound the collect at any corpus size.
    */
  def topKNgrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 50): DataFrame =
    ngramOccurrences(docs, idCol, textCol, n)
      .groupBy("gram", "id").agg(count(lit(1)).as("c"))
      .groupBy("gram").agg(sum("c").as("n_occ"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("gram").asc)
      .limit(k)

  /** One (id, gram) row per n-gram OCCURRENCE (duplicates kept — vs the
    * per-doc-distinct [[graft.functions.WordShingles]]).
    */
  private def ngramOccurrences(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), spaceTokens(col(textCol)).as("t"))
      .select(col("id"), explode(when(size(col("t")) >= n,
        expr(s"transform(sequence(0, size(t) - $n), " +
          s"i -> array_join(slice(t, i + 1, $n), ' '))"))
        .otherwise(array().cast("array<string>"))).as("gram"))

  /** Query-side count-min point estimate against a
    * [[graft.functions.CmsSketch]] array column: min over the `depth`
    * counter rows at this value's md5-window buckets. Pure `functions._`
    * composite — the same 48-bit md5 base and bit windows as the
    * aggregate's update path ([[graft.functions.Md5PrefixLong.hash]]).
    */
  def cmsEstimate(sketch: Column, value: Column, depth: Int, width: Int): Column = {
    val bits = Integer.numberOfTrailingZeros(width)
    val base = graft.functions.Md5PrefixLong(value, 6)
    least((0 until depth).map { j =>
      element_at(sketch,
        (shiftrightunsigned(base, bits * j).bitwiseAND(lit((width - 1).toLong)))
          .cast("int") + lit(j * width) + lit(1))
    }: _*)
  }

  /** Heavy hitters with count-min verification — the q80/CMS composite:
    * the exact top-k n-grams joined with their estimates from ONE
    * fixed-memory sketch pass. At 100 TB the exact (gram, id) agg can be
    * the thing you cannot afford; the sketch column is the
    * constant-memory stand-in, and this operator is the accuracy gate
    * showing est >= exact with collision-bounded overcount on live data.
    *
    * Scale shape: the sketch is one global `TypedImperativeAggregate`
    * (8 KiB buffer per partition, element-wise merge — the exchange
    * carries one partial sketch row per partition); the top-k side is
    * [[topKNgrams]] (TakeOrdered); the final estimate probe is a
    * broadcast cross join of the 1-row sketch against k rows.
    */
  /** Batch perceptron TRAINING of a hashed-feature linear classifier —
    * the training half of the [[hashedLinearScore]] serving shape and
    * the quality-classifier loop a curation pipeline actually runs
    * (fastText-style: bag of words → feature hashing → linear margin;
    * the label column is any ±1 supervision signal, e.g. "is this the
    * high-resource language" or a curated good/bad seed set).
    *
    * The batch perceptron update is ALL-INTEGER — no learning rate, no
    * division: w⁽¹⁾ = Σᵢ yᵢxᵢ (with w⁽⁰⁾ = 0 every document starts
    * misclassified), then each further step adds Σ yᵢxᵢ over the
    * currently misclassified documents (yᵢ·marginᵢ ≤ 0). Integer sums
    * are associative, so the trained weights are bit-identical across
    * engines and partitionings — the DuckDB oracle reproduces them
    * exactly (the same reason [[hashedLinearScore]] and the k-means
    * quantizer stay integer).
    *
    * Scale shape: the (id, y, bucket, count) feature frame is built
    * once (explode → hash → one hash-agg) and CacheScope-persisted
    * across iterations; each iteration is margin = feats ⋈ BROADCAST
    * weights → per-doc agg (slim rows), a left-semi join of feats
    * against the misclassified ids on the same id hash-partitioning,
    * and a per-feature agg down to `dim` rows. The weight frame never
    * exceeds `dim` rows, so it broadcasts everywhere; iterations are
    * unrolled ([[graft.scale.KMeans]] regime — each adds a fixed set of
    * exchanges, no driver loop on data).
    *
    * @return (feature_id, weight) — `dim`-bounded, exact integers
    */
  def perceptronTrain(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 64,
      iters: Int = 2): DataFrame = {
    require(dim > 0 && dim <= (1 << 20), s"dim must be in (0, 2^20], got $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val feats = graft.ops.CacheScope.persisted(
      docs
        .select(
          col(idCol).as("id"),
          col(labelCol).cast("long").as("y"),
          explode(spaceTokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("id"), col("y"), hashBucket(col("tok"), dim).as("j"))
        .groupBy(col("id"), col("y"), col("j"))
        .agg(count(lit(1)).as("c")))
    // w⁰ = 0 ⇒ every margin is 0 ⇒ every doc misclassified ⇒ the first
    // step is the plain label-weighted count, computed directly
    val w1 = feats.groupBy(col("j")).agg(sum(col("y") * col("c")).as("w"))
    val trained = (2 to iters).foldLeft(w1) { (w, _) =>
      val margins = feats
        .join(broadcast(w), Seq("j"), "left")
        .groupBy(col("id"), col("y"))
        .agg(sum(coalesce(col("w"), lit(0L)) * col("c")).as("m"))
      val mis = margins.filter(col("y") * col("m") <= 0).select(col("id"))
      val upd = feats
        .join(mis, Seq("id"), "left_semi")
        .groupBy(col("j"))
        .agg(sum(col("y") * col("c")).as("dw"))
      // upd's keys ⊆ w's keys (both derive from feats' buckets), but
      // keep the join total for safety
      w.join(upd, Seq("j"), "full")
        .select(
          col("j"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w"))
    }
    trained.select(col("j").as("feature_id"), col("w").as("weight"))
  }

  /** Serving against a TRAINED weight frame — the composition target of
    * [[perceptronTrain]] (whose (feature_id, weight) output plugs in
    * directly): margin = Σ weight(bucket(token)), label = margin > 0.
    * Same integer bit-stability contract as [[hashedLinearScore]];
    * unknown buckets score 0 (the left join's coalesce), so a model
    * trained on one corpus serves any other. The weight frame is
    * dim-bounded → broadcast; the corpus side is one explode + one
    * hash-agg, no shuffle beyond the per-doc sum. The token array is
    * [[spaceTokens]] with empty strings dropped, the one
    * `StreamingOps.classifyStream` folds per row.
    */
  def scoreWithWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      dim: Int = 64): DataFrame =
    docs
      .select(
        col(idCol),
        explode(spaceTokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col(idCol), hashBucket(col("tok"), dim).as("feature_id"))
      .join(broadcast(weights), Seq("feature_id"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("weight"), lit(0L))).as("margin"))
      .withColumn("label", (col("margin") > 0).cast("long"))

  /** Hashed-feature linear document scorer — the fastText-style quality
    * classifier shape (bag of words → feature hashing → linear margin):
    * each token hashes to one of `dim` feature buckets, the document's
    * margin is the sum of its tokens' bucket weights, and
    * `label = margin > 0`. In production the weight vector comes from
    * training; here the weights are a deterministic function of the
    * bucket index (a fixed Knuth-multiplier scramble centered on zero)
    * so the driver oracle can rebuild the scorer exactly — the SHAPE
    * under test is the serving path, which is what the engine owns.
    *
    * Weights are INTEGERS on purpose: a double-weight margin depends on
    * floating-point addition order, which differs across engines and
    * even across partitionings of the same engine. Integer sums are
    * associative, so the margin is bit-stable everywhere.
    *
    * Scale shape: explode tokens → hash → two map-side-combined aggs
    * keyed (id): the per-doc sum shuffles slim (id, partial margin)
    * rows; the weight "vector" never materializes anywhere (it is a
    * closed-form expression of the bucket id).
    */
  def hashedLinearScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 4096): DataFrame = {
    require(dim > 0 && dim <= (1 << 20), s"dim must be in (0, 2^20], got $dim")
    val bucket = hashBucket(col("tok"), dim)
    // deterministic stand-in weights: Knuth-scrambled bucket id folded
    // to [-500, 499]
    val weight = pmod(bucket * lit(2654435761L), lit(1000L)) - lit(500L)
    docs
      .select(col(idCol), explode(spaceTokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col(idCol), weight.as("w"))
      .groupBy(idCol)
      .agg(sum("w").as("margin"), count(lit(1)).as("n_feats"))
      .withColumn("label", (col("margin") > 0).cast("long"))
  }

  /** Per-group n-gram count-min sketches — the WRITE side of an
    * incremental sketch store: each group (a source, a shard, a day's
    * landing dir) aggregates to one `array<bigint>` counter row via
    * [[graft.functions.CmsSketch]], and those rows persist wherever the
    * pipeline keeps state.
    */
  def cmsSketchByGroup(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      depth: Int = 4,
      width: Int = 256): DataFrame =
    ngramOccurrences(docs, groupCol, textCol, n)
      .groupBy(col("id").as(groupCol))
      .agg(graft.functions.CmsSketch(col("gram"), depth, width).as("sk"))

  /** Element-wise merge of STORED count-min sketches — the incremental
    * corpus-frequency contract: counters are plain sums, so
    * `sketch(A ∪ B) == merge(sketch(A), sketch(B))` EXACTLY (not
    * approximately — the sketch is deterministic given its inputs).
    * Daily/per-shard sketch rows land in a store; any window's summary
    * is then one merge over depth·width-long rows — never a corpus
    * rescan. Shape: posexplode → slim (pos, partial-sum) hash-agg →
    * one dim-bounded reassembly row; nothing here scales with the
    * corpus, only with the number of stored sketches.
    */
  def mergeCmsSketches(sketches: DataFrame, skCol: String): DataFrame =
    sketches
      .select(posexplode(col(skCol)).as(Seq("pos", "c")))
      .groupBy(col("pos"))
      .agg(sum(col("c")).as("c"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as(skCol))

  /** Per-group DISTINCT-COUNT sketch store — the cardinality twin of
    * [[cmsSketchByGroup]] (frequency) and the Bloom decontamination
    * sketch (membership), completing the mergeable-sketch family:
    * each group aggregates its distinct `valueCol` cardinality into one
    * Apache DataSketches HLL row (`hll_sketch_agg`, built into Spark 4;
    * fixed 2^lgK registers per row). Stored rows answer any window's
    * "how many distinct users/tokens/urls" by MERGING sketches —
    * never by rescanning the corpus.
    *
    * Not oracle-gated: DataSketches HLL bytes have no DuckDB twin.
    * The laws that make the store sound ARE in-engine testable and
    * pinned by CorpusOpsSpec: duplicates never move a register (feeding
    * the corpus twice leaves the merged estimate IDENTICAL), and
    * re-sharding the corpus into different stored rows moves the merged
    * estimate only within the HLL4 union-clipping tolerance (measured
    * ±2 at 700 distinct). Exact bit-equality across groupings does NOT
    * hold — single-sketch estimates use the stream-order-dependent HIP
    * estimator and HLL4 unions clip offset-encoded registers — so the
    * store's contract is: always read estimates through
    * [[mergeHllSketches]], treat them as estimates. Scale shape: one
    * map-side-combined agg; the shuffle carries one sketch row per
    * group.
    */
  def hllSketchByGroup(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Merge STORED HLL sketch rows into one distinct-count estimate —
    * cost scales with the number of stored sketches, never the corpus.
    */
  def mergeHllSketches(sketches: DataFrame, skCol: String): DataFrame =
    sketches
      .agg(hll_union_agg(col(skCol), lit(false)).as("hll"))
      .select(hll_sketch_estimate(col("hll")).as("n_distinct_est"))

  def cmsHeavyHitters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 50,
      depth: Int = 4,
      width: Int = 256): DataFrame = {
    val occ = ngramOccurrences(docs, idCol, textCol, n)
    val sketch = occ.agg(graft.functions.CmsSketch(col("gram"), depth, width).as("sk"))
    topKNgrams(docs, idCol, textCol, n, k)
      .crossJoin(broadcast(sketch))
      .select(col("gram"), col("n_occ"),
        cmsEstimate(col("sk"), col("gram"), depth, width).as("cms_est"))
  }

  /** C4-style document policy filter ("Exploring the Limits of Transfer
    * Learning with a Unified Text-to-Text Transformer", Raffel et al.
    * 2020, §2.2 cleaning heuristics): keep only lines that end in
    * terminal punctuation AND have at least `minWordsPerLine` words;
    * drop the whole document when any bad phrase occurs (case-
    * insensitive) or fewer than `minKeptLines` lines survive.
    *
    * Total function over the corpus: every document gets a row
    * (id, n_lines, n_kept, keep, clean_text) with `keep` a 0/1 long
    * (cross-engine hash-stable) and `clean_text` the surviving lines
    * re-joined with '\n' — NULL for dropped docs, so the dropped text
    * never materializes downstream.
    *
    * Scale shape: pure higher-order-function composite (split /
    * filter / array_join) inside whole-stage codegen — zero shuffles,
    * zero UDFs; the filter runs at scan speed over a 100 TB corpus.
    */
  def policyFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWordsPerLine: Int = 5,
      minKeptLines: Int = 3,
      badPhrases: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = expr(
      s"filter(split($textCol, '\\n'), l -> " +
        s"l rlike '[.!?]\\\\s*$$' and size(split(trim(l), '\\\\s+')) >= $minWordsPerLine)")
    val bad = badPhrases
      .map(p => lower(col(textCol)).contains(p.toLowerCase))
      .reduce(_ || _)
    docs.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      when(!bad && size(kept) >= minKeptLines, 1L).otherwise(0L).as("keep"),
      when(!bad && size(kept) >= minKeptLines, array_join(kept, "\n"))
        .as("clean_text"))
  }

  /** Vocabulary coverage curve — the tokenizer-design diagnostic: the
    * top `k` corpus tokens with rank, cumulative count, and cumulative
    * coverage in integer per-mille of ALL token occurrences
    * (`cover_milli`, integer division so the value hashes identically
    * across engines). A reader learns e.g. "100 tokens cover 41% of
    * the corpus".
    *
    * Scale shape: the token counts aggregate distributed (map-side
    * combined), the total is a 1-row agg broadcast by the cross join
    * (the sanctioned 1-row-frame pattern), and the rank/cumsum WINDOW
    * — the only single-partition step — runs AFTER
    * `TakeOrderedAndProject` reduced the frame to k rows. The
    * unbounded-frame window never sees the vocabulary, only the top-k.
    */
  def vocabCoverage(
      docs: DataFrame,
      textCol: String,
      k: Int = 100): DataFrame = {
    val counts = docs
      .select(explode(words(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("tot"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok").asc)
    counts
      .orderBy(col("n").desc, col("tok").asc)
      .limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_n", sum("n").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("cover_milli", expr("cast(1000 * cum_n div tot as bigint)"))
      .select("tok", "n", "rank", "cum_n", "cover_milli")
  }

  /** Bigram language-model surprisal scoring — the CCNet-style
    * "perplexity vs an in-domain LM" quality signal (Wenzek et al.,
    * "CCNet", 2020) made oracle-exact: the corpus trains an integer
    * bigram model over itself, and each document is scored by its mean
    * INVERSE conditional bigram frequency,
    * `surp(w1,w2) = (1000 * c(w1·)) div c(w1,w2)` — an all-integer
    * monotone surrogate for per-bigram perplexity (low = the document's
    * transitions are common corpus-wide; high = rare transitions, the
    * gibberish/boilerplate tail a perplexity filter cuts). Tokens are
    * the `[a-z0-9]+` lowercase stream (same tokenizer as
    * [[Retrieval]]); prefix counts derive from the bigram counts (one
    * corpus pass, no separate unigram scan). Documents with < 2 tokens
    * have no bigrams and emit no row.
    *
    * Returns (idCol, total_surp, n_bigrams, avg_surp).
    *
    * Scale shape: the corpus-sized frame is the (id, w1, w2) bigram
    * occurrence stream — persisted once, consumed by the model build
    * and the scoring join. Model frames are bigram-TYPE-sized
    * (vocabulary², in practice Zipf-bounded); counts aggregate with
    * map-side partials, and the scoring join shuffles on (w1, w2) with
    * a slim (id) payload — at 100 TB cap the model with a min-count
    * floor (rare bigrams hit a default surprisal) to keep it
    * broadcastable; here the join stays a plain shuffle-hash equi-join
    * so the oracle is 1:1.
    */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bi = graft.ops.CacheScope.persisted(bigramOccurrences(docs, idCol, textCol))
    scoreBigrams(bi, modelFromBigrams(bi), idCol)
  }

  /** The adjacent pairs of a token array, in order: one
    * struct(w1, w2) per bigram OCCURRENCE. The per-row kernel of
    * [[bigramOccurrences]] and `StreamingOps.surprisalStream`; an array
    * of fewer than 2 tokens has no bigrams (callers filter it first).
    */
  def bigrams(tokens: Column): Column =
    zip_with(
      slice(tokens, lit(1), size(tokens) - 1),
      slice(tokens, lit(2), size(tokens) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** (id, w1, w2) one row per bigram OCCURRENCE; token-less and
    * single-token docs emit nothing.
    */
  private def bigramOccurrences(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), words(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("id"), explode(bigrams(col("t"))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  private def modelFromBigrams(bi: DataFrame): DataFrame = {
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val c1 = cb.groupBy("w1").agg(sum("cb").as("c1"))
    cb.join(c1, "w1")
      .select(col("w1"), col("w2"), expr("(1000 * c1) div cb").as("surp"))
  }

  private def scoreBigrams(bi: DataFrame, model: DataFrame, idCol: String): DataFrame =
    bi
      .join(model, Seq("w1", "w2"))
      .groupBy(col("id").as(idCol))
      .agg(
        sum("surp").as("total_surp"),
        count(lit(1)).as("n_bigrams"),
        expr("sum(surp) div count(1)").as("avg_surp"))

  /** Fixed-size token-window CHUNKING — the pretraining-data step that
    * turns documents into model-ready sequences: each document's token
    * stream splits into windows of `window` tokens advancing by
    * `stride` (stride < window = overlapping context windows, the
    * standard long-document treatment). Emits
    * (idCol, chunk_idx, chunk_text, n_tokens); the final short window
    * is kept (a trailing remnant is real training data), empty docs
    * emit nothing, and a doc at most `window` tokens long emits exactly
    * one chunk.
    *
    * Scale shape: pure per-row expression work — tokenize once, emit
    * all chunks with the codegen'd
    * [[graft.functions.ChunkWindows]] kernel (the HOF
    * transform/slice composite is CodegenFallback and paid per-chunk
    * interpreted dispatch — 17.7 s → see BASELINE for the measured
    * century delta), explode. No shuffle anywhere (scan-pure like the
    * quality filters); output rows ≈ Σ ceil(len/stride), the chunk
    * inventory itself. Streamable unchanged: per-row work needs no
    * state, and the StreamingOpsSpec case "chunkStream == batch
    * chunkByTokens on a replayed corpus" pins stream == batch.
    */
  def chunkByTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    // carryCols ride the scan row-for-row (doc-level attributes every
    // chunk inherits — priority, language); carrying them here keeps the
    // operator scan-pure instead of forcing callers into a chunk←doc
    // attribute join afterwards
    val carried = carryCols.map(col)
    docs
      .select(
        (col(idCol) +: carried) :+
          filter(spaceTokens(col(textCol)), t => length(t) > 0).as("t"): _*)
      .filter(size(col("t")) > 0)
      .select(
        (col(idCol) +: carried) :+
          posexplode(graft.functions.ChunkWindows(col("t"), window, stride))
            .as(Seq("chunk_idx", "chunk_text")): _*)
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("n_tokens",
        size(split(col("chunk_text"), "\\s+")).cast("long"))
  }

  /** The TRAINED bigram model alone: (w1, w2, surp) over `docs` —
    * [[bigramSurprisal]]'s training half, for the train→serve split
    * ([[surprisalWithModel]] / `StreamingOps.surprisalStream`).
    */
  def bigramModel(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    modelFromBigrams(bigramOccurrences(docs, idCol, textCol))

  /** Score `docs` against a FROZEN (w1, w2, surp) model — the serving
    * half of [[bigramSurprisal]] (an in-domain reference corpus trains
    * once; every incoming batch scores against it, the actual CCNet
    * deployment shape). `n_bigrams` counts MODEL-KNOWN bigrams only
    * (unseen transitions don't score — the inner join drops them), and
    * docs with no known bigram emit no row. Same output columns as
    * [[bigramSurprisal]]; same scale shape, with the model frame now a
    * fixed input (broadcast it upstream if dim-bounded).
    */
  def surprisalWithModel(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    scoreBigrams(bigramOccurrences(docs, idCol, textCol), model, idCol)
}
