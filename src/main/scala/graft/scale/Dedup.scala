package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB training-data pipelines.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the digest — uniform
  * keys, no skew). Near-dup is MinHash + LSH banding: shingle → minhash
  * signature (map-side, no shuffle) → band keys → explode + groupBy band
  * (shuffle on band key) → candidate pairs verified by true Jaccard.
  * Everything before the band groupBy is per-row codegen'd expression
  * work, so the only shuffled payload is (band_key, doc_id).
  */
object Dedup {

  /** Exact-duplicate groups: digest, group size, smallest id as keeper. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keeper"))

  /** Duplication-rate histogram — the corpus-health report a curation
    * run leads with ("N% of the crawl is exact-duplicate"): group sizes
    * from [[exactGroups]] rolled up to one row per copy-count.
    * (n_copies, n_groups, n_docs, n_removable) where n_docs =
    * n_copies·n_groups and n_removable = (n_copies − 1)·n_groups (the
    * docs exact dedup would drop). Two map-side-combined aggs; the
    * histogram is copy-count-ary, never corpus-sized.
    */
  def duplicationHistogram(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactGroups(docs, idCol, textCol)
      .groupBy("n_copies")
      .agg(count(lit(1)).as("n_groups"))
      .select(
        col("n_copies"),
        col("n_groups"),
        (col("n_copies") * col("n_groups")).as("n_docs"),
        ((col("n_copies") - 1) * col("n_groups")).as("n_removable"))

  /** [[exactGroups]] with PROVENANCE: the keeper row additionally
    * carries the sorted '|'-joined distinct values of `provCol` across
    * its duplicate group (which sources contributed copies — the
    * lineage record a curation pipeline keeps when it drops
    * duplicates, and the priority input for source-aware keep rules).
    * The provenance set is source-DOMAIN-sized per group (collect_set
    * dedups map-side), never copy-count-sized.
    */
  def exactGroupsWithProvenance(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      provCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keeper"),
        concat_ws("|", array_sort(collect_set(col(provCol)))).as("provenance"))

  /** Word n-gram shingles of `text` (distinct, as strings) — a single
    * codegen'd per-document loop (see [[graft.functions.WordShingles]]).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(split(trim(text), "\\s+"), n)

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * xxhash64(seed, shingle) over the shingle set. Seeds are static, so
    * this is a fixed-size array column computed map-side.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shinglesCol, s => xxhash64(lit(seed), s)))
    }: _*)

  /** LSH band keys: hash each of `bands` contiguous signature slices
    * (rows-per-band = |sig| / bands) together with the band index.
    */
  def lshBandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), array_join(slice(sigCol, b * rowsPerBand + 1, rowsPerBand), ","))
    }: _*)

  /** Per-band member lists under a hard bucket cap — the LSH skew
    * guard. Buckets that exceed `maxBucket` members (degenerate or
    * boilerplate content funneling into one band key, the condition
    * that would make pair work explode as bucket² and buffer ~N members
    * in one aggregation buffer) evaluate to NULL INSIDE the aggregation
    * itself ([[graft.functions.BoundedCollectList]] — buffer memory
    * bounded at cap+1 members per group, map-side and merge-side) and
    * the filter drops them. One shuffle total, NO driver probe: unlike
    * the earlier count+join prune, constructing this frame never runs a
    * Spark job (the plan stays fully lazy until the caller's first
    * action — ScaleSpec pins this with a job listener), and sub-cap
    * buckets of every size are retained in BOTH regimes (singletons
    * yield no pairs downstream, so retention is harmless and the
    * capped/uncapped shapes agree wherever no bucket overflows).
    */
  private def bucketMembers(
      banded: DataFrame, member: Column, maxBucket: Int, out: String): DataFrame =
    if (maxBucket == Int.MaxValue)
      // cap disabled (oracle 1:1 shape): plain collect_list
      banded.groupBy("band").agg(collect_list(member).as(out))
    else
      banded
        .groupBy("band")
        .agg(graft.functions.BoundedCollectList(member, maxBucket).as(out))
        .filter(col(out).isNotNull)

  /** Candidate near-duplicate pairs via MinHash+LSH, verified with true
    * shingle-set Jaccard >= `threshold`. Returns (id_a, id_b, jaccard)
    * with id_a < id_b, distinct.
    *
    * Scale notes: buckets are exploded band keys; pair generation happens
    * inside each bucket (collect_list per bucket then pairwise explode),
    * so the cost is sum(bucket^2), not N^2. Oversized buckets (degenerate
    * content) are capped via `maxBucket`.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    val withSig = docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .withColumn("band", explode(lshBandKeys(minhashSignature(col("sh"), numHashes), bands, rowsPerBand)))

    val buckets = bucketMembers(
      withSig, struct(col("id"), col("sh")), maxBucket, "members")

    val pairs = buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(
        col("a"),
        explode(filter(col("members"), m => m("id") > col("a.id"))).as("b"))

    pairs
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, explode/hash-agg formulation.
    *
    * Unlike [[minhashCandidatePairs]] (array-typed signatures built with
    * higher-order functions, which are CodegenFallback/interpreted),
    * every stage here is codegen'd relational work:
    *
    *   1. explode shingles → (id, shingle) rows;
    *   2. signature = groupBy(id) with `numHashes` min(md5(seed:sh))
    *      aggs — hash-agg with map-side partial merge, so the shuffle
    *      carries one row per doc;
    *   3. band keys = md5 over signature slices, exploded → bucket
    *      groupBy on the band key (shuffled payload is (band, id) only —
    *      never the shingle sets);
    *   4. candidate pairs verified with EXACT Jaccard: the per-doc
    *      shingle sets ride along in the signature row, so |A∩B| is an
    *      array intersect over candidate pairs only,
    *      |A∪B| = nA + nB − |A∩B|.
    *
    * md5 (not xxhash64) so the DuckDB oracle can reproduce the exact
    * min-hash selections — and md5 is codegen'd too, so the scan stays
    * in whole-stage codegen.
    */
  def minhashPairsExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.2,
      maxBucket: Int = 1000): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, shingleSize, numHashes)

    // SLIM (id, band) rows into ONE capped aggregation — the banding has
    // a single consumer, so nothing here needs a cache, and shingle text
    // never shuffles (the rows are two longs), keeping the 100 TB
    // contract.
    val banded = bandKeysOf(sig, bands, numHashes / bands)

    val buckets = bucketMembers(banded, col("id"), maxBucket, "ids")
    // the LSH-bounded candidate list is tiny next to the corpus; persist
    // it — three consumers below (both verify-side id joins and the pair
    // join itself) would re-run the whole band pipeline otherwise.
    // Registered with CacheScope: the query driver unpersists after the
    // result materializes (the plan is lazy, so this function cannot).
    val pairs = graft.ops.CacheScope.persisted(buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(filter(col("ids"), x => x > col("id_a"))).as("id_b"))
      .distinct())

    // exact Jaccard per CANDIDATE pair only: shingle sets are recomputed
    // on demand FOR CANDIDATE IDS alone (semi-join prunes the corpus
    // before the codegen'd shingle expression runs) — the signature
    // index never materializes shingle text, so nothing ~corpus-sized is
    // persisted anywhere in this plan
    pairs
      .join(candidateShingleSets(docs, idCol, textCol, shingleSize,
        pairs.select(col("id_a").as("id")), "id_a", "sha"), Seq("id_a"))
      .join(candidateShingleSets(docs, idCol, textCol, shingleSize,
        pairs.select(col("id_b").as("id")), "id_b", "shb"), Seq("id_b"))
      .withColumn("ni", size(array_intersect(col("sha"), col("shb"))))
      .withColumn(
        "jaccard",
        col("ni").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("ni")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shingle sets recomputed for a (small) id set only: semi-join first
    * so the per-doc shingle loop runs on candidate rows, never the full
    * corpus. The join is broadcast-sized by the LSH bucket cap.
    */
  private def candidateShingleSets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      ids: DataFrame,
      outIdCol: String,
      outSetCol: String): DataFrame =
    docs.join(ids.distinct(), docs(idCol) === ids("id"), "left_semi")
      .select(col(idCol).as(outIdCol), shingles(col(textCol), shingleSize).as(outSetCol))

  /** True Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0d, lit(1d)).otherwise(inter / uni)
  }

  /** N-gram Jaccard near-dup pairs within explicit blocking keys (e.g.
    * language + length bucket): cheaper than LSH when a natural blocking
    * key exists; exact Jaccard inside each block.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val d = docs.select(
      struct(blockCols: _*).as("block"),
      col(idCol).as("id"),
      shingles(col(textCol), shingleSize).as("sh"))
    val buckets = d.groupBy("block").agg(collect_list(struct(col("id"), col("sh"))).as("members"))
    buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(filter(col("members"), m => m("id") > col("a.id"))).as("b"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Blocked exact n-gram Jaccard pairs, relational formulation: the
    * shingle self-equi-join restricted to a blocking key (e.g. language
    * + length bucket) computes |A∩B| directly; |A∪B| = nA + nB − |A∩B|.
    * Cheaper than LSH when a natural blocking key exists, and fully
    * codegen'd (vs the array-typed [[ngramJaccardPairs]]). Pair cost is
    * sum over blocks of (shingle-match count), never |N|².
    */
  def ngramJaccardJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // NOT persisted: the self-join's two sides shuffle on the same
    // (block, sh) key, so Catalyst reuses one exchange for both, and the
    // codegen'd shingle explode recomputes cheaper than caching millions
    // of shingle strings would cost (measured: persist = +0.8s at sf0.1)
    val sh = docs
      .select(
        col(idCol).as("id"),
        struct(blockCols: _*).as("block"),
        explode(shingles(col(textCol), shingleSize)).as("sh"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("block"), col("id").as("id_a"), col("sh"))
      .join(
        sh.select(col("block"), col("id").as("id_b"), col("sh")),
        Seq("block", "sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("ni"))
    inter
      .join(counts.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn(
        "jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-document MinHash signature row: h0..h{n-1} min-hashes plus the
    * shingle count `n` — the reusable index side of both the self-join
    * ([[minhashPairsExact]]) and the incremental probe
    * ([[nearDupAgainstCorpus]]). At production scale this frame is
    * PRECOMPUTED and stored with the corpus; a daily batch only
    * signatures itself.
    *
    * Deliberately SLIM: `numHashes` fixed-width hashes + a count, ~1e-2
    * of corpus size — the shingle TEXT never rides along (a shingle set
    * is ~3× its document; persisting it per doc would make the "index"
    * bigger than the corpus). Exact-Jaccard verification recomputes
    * shingles for the LSH-bounded candidate ids only.
    *
    * Hash family: ONE md5 per shingle per block of 16 functions (a
    * 48-bit prefix h), expanded by odd-multiplier bijections
    * g_i = (c_i · h) mod 2^48 — odd c_i is invertible mod 2^48, so each
    * g_i is a distinct pseudo-permutation of the same strong base hash
    * (the MLlib-MinHash construction). This cuts the dominant
    * per-shingle hashing cost 16× vs one md5 per seed — hashing IS the
    * signature job's hot loop at corpus scale — while keeping band
    * collision rates at the independent-family level (measured at
    * sf0.1: 1216 candidate pairs vs 1298 with 16 independent md5s;
    * a Kirsch–Mitzenmacher a+i·b family was rejected for exactly this —
    * its linearly-correlated minimizers inflated candidates 12×).
    * c_i < 2^15 keeps c_i·h < 2^63: no overflow in Spark OR in the
    * DuckDB oracle's strict BIGINT arithmetic. md5 (not xxhash64) so
    * the oracle reproduces the selections bit-for-bit.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int): DataFrame = {
    // ONE groupBy(id) produces the whole signature and the shingle
    // count — the only shuffle of shingle data in the plan (map-side
    // partials; everything downstream is per-doc rows)
    val groups = (numHashes + 15) / 16
    val sh0 = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleSize)).as("sh"))
    // 48-bit md5 prefix via the codegen'd digest kernel (r21): the old
    // conv(substring(md5(...)))::long composite paid a hex encode + a
    // NumberConverter hex→decimal-string conversion PER SHINGLE — the
    // dedup family's hottest loop; same value bit-for-bit (oracle SQL
    // unchanged)
    val sh = (0 until groups).foldLeft(sh0) { (df, g) =>
      df.withColumn(s"hg$g",
        graft.functions.Md5PrefixLong(concat(lit(s"$g:"), col("sh")), 6))
    }
    val sigAggs = (0 until numHashes).map { s =>
      min((lit(MinhashMultipliers(s % 16)) * col(s"hg${s / 16}")) % lit(MinhashMod)).as(s"h$s")
    } :+ count(lit(1)).as("n")
    sh.groupBy("id").agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** 16 odd (prime) multipliers < 2^15 for the per-block MinHash
    * bijections; odd ⇒ invertible mod 2^48, < 2^15 ⇒ c·h fits a signed
    * 64-bit product for 48-bit h on both engines.
    */
  private[graft] val MinhashMultipliers: Array[Long] = Array(
    32749L, 32719L, 32717L, 32713L, 32707L, 32693L, 32687L, 32653L,
    32647L, 32633L, 32621L, 32611L, 32609L, 32603L, 32587L, 32579L)

  /** 2^48 — the bijection modulus matching the 12-hex-char base hash. */
  private[graft] val MinhashMod: Long = 1L << 48

  /** Exploded (id, band-key) rows from a signature frame — the single
    * source of the band md5 construction for the self-join, the
    * incremental probe, and the oracle generators.
    */
  private def bandKeysOf(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val keys = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat(lit(s"$b:"), concat_ws(",", slice: _*)).cast("binary"))
    }
    sig.select(col("id"), explode(array(keys: _*)).as("band"))
  }

  /** Incremental near-dup filter: drop NEW documents that near-duplicate
    * anything in the EXISTING corpus — the production dedup shape (a
    * daily batch probes the corpus index; the corpus never re-pairs with
    * itself). Band-bucketed like the self-join: candidates form only
    * where a new doc's band key hits a corpus bucket (capped), then
    * exact Jaccard verifies. Returns the surviving new docs.
    */
  def nearDupAgainstCorpus(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.2,
      maxBucket: Int = 1000): DataFrame = {
    // convenience form: builds both (slim) signature frames in-job. The
    // production path precomputes the CORPUS signatures once with
    // [[minhashSignatures]], stores them, and calls
    // [[nearDupAgainstSignatures]] per batch so index persistence stays
    // under the caller's control.
    val sigNew = minhashSignatures(newDocs, idCol, textCol, shingleSize, numHashes)
    val sigCorp = minhashSignatures(corpus, idCol, textCol, shingleSize, numHashes)
    nearDupAgainstSignatures(
      newDocs, corpus, sigNew, sigCorp, idCol, textCol,
      shingleSize, numHashes, bands, threshold, maxBucket)
  }

  /** The corpus signature index reorganized for STREAM-side probing —
    * (band, members array<struct<id, bkeys>>): one row per band key,
    * members carrying their PRECOMPUTED `bands`-long band-key array so
    * a probing row can read any member band key with an array lookup
    * (the emit-once dedup in
    * [[graft.streaming.StreamingOps.nearDupMatchesStream]] needs the
    * first SHARED band without an aggregation). bkeys are paid once
    * per member at BUILD time — the r14 century measurement caught the
    * previous harr schema recomputing 8 md5s per CANDIDATE per
    * micro-batch, a per-trigger tax proportional to candidate count.
    * Same [[graft.functions.BoundedCollectList]] bucket cap. Build
    * once per index version and persist — pre-partitioned and sorted
    * on `band` (see the stream op's serving recipe); the stream-static
    * join re-reads it every micro-batch.
    */
  def signatureBandIndex(
      sig: DataFrame,
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    val keys = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      md5(concat(lit(s"$b:"), concat_ws(",", slice: _*)).cast("binary"))
    }
    bucketMembers(
      bandKeysOf(sig, bands, rowsPerBand)
        .join(sig.select(col("id"), array(keys: _*).as("bkeys")), Seq("id")),
      struct(col("id"), col("bkeys")), maxBucket, "members")
  }

  /** Core incremental filter over PREBUILT signature frames (see
    * [[minhashSignatures]] for the slim h0..h{n-1}+count schema). The
    * doc frames are needed too: exact-Jaccard verification recomputes
    * shingle text for the LSH-bounded candidate ids (the stored index
    * carries hashes only — at 100 TB the candidate fetch is a pruned
    * semi-join against the corpus store, not a 3×-corpus-sized persisted
    * shingle column). No caching decisions here — the caller owns the
    * persistence of its index.
    */
  def nearDupAgainstSignatures(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      sigNew: DataFrame,
      sigCorp: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.2,
      maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // single-member corpus buckets stay valid probe targets (the pair
    // forms against the NEW side, not in-bucket) — bucketMembers keeps
    // every sub-cap bucket, so no minBucket parameter is needed here
    val corpBuckets = bucketMembers(
      bandKeysOf(sigCorp, bands, rowsPerBand), col("id"), maxBucket, "ids")
    // persisted: the candidate list feeds both verify-side semi-joins
    // and the final pair join — LSH-bounded, tiny next to the corpus;
    // CacheScope-registered so the query driver can release it
    val candidates = graft.ops.CacheScope.persisted(bandKeysOf(sigNew, bands, rowsPerBand)
      .join(corpBuckets, Seq("band"))
      .select(col("id").as("new_id"), explode(col("ids")).as("corp_id"))
      .distinct())
    val dupNewIds = candidates
      .join(candidateShingleSets(newDocs, idCol, textCol, shingleSize,
        candidates.select(col("new_id").as("id")), "new_id", "sha"), Seq("new_id"))
      .join(candidateShingleSets(corpusDocs, idCol, textCol, shingleSize,
        candidates.select(col("corp_id").as("id")), "corp_id", "shb"), Seq("corp_id"))
      .withColumn("ni", size(array_intersect(col("sha"), col("shb"))))
      .filter(col("ni").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("ni")).cast("double") >= threshold)
      .select(col("new_id").as(idCol))
      .distinct()
    newDocs.join(dupNewIds, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup PAIR list — the cluster-
    * formation step a dedup pipeline needs after LSH/Jaccard pairs:
    * pairs chain (a~b, b~c => {a,b,c}) and each cluster keeps one
    * representative.
    *
    * Min-label propagation: every node starts as its own label; each
    * round a node takes the minimum label among itself and its
    * neighbors. Converges in O(cluster diameter) rounds — near-dup
    * clusters are shallow (pairs come from a similarity threshold, so
    * components are cliques-ish with tiny diameter), which makes this
    * the right scale shape: each round is one shuffle join + min-agg
    * over the pair list, all distributed; the driver only runs the
    * convergence check. (For adversarial billion-edge long-chain graphs
    * use the alternating small-star/large-star formulation instead.)
    *
    * @return (id, rep) — one row per node that appears in `pairs`, with
    *         the component's minimum id as representative
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 15,
      driverThreshold: Long = 2000000L): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    // size switch (same design as Closure/Fixpoint): a pair list that
    // fits the driver resolves in one union-find pass instead of paying
    // per-round distributed scheduling; huge pair lists (near-dup sweeps
    // over billions of docs) take the propagation rounds below
    if (edges.count() <= driverThreshold) {
      val out = driverComponents(edges)
      edges.unpersist()
      return out
    }
    // Per-round frames are re-rooted on their own locally-checkpointed
    // RDD rather than plain-persisted. A persisted round still EMBEDS
    // the previous round's full plan (and references it twice — join +
    // union), so driver plan bookkeeping walks 2^rounds paths and task
    // serialization recurses the whole lineage chain: measured as a
    // driver OOM at ~30 rounds on a 3M-edge chain graph (Profile
    // ccdeep) — data that is trivially small. The checkpoint cut makes
    // every round's plan a LogicalRDD leaf and truncates lineage at the
    // round's convergence action, so cost per round is flat in the
    // round number. Superseded round RDDs are unpersisted as soon as
    // the next round materializes; the final one is registered for the
    // query driver's CacheScope release.
    val spark = pairs.sparkSession
    def cutRound(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val r = df.rdd
      r.localCheckpoint()
      (spark.createDataFrame(r, df.schema), r)
    }
    // initialization FUSED with propagation round 1: every node of the
    // symmetric edge list appears as src, so one groupBy yields
    // rep = min(self, direct neighbors) — the state after the first
    // round — for the cost of the node-distinct shuffle alone
    var (labels, labelsRdd) = cutRound(edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("rep")))
    // Convergence detection: labels are MONOTONE (a node's rep only ever
    // decreases), so for numeric ids the rounds have converged exactly
    // when Σrep stops falling — one cheap aggregation over the persisted
    // next frame (which also materializes it), vs a whole node-sized
    // join per round for the type-generic changed-rows check (kept as
    // the fallback for string ids). decimal(38,0) so a 100 TB id space
    // can't overflow the sum. INTEGRAL types only: fractional ids
    // (Double/Float/scaled Decimal) would truncate under the
    // decimal(38,0) cast, so a sub-1.0 total label decrease could leave
    // the sum unchanged and exit propagation early — those fall back to
    // the exact changed-rows check.
    val numericIds = edges.schema.fields.head.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => false
    }
    // seed the sum with the fused-init state (the same aggregation also
    // materializes the persisted labels), so a graph that converges at
    // init (stars) exits after ONE confirming loop round
    var prevSum: java.math.BigDecimal =
      if (numericIds) labels.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
      else null
    var round = 0
    var changed = true
    while (changed) {
      if (round >= maxRounds) {
        // don't leak the live round / edge caches on the failure path
        labelsRdd.unpersist(blocking = false)
        edges.unpersist(blocking = false)
        throw new IllegalStateException(
          s"components did not converge after $maxRounds rounds (pathological chain?)")
      }
      // one round = ONE join (edge relabel) + ONE min-agg over the
      // union with the current labels: "take the min of yourself and
      // your neighbors" without a second node-sized join back (the
      // earlier neighborMin⋈labels formulation paid an extra shuffle
      // stage per round — pure latency at dim scale, pure cost at 100 TB)
      val (next, nextRdd) = cutRound(edges
        .join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("rep"))
        .unionByName(labels)
        .groupBy("id")
        .agg(min(col("rep")).as("rep")))
      if (numericIds) {
        val s = next.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
        changed = s != null && (prevSum == null || s.compareTo(prevSum) != 0)
        prevSum = s
      } else {
        changed = next.join(labels.withColumnRenamed("rep", "old_rep"), Seq("id"))
          .filter(col("rep") =!= col("old_rep"))
          .limit(1)
          .count() > 0
      }
      // next is materialized by the convergence action above, so the
      // superseded round's blocks can go now
      labelsRdd.unpersist(blocking = false)
      labels = next
      labelsRdd = nextRdd
      round += 1
    }
    edges.unpersist()
    // returned frame scans the cached final-round RDD; released by the
    // query driver's CacheScope (terminal — see registerRdd's caveat)
    graft.ops.CacheScope.registerRdd(labelsRdd)
    labels
  }

  /** Driver union-find with path compression for dim-sized pair lists;
    * representatives are the component minimum, matching the
    * distributed path exactly.
    */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val pairs = edges.collect().map(r => (r.get(0), r.get(1)))
    val parent = new scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) {
        val nxt = parent.getOrElse(cur, cur); parent(cur) = root; cur = nxt
      }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val byRoot = parent.keysIterator.toSeq.groupBy(find)
    val rows = byRoot.valuesIterator.flatMap { members =>
      val rep = members.min(OrderingForAny)
      members.iterator.map(m => org.apache.spark.sql.Row(m, rep))
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      edges.schema.fields.head.copy(name = "id"),
      edges.schema.fields.head.copy(name = "rep")))
    graft.ops.DriverDim.toDF(spark, rows, schema)
  }

  /** Min ordering over the id types that appear in pair lists (numeric
    * or string ids) — mirrors the distributed path's `min(rep)`.
    */
  private val OrderingForAny: Ordering[Any] = new Ordering[Any] {
    def compare(x: Any, y: Any): Int = (x, y) match {
      case (a: Long, b: Long) => java.lang.Long.compare(a, b)
      case (a: Int, b: Int) => Integer.compare(a, b)
      case (a: Number, b: Number) => java.lang.Double.compare(a.doubleValue(), b.doubleValue())
      case (a: String, b: String) => a.compareTo(b)
      case (a, b) => a.toString.compareTo(b.toString)
    }
  }

  /** Keep one representative document per near-dup cluster: drop every
    * clustered doc whose id is not its component's minimum. Docs that
    * appear in no pair pass through untouched (left anti on the
    * non-representative set only).
    */
  def dedupByCluster(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Canonical-source selection within near-dup clusters — the
    * priority-aware form of [[dedupByCluster]]: among each connected
    * component's members the survivor is the one minimizing
    * (priority, id) — e.g. "keep the curated-source copy, drop the
    * crawl copies" (smaller priority = more trusted). Members absent
    * from `pairs` are singleton clusters and always survive.
    *
    * The argmin is deliberately TWO hash aggregations (min priority per
    * cluster, then min id among members at that priority) instead of a
    * `min(struct(priority, id))` — struct-buffer aggs demote to
    * SortAggregate (the ArgMaxTieMin lesson), and a packed single-long
    * encoding would cap the id space; the two-agg form stays map-side
    * partial everywhere and survives any 100 TB id/priority domain.
    *
    * Returns the kept rows of `docs`, original columns unchanged.
    */
  def dedupByClusterPriority(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      priorityCol: String,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    dedupByClusterPriorityWithReps(
      docs,
      connectedComponents(pairs, aCol, bCol).select(col("id").as(idCol), col("rep")),
      idCol, priorityCol)

  /** [[dedupByClusterPriority]] over PRE-COMPUTED cluster representatives
    * (`reps` = (idCol, rep), the [[connectedComponents]] output) — for
    * composites that consume the same clustering more than once
    * ([[Curation.pretrainCurate]] shares one CC pass between the dedup
    * and the leakage-safe split instead of running it twice).
    */
  def dedupByClusterPriorityWithReps(
      docs: DataFrame,
      reps: DataFrame,
      idCol: String,
      priorityCol: String): DataFrame = {
    val comps = reps.select(col(idCol), col("rep"))
    val withRep = docs.select(col(idCol), col(priorityCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol), col(priorityCol),
        coalesce(col("rep"), col(idCol)).as("rep"))
    val minPrio = withRep.groupBy("rep")
      .agg(min(col(priorityCol)).as("best_prio"))
    val keep = withRep
      .join(minPrio, Seq("rep"))
      .filter(col(priorityCol) <=> col("best_prio"))
      .groupBy("rep")
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** SimHash near-dup candidate groups: documents sharing the same
    * simhash band (4 x 16-bit bands => hamming distance <= 3 candidates
    * land in at least one common band with high probability).
    */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = TextStats.simhash64(col(textCol))
    val bandedDocs = docs
      .select(col(idCol).as("id"), sh.as("simhash"))
      .withColumn(
        "band",
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band_idx"),
            shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("band_val"))
        }: _*)))
    bandedDocs
      .groupBy("band")
      .agg(array_sort(collect_set(col("id"))).as("ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  /** Benchmark decontamination — the training-data hygiene staple: flag
    * corpus documents that share any word `n`-gram with a benchmark /
    * eval set, so evaluation text can be removed from the training mix.
    *
    * Scale shape: the benchmark side is tiny next to the corpus, so its
    * distinct gram set BROADCASTS; the 100 TB corpus side shingles
    * per-row (codegen'd [[shingles]] loop, no shuffle) and probes the
    * broadcast — only matched (id, gram) rows reach the per-doc count
    * aggregation. Nothing corpus-sized ever shuffles on gram.
    *
    * Returns one row per contaminated corpus doc: (idCol, n_hits) where
    * n_hits = number of DISTINCT benchmark grams the doc contains
    * ([[graft.functions.WordShingles]] dedups per document).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    def grams(df: DataFrame) =
      df.select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
    val bench = broadcast(grams(benchmark).select("gram").distinct())
    grams(corpus)
      .join(bench, Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[decontaminate]]'s big-benchmark twin — SAME results, different
    * regime. `decontaminate` broadcasts the exact benchmark gram set;
    * past a few hundred MB of distinct grams (a 100 TB run
    * decontaminating against a large held-out suite) that broadcast
    * kills the driver. Here the benchmark compresses to a fixed-size
    * Bloom filter (`spark.util.sketch.BloomFilter`, built by Spark's
    * distributed `stat.bloomFilter` aggregation — never collected as
    * rows), the corpus grams prefilter against the broadcast sketch,
    * and only the survivors — true matches + the `fpp` false-positive
    * sliver — reach an EXACT shuffled semi-join that removes the false
    * positives. Bloom filters have no false negatives, so the output is
    * bit-identical to [[decontaminate]] (DecontaminateBloomSpec pins
    * equality; the driver gate shares q68's oracle).
    *
    * Cost model vs `decontaminate`: driver/executor memory drops from
    * O(distinct benchmark grams) to O(bits(expectedItems, fpp)); the
    * price is one shuffle of ~(matches + fpp · corpus grams) slim rows
    * for the verify join. At fpp = 1e-2 that shuffle is ~1% of corpus
    * gram volume — linear, skew-free (gram keys), AQE-coalesced.
    * The `mightContain` probe is the one sanctioned UDF boundary: the
    * sketch lives in a broadcast, outside Catalyst's expression reach.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    def grams(df: DataFrame) =
      df.select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
    val bench = grams(benchmark).select("gram").distinct()
    val bf = bench.stat.bloomFilter("gram", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => g != null && bc.value.mightContainString(g))
    grams(corpus)
      .filter(mightContain(col("gram")))
      .join(bench, Seq("gram"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Cross-document duplicated-span stats — substring-level exact-dup
    * signal after "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022): for each document, how many of its
    * `spanTokens`-token sliding windows (overlapping, stride 1 — vs
    * [[graft.scale.TextStats.boilerplateLines]]'s disjoint blocks) also
    * occur in at least `minDocs` distinct documents. Returns
    * (id, n_spans, n_dup_spans); docs shorter than `spanTokens` tokens
    * report 0/0. Downstream policy (drop doc / cut span) is the
    * caller's.
    *
    * Scale shape: the window explode is inherent (one row per token
    * position, like the line explode in boilerplateLines), but the
    * shuffled payload is the slim (xxhash64(span), id) pair — span TEXT
    * never shuffles. The index groupBy and the membership join
    * hash-partition on the same key, and the per-doc rollup is one more
    * slim doc-id shuffle. The 8-byte hash stands in for span identity;
    * collision odds ~ n_spans² / 2⁶⁴ stay vanishing at any corpus size
    * where the count statistic means anything.
    */
  def duplicatedSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val spans = docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("t"))
      .select(col(idCol), explode(expr(
        s"case when size(t) >= $spanTokens then " +
          s"transform(sequence(0, size(t) - $spanTokens), " +
          s"i -> xxhash64(array_join(slice(t, i + 1, $spanTokens), ' '))) " +
          s"else cast(array() as array<bigint>) end"))
        .as("span_h"))
    val idx = spans.groupBy("span_h")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span_h"), lit(1).as("is_dup"))
    val per = spans.join(idx, Seq("span_h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_dup"), lit(0))).cast("long").as("n_dup_spans"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** The ACTION [[duplicatedSpanStats]]'s numbers point at — Lee et al.
    * 2022's actual dedup step: REWRITE each document with every token
    * that falls inside a cross-document duplicated span removed (a
    * token at position p is cut iff some duplicated `spanTokens`-window
    * start i has i <= p <= i + spanTokens - 1). Returns
    * (id, n_tokens, n_kept, clean_text); documents with no duplicated
    * span pass through whole, a fully-duplicated document collapses to
    * the empty string (the caller's drop policy, not ours).
    *
    * Scale shape: the span index build and membership probe are exactly
    * [[duplicatedSpanStats]]'s (slim (xxhash64, id) shuffles, span text
    * never rides). The new piece is the rewrite: duplicated span STARTS
    * collect per document (bounded by the doc's own span count — a
    * per-doc array, never corpus-sized), broadcast-join back to the
    * doc row, and a codegen'd HOF filter drops covered positions in one
    * pass over the token array. No position ever explodes into the
    * shuffle: coverage is evaluated doc-locally against the starts
    * array.
    */
  def cutDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val spans = docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("t"))
      .select(col(idCol), explode(expr(
        s"case when size(t) >= $spanTokens then " +
          s"transform(sequence(0, size(t) - $spanTokens), " +
          s"i -> struct(i as i, xxhash64(array_join(slice(t, i + 1, $spanTokens), ' ')) as h)) " +
          s"else cast(array() as array<struct<i:int,h:bigint>>) end"))
        .as("sp"))
      .select(col(idCol), col("sp.i").as("i"), col("sp.h").as("span_h"))
    val idx = spans.groupBy("span_h")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("span_h")
    val dupStarts = spans
      .join(idx, Seq("span_h"), "left_semi")
      .groupBy(idCol)
      .agg(collect_list(col("i")).as("starts"))
    docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("t"))
      .join(dupStarts, Seq(idCol), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", expr(
        s"filter(transform(t, (x, p) -> struct(x as x, p as p)), " +
          s"s -> !exists(starts, d -> s.p >= d and s.p <= d + ${spanTokens - 1}))"))
      .select(
        col(idCol),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("array_join(transform(kept, s -> s.x), ' ')").as("clean_text"))
  }

  /** Measured LSH pair RECALL on a deterministic document sample — the
    * observability surface for the approximate-dedup trade-off: every
    * LSH parameterization (bands × rows-per-band, bucket cap) trades
    * recall for bounded work, and this report measures that trade ON
    * THE CALLER'S OWN CORPUS instead of trusting the banding math's
    * uniformity assumptions.
    *
    * Ground truth on the sample is EXACT Jaccard via the blocked
    * shingle equi-join ([[ngramJaccardJoin]] with a single constant
    * block): cost is shingle-collision pairs, never sample², and any
    * pair at jaccard ≥ threshold > 0 shares a shingle, so no true pair
    * is missed. The LSH side is [[minhashPairsExact]] with the SAME
    * shingle/signature construction, so its verified pairs are a
    * subset of the truth set and recall ≤ 1. The sample is an md5
    * permille bucket of the id ([[TextStats.hashBucket]] — the q53/q100
    * scheme), so reruns and engines agree on the exact document set.
    *
    * Returns ONE row: (n_docs, n_true_pairs, n_lsh_pairs,
    * recall_milli) with recall_milli = n_lsh·1000 div n_true
    * (truncating; 1000 when the sample has no true pair — vacuous
    * recall). Integer output keeps the report oracle-portable.
    *
    * Scale shape: both pair pipelines run on the sample only (a
    * permille knob bounds absolute cost on any corpus), the three
    * 1-row aggregates combine via broadcast nested-loop joins, and
    * nothing corpus-sized reaches the driver.
    */
  def recallReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.2,
      maxBucket: Int = 1000,
      samplePermille: Int = 1000): DataFrame = {
    require(samplePermille > 0 && samplePermille <= 1000,
      s"samplePermille must be in (0, 1000], got $samplePermille")
    val sample =
      if (samplePermille >= 1000) docs
      else docs.filter(
        TextStats.hashBucket(col(idCol).cast("string"), 1000) < samplePermille)
    val truth = ngramJaccardJoin(
      sample, idCol, textCol, Seq(lit(1)), shingleSize, threshold)
    val lsh = minhashPairsExact(
      sample, idCol, textCol, shingleSize, numHashes, bands, threshold, maxBucket)
    sample.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true_pairs"))))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh_pairs"))))
      .withColumn("recall_milli",
        when(col("n_true_pairs") === 0L, lit(1000L))
          .otherwise(expr("n_lsh_pairs * 1000 div n_true_pairs")))
  }

  /** The recall-vs-cost FRONTIER for the banding knob: [[recallReport]]
    * at each bands value in `bandsList`, one row per knob setting —
    * (bands, n_docs, n_true_pairs, n_lsh_pairs, recall_milli). With
    * numHashes fixed, more bands = shorter band slices = more candidate
    * buckets, so recall is monotone non-decreasing along the sweep
    * (`ScaleSpec` pins the law); the cost side is the candidate-pair
    * count each setting admits (n_lsh_pairs IS the verify-join size) —
    * together they make the log2(N)-bands production rule demonstrable
    * on any corpus instead of asserted in scaladoc. Wall-clock per
    * setting was measured by a since-deleted `Profile frontier` mode
    * (timing is a driver concern, not a frame column).
    */
  def recallSweep(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bandsList: Seq[Int] = Seq(2, 4, 8, 16),
      threshold: Double = 0.2,
      maxBucket: Int = 1000,
      samplePermille: Int = 1000): DataFrame = {
    require(bandsList.nonEmpty, "bandsList must be non-empty")
    bandsList.map { b =>
      recallReport(docs, idCol, textCol, shingleSize, numHashes, b,
        threshold, maxBucket, samplePermille)
        .select(lit(b.toLong).as("bands"), col("n_docs"),
          col("n_true_pairs"), col("n_lsh_pairs"), col("recall_milli"))
    }.reduce(_.unionByName(_))
  }

  /** Corpus-level overlap ESTIMATE between two corpora via a bottom-k
    * gram sketch (Broder 1997's min-wise estimator in its bottom-k
    * form, Cohen & Kaplan 2007) — "how much does crawl B overlap crawl
    * A" answered WITHOUT any pairwise document join: each corpus
    * reduces to its distinct shingle-hash set, the k smallest hashes of
    * the UNION are a uniform sample of it, and the fraction of that
    * sample present in both corpora estimates gram-level Jaccard.
    *
    * Hashes are the 48-bit md5 prefix (`conv(substr(md5, 1, 12))` —
    * the [[graft.functions.CmsSketch.md5Base48]] idiom), so the DuckDB
    * oracle reproduces the exact sample and the report is
    * deterministic, not probabilistic-in-the-engine (the ESTIMATE's
    * error is statistical in k, but both engines compute the identical
    * estimate).
    *
    * Returns ONE row: (n_grams_a, n_grams_b, k_used, n_both,
    * jaccard_milli) with jaccard_milli = 1000·n_both div k_used.
    *
    * Scale shape: per-corpus distinct-gram aggs are map-side-partial
    * hash aggs over slim (hash) longs; the bottom-k cut is a
    * TakeOrderedAndProject (k driver-sized rows, never a global sort);
    * the three 1-row/k-row frames combine via broadcast joins. Nothing
    * corpus-sized reaches the driver, and the sketch cost is
    * independent of corpus skew.
    */
  def corpusOverlapEstimate(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 256): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def gramHashes(df: DataFrame): DataFrame =
      df.select(explode(shingles(col(textCol), shingleSize)).as("g"))
        .select(graft.functions.Md5PrefixLong(col("g"), 6).as("h"))
        .distinct()
    val ha = gramHashes(a)
    val hb = gramHashes(b)
    val u = ha.select(col("h"), lit(1L).as("a"), lit(0L).as("b"))
      .unionByName(hb.select(col("h"), lit(0L).as("a"), lit(1L).as("b")))
      .groupBy("h").agg(max("a").as("in_a"), max("b").as("in_b"))
    val bk = u.orderBy(col("h").asc).limit(k)
    ha.agg(count(lit(1)).as("n_grams_a"))
      .crossJoin(broadcast(hb.agg(count(lit(1)).as("n_grams_b"))))
      .crossJoin(broadcast(bk.agg(
        count(lit(1)).as("k_used"),
        sum(col("in_a") * col("in_b")).as("n_both"))))
      .withColumn("jaccard_milli", expr("1000 * n_both div k_used"))
  }
}
