package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArgMaxTieMin, DotProduct}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data curation at scale.
  *
  * Baseline: brute-force cosine top-k for a (small, broadcast) probe set
  * — probes x corpus pairs, map-side math, one shuffle to rank per probe.
  * Scale path: hyperplane-LSH bucketing — each vector gets a signature
  * from the signs of dot products with deterministic pseudo-random
  * hyperplanes; probes only compare against their own bucket, so the
  * pair count drops from |P|x|N| to |P|x|bucket|.
  *
  * All vector math runs through the codegen'd [[DotProduct]] expression
  * (sequential double accumulation — bit-stable across engines and
  * runs); norms are computed ONCE per vector before the pair join, so
  * per-pair work is a single fused dot-product loop.
  */
object Similarity {

  /** Sequential double dot product (codegen'd — see [[DotProduct]]). */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(DotProduct(a, a))

  /** Cosine of two raw vectors. Prefer the precomputed-norm path in
    * joins (see bruteForceTopK) — this recomputes both norms per call.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k: for each probe vector, the k nearest
    * corpus vectors (excluding itself). Probes must be small enough to
    * broadcast; corpus streams map-side. Ranking ties break on neighbor
    * id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val p = broadcast(
      probes.select(
        col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("probe_vec"))
        .withColumn("probe_norm", l2Norm(col("probe_vec"))))
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("neighbor_vec"))
      .withColumn("neighbor_norm", l2Norm(col("neighbor_vec")))
    val pairs = c
      .join(p, col("neighbor_id") =!= col("probe_id"))
      .withColumn(
        "cos",
        dot(col("probe_vec"), col("neighbor_vec")) /
          (col("probe_norm") * col("neighbor_norm")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cos")
  }

  // === hyperplane LSH ========================================================

  /** Deterministic pseudo-random hyperplane weights: md5-derived dyadic
    * rationals in [-1, 1). weight(plane, dim) = (first 4 hex nibbles of
    * md5("plane:dim") - 32768) / 32768. Being k/2^15 they are exactly
    * representable as doubles, so a SQL engine parsing the decimal
    * literal reconstructs the identical bits — the signatures are
    * engine-portable (the DuckDB oracle embeds the same literals).
    */
  def planeWeights(numPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dims).map { d =>
        md.reset()
        val h = md.digest(s"$p:$d".getBytes("UTF-8"))
        val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
        (v - 32768) / 32768.0
      }
    }
  }

  /** Sign-of-hyperplane signature as a '0'/'1' string (one char per
    * plane) — a single fused codegen expression
    * ([[graft.functions.PlaneSignature]]): the earlier per-plane
    * `concat(when(DotProduct(...)...))` composite fell out of codegen
    * past ~100 planes (generated method too large) and went interpreted,
    * costing 35x at the 160-plane production parameterization.
    */
  def planeSignature(vec: Column, weights: Seq[Seq[Double]]): Column =
    graft.functions.PlaneSignature(vec, weights)

  /** LSH-bucketed cosine top-k: corpus and probes are bucketed by
    * hyperplane-sign signature; candidate pairs only form inside a
    * bucket, dropping the pair count from |P|x|N| to |P|x|bucket|.
    * Recall < 1 by construction (ANN); increase recall by lowering
    * `numPlanes` (bigger buckets) or probing multi-bit neighborhoods.
    *
    * PARAMETERIZE FOR THE CORPUS (the [[cosineNearDupPairs]] law in its
    * per-probe form): expected candidate work is |P| * N / 2^numPlanes,
    * so `numPlanes` must grow with log2(N) to keep per-probe scoring
    * bounded — 8 planes = 256 buckets is fixture-sized; a 10^9-vector
    * corpus wants 20+ planes (or IVF, [[ivfTopK]], whose list count
    * plays the same role explicitly).
    */
  def lshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 8,
      dims: Int = 64): DataFrame = {
    val w = planeWeights(numPlanes, dims)
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("neighbor_vec"))
      .withColumn("bucket", planeSignature(col("neighbor_vec"), w))
      .withColumn("neighbor_norm", l2Norm(col("neighbor_vec")))
    val p = broadcast(
      probes.select(
        col(idCol).as("probe_id"),
        col(vecCol).cast("array<double>").as("probe_vec"))
        .withColumn("bucket", planeSignature(col("probe_vec"), w))
        .withColumn("probe_norm", l2Norm(col("probe_vec"))))
    val pairs = c
      .join(p, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn(
        "cos",
        dot(col("probe_vec"), col("neighbor_vec")) /
          (col("probe_norm") * col("neighbor_norm")))
    val win = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cos")
  }

  /** Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH —
    * the symmetric (self-join) counterpart of [[lshTopK]], and the plan
    * that replaces an all-pairs cartesian: vectors are signed against
    * `numPlanes` hyperplanes once, the signature splits into `bands`
    * contiguous slices, and candidate pairs form ONLY where two vectors
    * share a band slice (equi-join on the band key — sum(bucket²) pairs,
    * never |N|²). Banding OR-amplifies recall: a pair is a candidate if
    * ANY band matches, so near-identical vectors (the near-dup regime)
    * are caught with probability 1 − (1 − p^r)^b, ≈ 1 for high cosine.
    * Exact cosine then verifies every candidate, so precision is exact;
    * recall < 1 by construction (ANN) — raise `bands`/lower `numPlanes`
    * to trade compute for recall.
    *
    * Scale shape: only (band, id) rows go through the band shuffle; the
    * persisted signature frame is one row per vector (the vector itself,
    * its norm, its signature — ~1× the input, no blow-up), and vectors
    * re-join by id for the LSH-bounded candidate set only.
    *
    * PARAMETERIZE FOR THE CORPUS: each band has 2^(numPlanes/bands)
    * buckets, and candidate work is sum(bucket²) — if the band space is
    * much smaller than N, every bucket holds ~N/2^r vectors and
    * candidates go QUADRATIC (measured: the oracle's 3-bit bands cost
    * 10× more wall-clock per 10× corpus with ZERO matching pairs).
    * Grow bits-per-band with log2(N) (e.g. 16 bits for 10^6+ vectors)
    * and add bands to recover recall. `maxBucket` is the guardrail for
    * an underparameterized call: oversized buckets (band space
    * exhausted) are DROPPED — bounded work, documented recall loss —
    * exactly the [[Dedup]] family's contract.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 16,
      bands: Int = 8,
      dims: Int = 64,
      maxBucket: Int = 1000): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val rowsPerBand = numPlanes / bands
    val w = planeWeights(numPlanes, dims)
    // three consumers (banding + both sides of the vector re-join) —
    // persist the one-row-per-vector frame instead of recomputing the
    // 16 signature dot products per consumer; CacheScope-registered so
    // the query driver can release it once the result materializes
    val sig = graft.ops.CacheScope.persisted(emb
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("sig", planeSignature(col("v"), w))
      .withColumn("norm", l2Norm(col("v"))))
    val banded = sig.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band_idx"),
          substring(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("band_sig"))
      }: _*)).as("band"))
      .select(col("id"), col("band.band_idx").as("band_idx"), col("band.band_sig").as("band_sig"))
    // buckets past the cap drop whole (they signal an exhausted band
    // space, where emitting bucket² pairs is the quadratic failure mode
    // this cap exists for) — and the prune happens BEFORE collect_list,
    // via a count aggregation with map-side partials, so an oversized
    // bucket never materializes ~N/2^r ids in one aggregation buffer.
    // The join and the collect_list hash-partition on the same
    // (band_idx, band_sig) key, so the prune costs one slim count agg,
    // not an extra full shuffle of the banded frame. With the cap
    // DISABLED (the oracle 1:1 shape) the prune would only drop
    // singleton buckets — which yield no pairs downstream anyway — so
    // its exchanges are skipped entirely.
    val pruned =
      if (maxBucket == Int.MaxValue) banded
      else {
        val bucketOk = banded.groupBy("band_idx", "band_sig").count()
          .filter(col("count").between(2, maxBucket))
          .select("band_idx", "band_sig")
        banded.join(bucketOk, Seq("band_idx", "band_sig"))
      }
    val candidates = pruned
      .groupBy("band_idx", "band_sig")
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    candidates
      .join(sig.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb")), Seq("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
  }

  /** IVF (inverted-file) ANN: the other classic scale path next to LSH.
    *
    * Coarse quantizer = corpus vectors whose id is divisible by
    * `centroidStride` — deterministic, oracle-portable, and picked with
    * a plain FILTER: no global sort/window and no driver-side count()
    * (the earlier formulation funneled the whole corpus through ONE
    * task's unpartitioned window to rank ids). Callers size the stride
    * so corpus/stride lands near the desired list count. Index build =
    * one argmax AGGREGATION per vector (map-side partial, no |N|·nlist
    * rows through an exchange). Search = rank centroids per probe, take
    * the `nprobe` nearest lists, and only score candidates inside those
    * lists — the scored set shrinks from |N| to ~|N|·nprobe/nlist per
    * probe. Recall < 1 by construction; raise `nprobe` to trade compute
    * for recall.
    *
    * CONTRACT: ids must be NUMERIC (the centroid tie-break negates them)
    * and `centroidStride` must divide some corpus ids — dense or
    * hash-assigned id spaces qualify; with sparse ids pick a stride that
    * provably hits (an empty quantizer yields an empty result, the same
    * contract as an unfitted index).
    */
  /** Sentinel default for `centroidStride`: resolve it from the corpus
    * via [[sqrtNStride]] (the nlist ≈ √N law) instead of a fixed value.
    */
  val AutoStride: Long = 0L

  /** The nlist ≈ √N parameterization, made automatic. With nlist lists
    * the IVF/SemDeDup cost is assignment ~N·nlist plus within-list work
    * ~N²/nlist, minimized at nlist ≈ √N (total ~N^1.5); a FIXED stride
    * instead makes nlist ∝ N and the assignment term quadratic (the
    * 10× bench measured exactly that regime on the old default). On the
    * dense or hash-assigned id spaces the stride-quantizer contract
    * already requires, multiples of `s` in [0, N) number ~N/s, so
    * s = N / round(√N) ≈ √N lands nlist at ~√N. The only driver action
    * is one count() over the pruned id column — against a parquet
    * source this is a metadata-cheap scan, and it runs once at plan
    * construction, not per stage.
    */
  def sqrtNStride(corpus: DataFrame, idCol: String): Long = {
    val n = corpus.select(col(idCol)).count()
    if (n <= 1L) 1L
    else math.max(1L, n / math.max(1L, math.round(math.sqrt(n.toDouble))))
  }

  /** Auto-stride resolution with a NON-EMPTY guarantee: one aggregation
    * derives the √N stride AND the corpus minimum id, and the auto path
    * selects centroids in the min-id RESIDUE CLASS —
    * `pmod(id − min_id, stride) = 0` — instead of residue 0. On the
    * dense 0-based id spaces the stride contract describes, min_id = 0
    * and the selection is identical to the fixed-stride form; on sparse
    * or offset id spaces (where residue 0 can be unpopulated and the
    * old auto path silently built an EMPTY quantizer → empty results)
    * the anchor itself always qualifies, so the centroid frame is never
    * empty. NOTE: this makes auto-stride construction EAGER — one
    * count+min aggregation job runs when the operator frame is built
    * (metadata-cheap against a parquet source). Pass an explicit stride
    * for fully lazy construction / an oracle-reproducible fixed shape.
    */
  private def autoStrideAnchor(corpus: DataFrame, idCol: String): (Long, Long) = {
    val row = corpus.agg(
      count(lit(1)).as("n"), min(col(idCol).cast("long")).as("min_id")).head()
    val n = row.getLong(0)
    val anchor = if (row.isNullAt(1)) 0L else row.getLong(1)
    val stride =
      if (n <= 1L) 1L
      else math.max(1L, n / math.max(1L, math.round(math.sqrt(n.toDouble))))
    (stride, anchor)
  }

  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidStride: Long = AutoStride,
      nprobe: Int = 4): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("neighbor_vec"))
    // explicit stride: residue-0 selection, oracle-exact and fully lazy.
    // auto: min-id-anchored residue class (see [[autoStrideAnchor]] —
    // never empty, eager by one count+min job).
    val pick =
      if (centroidStride > 0) pmod(col("neighbor_id"), lit(centroidStride)) === 0
      else {
        val (stride, anchor) = autoStrideAnchor(corpus, idCol)
        pmod(col("neighbor_id") - lit(anchor), lit(stride)) === 0
      }
    val centroids =
      c.filter(pick)
        .select(col("neighbor_id").as("centroid_id"), col("neighbor_vec").as("centroid_vec"))
    ivfTopKWithCentroids(corpus, probes, centroids, idCol, vecCol, k, nprobe)
  }

  /** The recall-vs-cost FRONTIER for the IVF probe knob: [[ivfTopK]] at
    * each nprobe in `nprobeList`, scored against the [[bruteForceTopK]]
    * ground truth — (nprobe, n_true, n_hit, recall_milli), one row per
    * knob setting. More probed lists = a superset candidate pool, so
    * recall is monotone non-decreasing along the sweep and reaches 1000
    * when every list is probed (`ScaleSpec` pins both laws); the cost
    * side is ~N·nprobe/nlist candidates per probe. Together with
    * [[graft.scale.Dedup.recallSweep]] this makes the √N-lists /
    * probe-budget production rules measurable on any corpus; wall-clock
    * per setting was measured by a since-deleted `Profile frontier` mode.
    */
  def annRecallSweep(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobeList: Seq[Int] = Seq(1, 2, 4, 8),
      centroidStride: Long = AutoStride): DataFrame = {
    require(nprobeList.nonEmpty, "nprobeList must be non-empty")
    val truth = graft.ops.CacheScope.persisted(
      bruteForceTopK(corpus, probes, idCol, vecCol, k)
        .select(col("probe_id"), col("neighbor_id")))
    nprobeList.map { np =>
      val hit = ivfTopK(corpus, probes, idCol, vecCol, k, centroidStride, np)
        .select(col("probe_id"), col("neighbor_id"))
        .join(truth, Seq("probe_id", "neighbor_id"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select(
          lit(np.toLong).as("nprobe"), col("n_true"), col("n_hit"),
          when(col("n_true") === 0L, lit(1000L))
            .otherwise(expr("n_hit * 1000 div n_true")).as("recall_milli"))
    }.reduce(_.unionByName(_))
  }

  /** IVF search against an EXTERNAL coarse quantizer — the serving half
    * of a trained index: `centroids` is any (centroid_id numeric,
    * centroid_vec array<double>) frame, e.g.
    * [[graft.scale.KMeans.trainedCentroids]]'s output (the trained
    * quantizer replaces [[ivfTopK]]'s deterministic-stride stand-in —
    * same plan, better list balance). Centroids must be dim-sized
    * (they are broadcast to both the assignment and the probe ranking).
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      probes: DataFrame,
      centroidFrame: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("neighbor_vec"))
    val centroids = broadcast(
      centroidFrame.select(col("centroid_id"), col("centroid_vec")))

    // assign each corpus vector to its best list by inner product; ties
    // break to the LOWEST centroid id. The score rows entering the agg
    // are SLIM (id, centroid_id, cdist) — the vector is projected away
    // before the N·nlist blow-up and joined back per-id afterwards — and
    // the argmax is the fixed-width-buffer [[graft.functions.ArgMaxTieMin]],
    // so the whole assignment stays in HashAggregate (max_by over a
    // struct ordering, or a first(vector) alongside it, would demote the
    // pass to SortAggregate over the blown-up rows; PlanGuardSpec pins
    // the absence).
    val best = c
      .crossJoin(centroids)
      .select(
        col("neighbor_id"),
        col("centroid_id"),
        dot(col("neighbor_vec"), col("centroid_vec")).as("cdist"))
      .groupBy(col("neighbor_id"))
      .agg(ArgMaxTieMin(col("centroid_id"), col("cdist")).as("centroid_id"))
    val assigned = c.join(best, Seq("neighbor_id"))
      .withColumn("neighbor_norm", l2Norm(col("neighbor_vec")))

    // probes are broadcast-sized: a per-probe window is fine here
    val p = probes.select(
      col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("probe_vec"))
    val wProbe = Window.partitionBy("probe_id").orderBy(col("cdist").desc, col("centroid_id"))
    val probed = broadcast(
      p.crossJoin(centroids)
        .withColumn("cdist", dot(col("probe_vec"), col("centroid_vec")))
        .withColumn("crank", row_number().over(wProbe))
        .filter(col("crank") <= nprobe)
        .drop("centroid_vec", "cdist", "crank")
        .withColumn("probe_norm", l2Norm(col("probe_vec"))))

    val pairs = assigned
      .join(probed, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn(
        "cos",
        dot(col("probe_vec"), col("neighbor_vec")) /
          (col("probe_norm") * col("neighbor_norm")))
    val win = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cos")
  }

  /** EMBEDDING-SPACE drift monitor — [[Sampling.driftFromBucketCounts]]
    * with coarse-quantizer CELLS as the feature space: where in vector
    * space did the corpus move between two eras (new topical mass,
    * vanished clusters), the semantic complement of the token-space
    * [[Sampling.domainDriftContributors]]. The cell system is FROZEN
    * from the REFERENCE era (stride-picked centroids, the [[ivfTopK]]
    * rule) so both eras are counted in the same coordinates — a
    * monitor whose bucketing drifts with the data it monitors would
    * hide exactly the drift it exists to report. Assignment is the IVF
    * list rule bit-for-bit: argmax inner product, ties to the lowest
    * centroid id, slim (id, cell, dot) rows through a fixed-width
    * ArgMaxTieMin hash-agg.
    *
    * Scale shape: centroids broadcast (dim-sized); each era pays one
    * N·nlist scoring pass folding straight into per-cell counts;
    * everything downstream is cell-count-sized. The smoothing count is
    * the centroid frame's own 1-row count agg (the cell-space size is
    * data-derived, unlike the fixed hash space).
    *
    * @return (b = centroid_id, p_cnt, q_cnt, llr_milli, contrib_micro)
    */
  def embeddingCellDrift(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      vecCol: String,
      centroidStride: Long): DataFrame = {
    require(centroidStride > 0, s"centroidStride must be > 0, got $centroidStride")
    // NOTE the stride rule makes nlist ∝ reference size — the exact,
    // oracle-convenient form. At 100 TB the scoring pass is then
    // N·nlist ≈ N²/stride: production passes a TRAINED/FIXED centroid
    // frame (KMeans, or yesterday's quantizer) through
    // [[embeddingCellDriftWithCentroids]] — a drift monitor wants a
    // frozen cell system across eras anyway, and a fixed nlist keeps
    // the pass linear (the q120 trained-IVF serving discipline).
    embeddingCellDriftWithCentroids(target, reference,
      reference
        .filter(pmod(col(idCol), lit(centroidStride)) === 0)
        .select(col(idCol).as("centroid_id"),
          col(vecCol).cast("array<double>").as("centroid_vec")),
      idCol, vecCol)
  }

  /** [[embeddingCellDrift]] over an EXPLICIT frozen cell system —
    * `centroidFrame` = (centroid_id, centroid_vec), e.g. trained
    * coarse centroids or the previous era's quantizer. The production
    * form: nlist is a model constant, so the per-era scoring pass
    * stays linear in corpus size.
    */
  def embeddingCellDriftWithCentroids(
      target: DataFrame,
      reference: DataFrame,
      centroidFrame: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val centroids = broadcast(
      centroidFrame.select(col("centroid_id"), col("centroid_vec")))
    def cellCounts(df: DataFrame, name: String) = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(centroids)
      .select(col("id"), col("centroid_id"), dot(col("v"), col("centroid_vec")).as("cdist"))
      .groupBy("id")
      .agg(ArgMaxTieMin(col("centroid_id"), col("cdist")).as("b"))
      .groupBy("b").agg(count(lit(1)).as(name))
    // fail loud on an EMPTY cell system: a zero-cell monitor emits no
    // rows and reads as "no drift" forever — the snapshotDrift
    // single-version failure class (found by the century harness when
    // a stride derivation produced zero centroids). The check is an
    // EAGER limit-1 probe (the KMeans init-guard pattern): an in-plan
    // assert would sit on a branch AQE's empty-relation propagation
    // prunes away — verified, it never fires
    require(!centroidFrame.isEmpty,
      "embeddingCellDrift: empty centroid frame — a zero-cell monitor " +
        "would report zero drift forever")
    Sampling.driftFromBucketCounts(
      cellCounts(target, "p_cnt"),
      cellCounts(reference, "q_cnt"),
      centroids.agg(count(lit(1)).as("bc")))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-prune. Every vector is assigned to
    * its nearest coarse centroid (the same stride-picked broadcast
    * quantizer as [[ivfTopK]], same numeric-id contract), then WITHIN
    * each cluster a vector is dropped when its cosine to any LOWER-id
    * cluster-mate reaches `threshold` — the min-id-representative
    * keeper contract shared with [[graft.scale.Dedup.dedupByCluster]].
    * Returns the keep list (id).
    *
    * Scale shape: candidate pairs come from a self-join on centroid_id,
    * so the work is sum(cluster²), never N² — the whole point of the
    * paper's design (clusters are the unit of parallelism at web
    * scale). The assignment is one broadcast + map-side argmax agg per
    * vector; the self-join shuffles one slim (centroid_id, id, vec)
    * row per side. Recall trade, stated: near-dups STRADDLING a
    * cluster boundary are not compared (the paper accepts this;
    * [[cosineNearDupPairs]] is the cross-cluster-complete alternative).
    * PARAMETERIZATION: with nlist centroids the total work is
    * assignment N·nlist + within-cluster pairs ~N²/nlist, minimized at
    * nlist ≈ √N (total ~N^1.5) — the default stride now RESOLVES to
    * that law via [[sqrtNStride]] (pass an explicit stride only for an
    * oracle-reproducible fixed shape). Skewed data wants real k-means
    * centroids upstream — stride centroids are the deterministic
    * oracle-portable stand-in, same contract as [[ivfTopK]].
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroidStride: Long = AutoStride): DataFrame = {
    // explicit stride: residue-0 selection, oracle-exact and fully lazy.
    // auto: min-id-anchored residue class (see [[autoStrideAnchor]] —
    // never empty, eager by one count+min job).
    val pick =
      if (centroidStride > 0) pmod(col("centroid_id"), lit(centroidStride)) === 0
      else {
        val (stride, anchor) = autoStrideAnchor(emb, idCol)
        pmod(col("centroid_id") - lit(anchor), lit(stride)) === 0
      }
    val cents = emb
      .select(
        col(idCol).as("centroid_id"),
        col(vecCol).cast("array<double>").as("centroid_vec"))
      .filter(pick)
    semDedupWithCentroids(emb, idCol, vecCol, threshold, cents)
  }

  /** SemDeDup against an EXTERNAL coarse quantizer — the trained-index
    * counterpart, mirroring [[ivfTopKWithCentroids]] vs [[ivfTopK]]:
    * `centroidFrame` is any (centroid_id numeric, centroid_vec
    * array<double>) frame, e.g. [[graft.scale.KMeans.trainedCentroids]],
    * whose balanced clusters keep the sum(cluster²) within-cluster work
    * even on skewed corpora where stride centroids would let one hot
    * cluster dominate. Same plan shape as [[semDedup]]: broadcast
    * centroids, argmax-in-HashAggregate assignment, slim self-join on
    * centroid_id.
    */
  def semDedupWithCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroidFrame: DataFrame): DataFrame = {
    val c = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val centroids = broadcast(
      centroidFrame.select(col("centroid_id"), col("centroid_vec").as("cv")))
    // slim-score assignment (see ivfTopKWithCentroids): vectors never
    // ride through the N·nlist score rows or the agg buffer — the
    // ArgMaxTieMin HashAggregate folds (id, centroid_id, cdist) and the
    // per-id join reattaches v. PERSISTED: the within-cluster self-join
    // consumes `assigned` twice (lo/hi), and column pruning makes the
    // two subtrees canonically distinct, so exchange reuse never fires —
    // without the cache the N·nlist dot-product pass runs once PER SIDE
    // (measured 2.4x at 10x). The cached rows are two longs per vector
    // (id, centroid_id) — the bounded size class of the q56 slim-cache
    // contract, never the vectors.
    val best = graft.ops.CacheScope.persisted(
      c.crossJoin(centroids)
        .select(col("id"), col("centroid_id"), dot(col("v"), col("cv")).as("cdist"))
        .groupBy(col("id"))
        .agg(ArgMaxTieMin(col("centroid_id"), col("cdist")).as("centroid_id")))
    val assigned = c.join(best, Seq("id")).withColumn("norm", l2Norm(col("v")))
    val lo = assigned.select(
      col("centroid_id"), col("id").as("id_a"), col("v").as("va"), col("norm").as("na"))
    val hi = assigned.select(
      col("centroid_id"), col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    val losers = lo.join(hi, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as("id"))
      .distinct()
    emb.select(col(idCol).as("id")).join(losers, Seq("id"), "left_anti")
  }

  /** The DuckDB-side signature expression for one plane's literal
    * weights (used by SparkEntry.oracleSql to embed identical planes).
    */
  def planeSignatureSql(vecExpr: String, weights: Seq[Seq[Double]]): String =
    weights.map { w =>
      val lits = w.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vecExpr, $lits) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
}
