package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-merge-split: the annotation post-processing chain
  * (reference: AnnotCache.mergeIncomingAnnots1/2, AnnotCache.java:92-134 /
  * 169-211; splitAnnots/splitAnnots2, AnnotCache.java:136-167 / 213-244).
  *
  * Annotate's phase 1 groups on the annotation key with WITH_INFO and
  * set-merges XREF_SOURCE; merged values over 4000 chars split back into
  * rows at the last `|` before the limit. Phase 2 groups on the store's
  * natural key (with XREF_SOURCE) and merges WITH_INFO (1700 chars).
  *
  * Spark shape: groupBy().agg(set-merge) then explode(chunked) — the
  * chunker is a scalar function producing an array, exploded by the
  * built-in generator; no custom Generator needed (SURVEY §2.10.3).
  */
object MergeSplit {

  /** Exact mirror of AnnotCache.splitAnnots (AnnotCache.java:136-160):
    * while the value is longer than `maxLen`, cut at the LAST `sep` at
    * index <= maxLen and continue on the remainder. The remainder (the
    * original annot) keeps the tail; split-off heads are emitted first.
    * A value with no separator inside the window would loop forever in
    * the reference; we mirror the happy path and hard-cut as a guard.
    */
  def chunkBySeparator(value: String, maxLen: Int, sep: String): Array[String] = {
    if (value == null) return null
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var rest = value
    while (rest.length > maxLen) {
      val splitPos = rest.lastIndexOf(sep, maxLen)
      if (splitPos <= 0) {
        // degenerate: no separator in window — hard cut (reference would
        // spin; never happens on `|`-merged accumulators)
        out += rest.substring(0, maxLen)
        rest = rest.substring(maxLen)
      } else {
        out += rest.substring(0, splitPos)
        rest = rest.substring(splitPos + sep.length)
      }
    }
    out += rest
    out.toArray
  }

  def chunkUdf = udf(chunkBySeparator _)

  def chunked(c: Column, maxLen: Int): Column =
    chunkUdf(c, lit(maxLen), lit("|"))

  /** groupBy(key).agg(set-merge of `src` as `out`, `|`-joined) then
    * explode oversize `out` into chunks — one reference merge+split phase.
    *
    * Scale shape: `src` is exploded to scalar (key, token) rows and
    * deduped BEFORE the collect, so the shuffle carries distinct scalars
    * with map-side partial aggregation — never whole merged arrays (the
    * array-carrying formulation was the bench's worst regression:
    * per-key arrays rode the exchange and were distinct'd post-shuffle).
    *
    * @param splitRegex the intra-value token separator of `src`
    */
  def mergeThenSplit(
      df: DataFrame,
      keyCols: Seq[String],
      out: String,
      src: Column,
      splitRegex: String,
      maxLen: Int): DataFrame = {
    val keys = keyCols.map(col)
    // explode_outer keeps keys whose source is all-null (collect_set
    // then skips the null token → empty merge)
    // ONE exchange: collect_set over exploded scalars dedups in the
    // map-side partial, so the shuffle carries one deduped set per
    // (key, partition) — strictly smaller than the final array
    // (the distinct-then-collect formulation paid a second exchange)
    // Trailing separators are stripped BEFORE the split: Spark's
    // split keeps trailing empty tokens, Java's String.split (the
    // reference, AnnotCache.java:183) drops them — without the strip
    // a value ending in a separator grows a leading '|' after the
    // sort+rejoin. Interior empties stay, exactly as in Java.
    df.select(keys :+ explode_outer(
      split(regexp_replace(src, splitRegex + "+$", ""), splitRegex)).as("_tok"): _*)
      .groupBy(keys: _*)
      .agg(concat_ws("|", array_sort(collect_set(col("_tok")))).as(out))
      .withColumn(out, explode(chunked(col(out), maxLen)))
  }
}
