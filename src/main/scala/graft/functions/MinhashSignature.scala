package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The md5-bijection MinHash signature of ONE shingle set, as ONE
  * expression: element s of the output is
  * `min over shingles sh of (c_{s mod 16} · md5prefix48("⌊s/16⌋:" + sh)) mod 2^48`
  * with the odd multipliers c of [[graft.scale.Dedup.MinhashMultipliers]]
  * (the hash family is documented on [[graft.scale.Dedup.minhashSignatures]]).
  * One md5 per shingle per block of 16 hashes, through the
  * [[Md5PrefixLong]] kernel — bit-identical to the relational
  * `min(...)` formulation the DuckDB oracles reproduce.
  *
  * This is the single MinHash kernel of the repo: the batch signature
  * frame and the streaming probe both project it per row, so neither
  * explodes shingles into rows (no `groupBy(id)` shuffle in batch, no
  * interpreted `transform`/`array_min` lambdas in the stream) and
  * stream == batch holds by construction.
  *
  * An empty (or all-null) shingle set has no signature: NULL.
  */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinhashSignature.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinhashSignature.signature($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {

  private val Multipliers = graft.scale.Dedup.MinhashMultipliers
  private val Mod = graft.scale.Dedup.MinhashMod

  /** One pass over the shingles per block of 16 hashes: one md5 of
    * "g:" + shingle, then the 16 bijections folded into running minima.
    */
  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val m = shingles.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var g = 0
    while (g * 16 < numHashes) {
      val prefix = s"$g:".getBytes(StandardCharsets.UTF_8)
      val hi = math.min(numHashes, g * 16 + 16)
      var i = 0
      while (i < m) {
        if (!shingles.isNullAt(i)) {
          seen = true
          val sh = shingles.getUTF8String(i).getBytes
          val bytes = java.util.Arrays.copyOf(prefix, prefix.length + sh.length)
          System.arraycopy(sh, 0, bytes, prefix.length, sh.length)
          val h = Md5PrefixLong.hash(bytes, 6)
          var s = g * 16
          while (s < hi) {
            val v = (Multipliers(s % 16) * h) % Mod
            if (v < out(s)) out(s) = v
            s += 1
          }
        }
        i += 1
      }
      g += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(out) else null
  }

  /** Column entry point over an `array<string>` shingle column. */
  def apply(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(shingles), numHashes))
}
