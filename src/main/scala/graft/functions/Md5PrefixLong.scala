package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The first `prefixBytes` bytes of md5(input) as a non-negative long —
  * ONE expression for the house 48-bit (and 32-bit) hash idiom
  * `conv(substring(md5(x), 1, 2·prefixBytes), 16, 10)::long`
  * (DuckDB `('0x' || substr(md5(x), 1, 2·n))::BIGINT`): bit-identical
  * output, so every oracle that reproduces the idiom in SQL is
  * untouched.
  *
  * The composite it replaces pays, PER ROW (per SHINGLE in the minhash
  * signature builder — the hottest loop of the dedup family): a
  * 32-char hex ENCODE of the digest (commons-codec md5Hex), a
  * UTF8String substring, `NumberConverter.convert`'s char-array
  * hex→decimal-STRING conversion, and a decimal-string→long cast.
  * Thread-dump sampling during q132 attributed ~30% of executor
  * RUNNABLE samples to `NumberConverter.convert` alone (guide §1.1
  * empirical loop; §4-class per-row work). This expression digests the
  * bytes and assembles the prefix big-endian — no hex string, no
  * decimal string — and stays inside whole-stage codegen
  * ([[defineCodeGen]]; inside `transform(...)` lambdas it evaluates via
  * [[nullSafeEval]] on the same kernel).
  *
  * MessageDigest is stateful and not thread-safe; getInstance per row
  * would dominate the loop, so each task thread reuses one. [[hash]] is
  * also the JVM-side kernel of [[CmsSketchAgg]]'s update and of
  * [[MinhashSignature]].
  */
case class Md5PrefixLong(child: Expression, prefixBytes: Int)
    extends UnaryExpression {
  require(prefixBytes >= 1 && prefixBytes <= 7,
    s"prefixBytes must be in [1, 7] (sign-safe long), got $prefixBytes")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"
  // null in -> null out, like the conv/cast chain it replaces: lets the
  // optimizer keep inferring (and pushing down) IsNotNull on the child
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5PrefixLong.hash(input.asInstanceOf[Array[Byte]], prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5PrefixLong.hash($c, $prefixBytes)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {

  private val Md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  def hash(bytes: Array[Byte], prefixBytes: Int): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < prefixBytes) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    v
  }

  /** Column entry point; input cast to binary (a string child hashes
    * its UTF-8 bytes — exactly `md5`'s implicit cast).
    */
  def apply(c: Column, prefixBytes: Int = 6): Column =
    ColumnBridge.column(Md5PrefixLong(
      ColumnBridge.expression(c.cast("binary")), prefixBytes))
}
