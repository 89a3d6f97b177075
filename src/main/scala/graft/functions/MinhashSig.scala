package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** k-permutation MinHash signature of a text column as a native
  * Catalyst expression (`minhash_sig(text, w, k)` -> ARRAY<BIGINT>):
  * word w-shingles hashed with FNV-1a, k universal-hash permutations,
  * computed in one generated-code call per row — the banded-LSH
  * pipeline's signature stage without deserializing rows into a typed
  * Dataset. Bit-identical to `signature(shingles(text, w), k)` of the
  * companion object.
  */
case class MinhashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == IntegerType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, INT, INT), got " +
        s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
        s"${third.dataType.catalogString})")

  override protected def nullSafeEval(text: Any, w: Any, k: Any): Any =
    MinhashSig.ofText(text.asInstanceOf[UTF8String].toString,
      w.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w, k) =>
      s"graft.functions.MinhashSig.ofText($t.toString(), $w, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinhashSig =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinhashSig {

  /** Word w-shingles of a text (distinct, FNV-1a-hashed to longs). */
  def shingles(text: String, w: Int): Array[Long] = {
    val words = text.split(" ")
    if (words.length < w) Array(Fnv1a64.hashString(text))
    else (0 to words.length - w).iterator
      .map(i => Fnv1a64.hashString(words.slice(i, i + w).mkString(" ")))
      .toArray.distinct
  }

  /** k-permutation minhash via the (a*x+b) universal-hash trick —
    * deterministic seeds.
    */
  def signature(sh: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var p = 0
    while (p < k) {
      val a = 0x9e3779b97f4a7c15L * (2 * p + 1)
      val b = 0xbf58476d1ce4e5b9L * (p + 1)
      var i = 0
      var mn = Long.MaxValue
      while (i < sh.length) {
        val h = a * sh(i) + b
        if (h < mn) mn = h
        i += 1
      }
      sig(p) = mn
      p += 1
    }
    sig
  }

  /** Callable from generated code. */
  def ofText(text: String, w: Int, k: Int): GenericArrayData =
    new GenericArrayData(signature(shingles(text, w), k))
}
