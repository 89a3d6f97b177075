package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** IVF nearest-cell assignment (`argmax v.c - |c|^2/2` over the coarse-
  * quantizer centroids) as a native Catalyst expression with whole-stage
  * codegen. The centroid table arrives as the second argument — a
  * nested `ARRAY<ARRAY<DOUBLE>>` literal built from the fitted Lloyd
  * centroids (tiny: nlist x dim doubles, one constant reference in the
  * generated code) — so the cell-assignment pass over the whole corpus
  * stays inside the scan's generated loop with zero per-row boxing.
  * The probe-side nprobe-cells variant stays a Scala UDF: probe sets
  * are bounded and it returns an array for explode.
  *
  * Delegates to [[graft.ops.Similarity.nearestCellData]] — the same
  * score, accumulation order, and first-max tie semantics as the
  * Seq-based `nearestCells` (a diverging second copy would put corpus
  * vectors and probes in different cells).
  */
case class IvfCell(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_cell"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT>, ARRAY<ARRAY<DOUBLE>>), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ops.Similarity.nearestCellData(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.ops.Similarity.nearestCellData($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfCell =
    copy(left = newLeft, right = newRight)
}
