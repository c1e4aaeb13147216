package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native dot product over two array<float> columns — the raw-inner-
  * product sibling of [[CosineSim]] (same rationale: one fused codegen
  * loop instead of interpreted zip_with/aggregate lambdas). Product-
  * quantization assignment and ADC scoring need unnormalized dots and
  * squared distances, which per-subvector cosines can't reconstruct.
  *
  * Double accumulation, left to right; NULL if either side is NULL;
  * mismatched lengths use the shorter prefix.
  */
case class DotProduct(left: Expression, right: Expression)
    extends FloatArrayPair {

  override protected def kernel: FloatArrayKernel = DotProduct

  override def prettyName: String = "dot_product"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct extends FloatArrayKernel {
  /** Single fused pass; shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }
}
