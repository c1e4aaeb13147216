package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native cosine similarity over two array<float> columns.
  *
  * Why a custom Expression (SURVEY §7.3 preference order (b)): the
  * built-in composition — `aggregate(zip_with(a, b, _*_), 0d, _+_)` over
  * casted arrays — is a chain of higher-order functions, which Spark
  * evaluates interpreted (CodegenFallback, no common-subexpression
  * elimination), allocating a lambda frame per element. For ANN scans
  * that's the innermost loop over every vector in the corpus. This
  * expression generates a single fused Java loop over the raw float
  * arrays (one pass computes dot, |a|², |b|²), participating in
  * whole-stage codegen, with an identical interpreted eval as fallback.
  *
  * Math is done in double with left-to-right accumulation — bit-identical
  * to the HOF composition and to a single-node oracle, so it can swap in
  * under the existing oracle-checked queries.
  *
  * Null/shape semantics: NULL if either side is NULL; 0.0 when either
  * norm is 0; mismatched lengths use the shorter prefix for the dot
  * product (norms over each full array).
  */
case class CosineSim(left: Expression, right: Expression)
    extends FloatArrayPair {

  override protected def kernel: FloatArrayKernel = CosineSim

  override def prettyName: String = "cosine_sim"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim extends FloatArrayKernel {
  /** Single fused pass; shared by interpreted eval and generated code. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < nx) { val v = x.getFloat(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < ny) { val v = y.getFloat(i).toDouble; nb += v * v; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }
}
