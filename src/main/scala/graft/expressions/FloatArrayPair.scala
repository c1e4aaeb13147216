package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** A double-valued kernel over two float arrays: one fused pass, shared
  * by interpreted eval and generated code. */
trait FloatArrayKernel {
  def compute(x: ArrayData, y: ArrayData): Double
}

/** A native double-valued expression over two array<float> columns,
  * computed by its companion `kernel` in one fused codegen'd loop instead
  * of interpreted zip_with/aggregate lambdas. NULL if either side is
  * NULL; any other input type fails analysis, naming the function. */
trait FloatArrayPair extends BinaryExpression {

  protected def kernel: FloatArrayKernel

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = kernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.compute($a, $b);"
    })
}
