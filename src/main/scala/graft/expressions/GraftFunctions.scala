package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** graft's native expressions, callable from SQL and the Column API, plus
  * the [[BroadcastGuard]] optimizer rule. [[graft.engine.Session.local]]
  * registers them when it builds a session; the operators that need them
  * register again, for sessions the engine did not build. */
object GraftFunctions {

  private val natives: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (c => CosineSim(c(0), c(1))),
    "dot_product" -> (c => DotProduct(c(0), c(1))),
    "jaro_winkler" -> (c => JaroWinkler(c(0), c(1))),
    "kmv_sketch" -> (c => KmvSketchAgg(c)))

  /** Idempotent: binds each native function the session's registry
    * lacks and adds the guard to `experimental.extraOptimizations` once.
    * A name already bound is left alone, so a second call neither
    * replaces it nor logs Spark's replacement warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    natives.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[BroadcastGuard]))
      spark.experimental.extraOptimizations = existing :+ new BroadcastGuard
  }

  /** Column-API call; requires the function registered in the session. */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  def dot_product(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  def jaro_winkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)

  /** One-pass KMV sketch aggregate (requires registration). */
  def kmv_sketch(h: Column, k: Int): Column =
    call_function("kmv_sketch", h, org.apache.spark.sql.functions.lit(k))
}
