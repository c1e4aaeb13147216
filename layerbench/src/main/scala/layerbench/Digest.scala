package layerbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action that ends every op: one aggregate computing the row
  * count and an order-independent hash over every output column.
  *
  * A bare `count()` lets Catalyst prune every output expression the count
  * does not need, so it can skip the work an op exists to do. Hashing all
  * columns keeps them live. Row hashes are summed as exact decimals, so
  * the digest ignores row order but still changes with duplicate rows,
  * which an XOR would cancel. Map columns are not hashable in Spark and
  * have no entry order, so they become entry arrays sorted by key first;
  * the same normalisation reaches maps nested in arrays and structs.
  */
object Digest {

  final case class Value(rows: Long, hash: String, schema: String) {
    override def toString: String = s"$rows:$hash:$schema"
  }

  def of(df: DataFrame): Value = {
    val schema = df.schema
    val cols = schema.fields.toSeq.map(f => normalise(col(quote(f.name)), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(rowHash.as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
      .collect()(0)
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    Value(r.getLong(0), s, Integer.toHexString(schema.catalogString.hashCode))
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Rewrites `c` of type `t` into a hashable value whose hash does not
    * depend on map entry order. Types without maps pass through. */
  private[layerbench] def normalise(c: Column, t: DataType): Column =
    if (!hasMap(t)) c
    else t match {
      case MapType(k, v, _) =>
        array_sort(transform(map_entries(c), e =>
          struct(normalise(e.getField("key"), k).as("key"),
            normalise(e.getField("value"), v).as("value"))))
      case ArrayType(e, _) => transform(c, x => normalise(x, e))
      case StructType(fs) =>
        when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
          normalise(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
}
