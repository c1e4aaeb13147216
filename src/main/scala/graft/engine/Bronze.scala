package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Bronze-layer cleaning (SURVEY §2.3 P1-P6, K1 sanitize): pure
  * DataFrame→DataFrame, applied right after a source scan.
  * Ref: /root/reference/scripts/bronze/load_bronze.py.
  */
object Bronze {

  /** K1 column-name sanitize: [^0-9a-zA-Z_]→_, lowercase, prefix
    * digit-leading names (load_bronze.py:188-198). Driver-side on names. */
  def sanitizeColumns(df: DataFrame): DataFrame = {
    val cleaned = df.columns.map { c =>
      val s = c.replaceAll("[^0-9a-zA-Z_]", "_").toLowerCase
      if (s.headOption.exists(_.isDigit)) s"col_$s" else s
    }
    df.toDF(cleaned.toIndexedSeq: _*)
  }

  /** P4 blank→NULL across all string columns (load_bronze.py:348). */
  def blanksToNull(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (stringCols(c))
        when(trim(col(c)) === "", lit(null)).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** P5/P6 coerce columns to a declared schema: numeric errors→0 for
    * count-like ints (load_bronze.py:357-360), date errors→null
    * (load_bronze.py:361-362), everything else plain try-cast. */
  def coerceTo(df: DataFrame, target: StructType,
      zeroDefaultInts: Set[String] = Set.empty): DataFrame = {
    val cols = target.fields.toIndexedSeq.map { f =>
      val c = expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})")
      val v = if (zeroDefaultInts(f.name)) coalesce(c, lit(0).cast(f.dataType.sql)) else c
      v.as(f.name)
    }
    df.select(cols: _*) // P2: prune + fixed order
  }

  /** Every bronze row's `validation_status` until silver validates it. */
  val AuditStatus = "pending"

  /** P3 audit columns (load_bronze.py:281-284,350-355). `sourceFile` uses
    * input_file_name() when rows came straight from a scan. */
  def withAudit(df: DataFrame): DataFrame =
    df.withColumn("ingestion_timestamp", current_timestamp())
      .withColumn("validation_status", lit(AuditStatus))
      .withColumn("data_hash",
        sha2(to_json(struct(df.columns.toIndexedSeq.map(col): _*)), 256).substr(1, 16))
}
