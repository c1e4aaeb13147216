package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability: a Spark DataFrame program plus (when
  * ANSI-SQL-expressible) an equivalent DuckDB oracle query over the same
  * parquet tables. The driver hash-compares the two at sf0.01.
  *
  * Determinism contract (so hashes are stable):
  *  - every query ends in an explicit ORDER BY over a unique key, mirrored
  *    in the oracle;
  *  - double aggregates go through [[graft.engine.Det]] decimal casts;
  *  - no wall-clock / random / partition-dependent values in output.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
}
