package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator demonstration: a Spark query plus (when
  * SQL-expressible) an equivalent DuckDB oracle query over the same
  * parquet tables. Column names/aliases MUST match between the two —
  * the driver sorts columns by name before hashing values.
  *
  * Determinism discipline (SURVEY §7.1): every query that returns
  * multiple rows carries a total ORDER BY; floating-point aggregates
  * go through exact DECIMAL accumulation and only then cast back to
  * DOUBLE, so Spark's and DuckDB's different summation orders cannot
  * produce different bits.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object QueryDef {
  def sqlBacked(name: String, oracle: String, doc: String = "")(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle), doc)
}
