package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a named Spark query over the driver's
  * parquet tables plus (where SQL-expressible) an equivalent DuckDB oracle.
  *
  * The driver compare sorts columns by name and hashes values, so the
  * Spark result and the oracle SQL must agree on column NAMES exactly
  * (alias both sides) and on value canonicalization (round doubles that
  * pass through order-sensitive float accumulation).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** SURVEY.md §2 operator ids this query exercises, for coverage audit. */
    covers: Seq[String])

object QueryDef {
  def apply(name: String, covers: Seq[String], oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle), covers)
}
