package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator from SURVEY §2 (and
  * the LLM-pipeline extensions); `oracleSql` carries the DuckDB
  * equivalent for everything SQL-expressible.
  */
object SparkEntry {

  /** Flagship: the full reference pipeline — clean → label → split →
    * train → score → per-class accuracy summary — on sf0.001.
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Queries.mlEvalSummary(spark, "/root/testdata/sf0.001")

  /** Every query, declared once: its name, its body and its static
    * DuckDB oracle, if it has one. */
  def registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    ops.Queries.registry ++ ops.ExtQueries.registry

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * LLM-pipeline extension surface. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q, _) => name -> q }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). Dynamic oracles embed
    * data-derived literals and appear once their query has run in this
    * process (Verify runs every query before dumping this map). */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, _, Some(sql)) => name -> sql }.toMap ++
      ops.ExtQueries.dynamicOracles
}
