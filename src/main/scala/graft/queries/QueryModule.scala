package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module of the query registry: its queries, their DuckDB
  * oracles, and the staging steps of the keys that need a fixture
  * written first. graft.SparkEntry lists every module once. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
  def staging: Map[String, (SparkSession, String) => Unit] = Map.empty
}
