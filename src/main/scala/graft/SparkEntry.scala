package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DedupSim, EvalQueries, EventQueries, GraphQueries, IoQueries, MultimodalQueries, PipelineQueries, PlanQueries, QueryModule, Relational, Relational2, TextQueries, TrainingQueries, TweetOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry is assembled from per-module maps; every entry in
  * [[queries]] that is ANSI-SQL-expressible has a DuckDB oracle in
  * [[oracleSql]] under the same key with identical column names.
  */
object SparkEntry {

  /** Every query module, once: [[queries]], [[oracleSql]] and
    * [[staging]] are the unions of its parts. */
  private[graft] def modules: Seq[QueryModule] =
    Seq(Relational, Relational2, TweetOps, TextQueries, DedupSim,
      EventQueries, MultimodalQueries, IoQueries, PipelineQueries,
      PlanQueries, TrainingQueries, GraphQueries, EvalQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0: the full reference pipeline (cleanse → NER → weighted
    * monthly frequency pivot) over a tweet-shaped frame. */
  def entry(spark: SparkSession): DataFrame =
    queries("q70_tweet_pipeline_freq")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_.oracles).reduce(_ ++ _)

  /** One-time fixture staging per query (layout writes, stream
    * drains), memoized per JVM by graft.io.Staging. QueryLoop runs
    * these ahead of each key's body and times them apart (Bench's
    * `staging`); queries remain self-contained for every other caller
    * (first call stages inline). */
  def staging: Map[String, (SparkSession, String) => Unit] =
    modules.map(_.staging).reduce(_ ++ _)
}
