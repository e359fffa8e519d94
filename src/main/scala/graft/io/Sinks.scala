package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV/parquet source + sink surface (SURVEY.md §2.1 SRC1/SNK1).
  *
  * The reference reads a CSV glob with header+inferSchema and sinks
  * via driver-side pandas (`toPandas().to_csv`, ref demo.py:53,234).
  * Engine mapping: multi-path `csv()` (an implicit Union of file
  * partitions) and DISTRIBUTED writers — `coalesce(1)` only when a
  * single file is explicitly wanted (driver-collect never happens).
  */
object Sinks {

  /** SRC1: CSV glob scan, reference options (header, inferSchema,
    * comma delimiter). */
  def readCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("delimiter", ",")
      .csv(paths: _*)

  /** SNK1: header CSV out. `singleFile` reproduces the reference's
    * one-file shape via coalesce(1) — a deliberate single-writer
    * funnel, NOT a driver collect; default is one file per partition
    * (the scale shape). */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", "true").csv(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
