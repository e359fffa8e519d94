package graft.io

import java.io.{IOException, OutputStreamWriter}
import java.nio.charset.Charset
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat

/** CSV/parquet source + sink surface (SURVEY.md §2.1 SRC1/SNK1).
  *
  * The reference reads a CSV glob with header+inferSchema and sinks
  * via driver-side pandas (`toPandas().to_csv`, ref demo.py:53,234).
  * Engine mapping: multi-path `csv()` (an implicit Union of file
  * partitions). A single-file CSV is written on the driver, like the
  * reference's; every other sink is a distributed writer, one file per
  * partition.
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

  /** SNK1: header CSV out, replacing whatever `path` held.
    *
    * `singleFile` is for driver-sized outputs such as the reference's
    * pivots. The frame is coalesced to one partition, which one job
    * collects to the driver whole (so it is bounded by
    * `spark.driver.maxResultSize`), and the driver writes it, like the
    * reference's `to_csv`, as `path/part-00000-<uuid>-c000.csv`: the
    * bytes Spark's CSV writer gives, without the file-commit jobs of a
    * distributed write. A failed write leaves no `*.csv`. Otherwise (the
    * default, the scale path) the distributed writer writes one file per
    * partition. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    if (singleFile) writeCsvFile(df, path)
    else df.write.mode("overwrite").option("header", "true").csv(path)

  private def writeCsvFile(df: DataFrame, path: String): Unit = {
    val qe = df.coalesce(1).queryExecution
    val state = qe.sparkSession.sessionState
    val conf = state.conf
    // the check Spark's writer makes: no array, map or struct columns
    DataSourceUtils.verifySchema(new CSVFileFormat, df.schema)
    // the options CSVFileFormat.prepareWrite builds for `header = true`
    val opts = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)

    val dir = new Path(path)
    val fs = dir.getFileSystem(state.newHadoopConf())
    fs.delete(dir, true)
    val name = s"part-00000-${UUID.randomUUID()}-c000.csv"
    val tmp = new Path(dir, s".$name.tmp")
    val gen = new UnivocityGenerator(df.schema,
      new OutputStreamWriter(fs.create(tmp, false), Charset.forName(opts.charset)), opts)
    try {
      try {
        gen.writeHeaders()
        // one job; QueryExecutionListeners see it as one SQL execution
        SQLExecution.withNewExecutionId(qe, Some("csv")) {
          qe.executedPlan.executeToIterator().foreach(gen.write)
        }
      } finally gen.close()
      if (!fs.rename(tmp, new Path(dir, name))) throw new IOException(s"cannot rename $tmp")
    } finally fs.delete(tmp, false)
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
