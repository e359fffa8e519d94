package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these queries (fast local iteration)
    val only = args.drop(2).toSet
    val spark = graft.io.Scratch.session()
    // sf1+/sf10 sweep hygiene (same discipline as Bench's GC_EACH):
    // without it, localCheckpoint blocks from completed queries
    // accumulate across the 274-query run and OOM the shared JVM
    val gcEach = sys.env.get("SPARK_GRAFT_GC_EACH").contains("1")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both write the single file
      // the driver's gate reads, but coalesce(1) merges the query's
      // whole final stage into one task — at sf10 that would run
      // e.g. q44's 100M-candidate verify single-threaded. The
      // repartition shuffle moves only the RESULT rows.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      if (gcEach) graft.io.Scratch.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
