package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: `graft.Verify <sfDir> <outDir> [name…]`
  * writes each registry query's result to `<outDir>/<name>` as parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A failed
  * query leaves no dump (the compare reports it) and the exit stays 0. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = QueryLoop.selectOrExit("verify", args.drop(2).toSeq)
    val spark = io.Scratch.session()
    new java.io.File(outDir).mkdirs()
    // repartition(1), NOT coalesce(1): both write the single file
    // the oracle compare reads, but coalesce(1) merges the query's
    // whole final stage into one task — at sf10 that would run
    // e.g. q44's 100M-candidate verify single-threaded. The
    // repartition shuffle moves only the RESULT rows.
    QueryLoop.each(spark, sfDir, "verify", names) { (name, build) =>
      build().repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
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
