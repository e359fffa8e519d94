package graft

/** Full-surface timing: `SPARK_GRAFT_SF_DIR=<sfDir> graft.Bench [name…]`
  * (every query when no name is given). Each key's time is
  * [[QueryLoop.timeFull]]: build plus whole result to a `noop` sink,
  * with its staging reported apart as `staging`. Every key reports its
  * one run, so the total sums runs of one kind (each key's first, cold
  * in this JVM). A failed key records -1 and makes the total -1, so a
  * breakage cannot shrink the total. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = QueryLoop.selectOrExit("bench", args.toSeq)
    val spark = io.Scratch.session()
    // JIT/codegen warm-up outside the measured window, so the first
    // key in sorted order does not carry seconds of JVM warm-up
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }

    val results = QueryLoop.each(spark, sfDir, "bench", names) { (name, build) =>
      val s = QueryLoop.timeFull(build())
      // progress on stderr: a run killed mid-sweep shows where it died
      System.err.println(f"[bench] $name%s $s%.2f s")
      s
    }.map(o => (o.name, o.result.getOrElse(-1.0), o.stageS))
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val stages = results.collect { case (k, _, Some(sv)) => s"\"" + k + "\":" + sv }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val reported = if (failed.nonEmpty) -1.0 else total
    val fullLine =
      s"""{"metric":"total","value":$reported,"unit":"sec","queries":$qs,"staging":$stages,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(fullLine)
    // the complete per-query record also goes to a file: a capture
    // window can truncate the full line, and run-to-run per-query
    // diffs need an artifact that does not depend on capture limits
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query record written to $outFile")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // compact summary printed LAST, so a tail-anchored capture always
    // keeps the totals and the 10 heaviest queries
    val stagingTotal = results.flatMap(_._3).sum
    // Locale.ROOT formatting: the f interpolator uses the default
    // locale, which on comma-decimal hosts emits "1,23" — invalid JSON
    def num(v: Double, scale: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${scale}f", Double.box(v))
    val top10 = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"summary","value":$reported,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"query_total_s":${num(total, 1)},"staging_total_s":${num(stagingTotal, 1)},"top10":$top10,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
