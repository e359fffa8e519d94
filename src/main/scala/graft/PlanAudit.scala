package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan-discipline audit (builder brief: ".explain('formatted') the
  * plan and iterate until it's the plan you'd want"): for every
  * registered query, count exchanges / codegen spans and check that
  * parquet scans carry pushed filters and pruned schemas. Output is
  * committed as PLANS.md so plan regressions show up in review.
  *
  * Usage: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    // local[4] as the header below states; static audit: AQE's wrapper
    // hides the plan tree from collect() and defers codegen/exchange
    // decisions — audit the non-adaptive plan (what AQE starts from)
    val spark = graft.io.Scratch.session(cpus = 4,
      extra = Map("spark.sql.adaptive.enabled" -> "false"))

    val sb = new StringBuilder
    sb ++= "# Physical-plan audit\n\n"
    sb ++= s"Generated by `graft.PlanAudit` on `$sfDir` (AQE initial plans,\n"
    sb ++= "local[4]). Columns: shuffle exchanges, whole-stage-codegen\n"
    sb ++= "spans, parquet scans, scans with pushed filters, widest scan\n"
    sb ++= "schema (pruning check).\n\n"
    sb ++= "| query | exchanges | codegen spans | scans | pushed | widest scan cols |\n"
    sb ++= "|---|---|---|---|---|---|\n"

    val names = QueryLoop.selectOrExit("planaudit", Nil)
    QueryLoop.each(spark, sfDir, "planaudit", names) { (name, build) =>
      val plan = build().queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }.size
      val codegen = plan.collect { case w: WholeStageCodegenExec => w }.size
      val scans = plan.collect { case f: FileSourceScanExec => f }
      val pushed = scans.count(_.metadata.get("PushedFilters").exists(_ != "[]"))
      val widest = scans.map(_.requiredSchema.length).sorted.lastOption.getOrElse(0)
      s"| $name | $exchanges | $codegen | ${scans.size} | $pushed | $widest |\n"
    }.foreach { o =>
      sb ++= o.result.fold(e => s"| ${o.name} | ERROR ${e.getClass.getSimpleName} | | | | |\n", identity)
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
