package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** The plan ledger. PLANS.md holds one row per registry key: the shape
  * of its non-adaptive physical plan (the plan AQE starts from) at
  * sf0.001, plus a one-line note on why a count is what it is.
  * PlanRegressionSpec rebuilds every key at the same scale and fails
  * on any row that differs, so a plan change shows up in tier-1 and in
  * the diff of this file.
  *
  * To re-pin after a deliberate plan change: run this main, review
  * `git diff PLANS.md`, and commit the moved rows with their notes.
  * Each key keeps the note of the file being replaced. A key that
  * fails to build gets an ERROR row, and the main exits 1.
  *
  * Usage: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  */
object PlanAudit {
  /** The scale the ledger is written at and PlanRegressionSpec checks. */
  val SfDir = "/root/testdata/sf0.001"
  val Ledger = "PLANS.md"

  /** A plan's counts: shuffle exchanges, whole-stage-codegen spans,
    * parquet scans, scans with pushed filters, the widest scan schema
    * (the pruning check) and CartesianProduct nodes. */
  final case class Shape(exchanges: Int, codegen: Int, scans: Int,
      pushed: Int, widest: Int, cartesian: Int)

  /** One ledger row; `shape` is None on an ERROR row. */
  final case class Row(name: String, shape: Option[Shape], note: String)

  def shape(plan: SparkPlan): Shape = {
    val scans = plan.collect { case f: FileSourceScanExec => f }
    Shape(
      exchanges = plan.collect { case e: ShuffleExchangeLike => e }.size,
      codegen = plan.collect { case w: WholeStageCodegenExec => w }.size,
      scans = scans.size,
      pushed = scans.count(_.metadata.get("PushedFilters").exists(_ != "[]")),
      widest = scans.map(_.requiredSchema.length).maxOption.getOrElse(0),
      cartesian = plan.collect { case c: CartesianProductExec => c }.size)
  }

  /** Stages and builds each key, and takes the shape of its executed
    * plan. `spark` must have AQE off: its wrapper hides the plan tree
    * from `collect` and defers exchange and codegen decisions. */
  def audit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[QueryLoop.Outcome[Shape]] =
    QueryLoop.each(spark, sfDir, "planaudit", names) { (_, build) =>
      shape(build().queryExecution.executedPlan)
    }

  /** The ledger's rows in file order; none when the file is absent. */
  def read(path: String): Seq[Row] =
    if (!Files.exists(Paths.get(path))) Nil
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.startsWith("|")).drop(2) // the column names and the rule
      .map { line =>
        // name, six counts, and a note that keeps any '|' it holds
        val c = line.stripPrefix("|").stripSuffix("|").split("\\|", 8).map(_.trim)
        val shape = Try {
          val n = c.slice(1, 7).map(_.toInt)
          Shape(n(0), n(1), n(2), n(3), n(4), n(5))
        }.toOption
        Row(c(0), shape, c.lift(7).getOrElse(""))
      }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(SfDir)
    val outFile = args.lift(1).getOrElse(Ledger)
    val names = QueryLoop.selectOrExit("planaudit", Nil)
    val notes = read(outFile).map(r => r.name -> r.note).toMap
    // local[4] as the header below states
    val spark = io.Scratch.session(cpus = 4,
      extra = Map("spark.sql.adaptive.enabled" -> "false"))
    val outcomes = audit(spark, sfDir, names)
    spark.stop()

    val header = Seq(
      "# Physical-plan ledger",
      "",
      s"Generated by `graft.PlanAudit` on `$sfDir`, the scale",
      "PlanRegressionSpec checks every row at (local[4], AQE off: the",
      "initial plan AQE starts from). Columns: shuffle exchanges,",
      "whole-stage-codegen spans, parquet scans, scans with pushed",
      "filters, widest scan schema (pruning check), CartesianProduct",
      "nodes, and a note on why a count is what it is. To re-pin: run",
      "`graft.PlanAudit`, review `git diff PLANS.md`, and commit the moved",
      "rows with their notes.",
      "",
      "| query | exchanges | codegen spans | scans | pushed | widest scan cols | cartesian | note |",
      "|---|---|---|---|---|---|---|---|")
    val rows = outcomes.map { o =>
      val cells = o.result.fold(
        e => s"ERROR ${e.getClass.getSimpleName}" +: Seq.fill(5)(""),
        _.productIterator.map(_.toString).toSeq)
      (o.name +: cells :+ notes.getOrElse(o.name, "")).mkString("| ", " | ", " |")
    }
    Files.writeString(Paths.get(outFile), (header ++ rows).mkString("", "\n", "\n"))
    println(s"wrote $outFile")
    if (outcomes.exists(_.result.isLeft)) sys.exit(1)
  }
}
