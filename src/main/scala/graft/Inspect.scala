package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Query inspection: `graft.Inspect <sfDir> [name…]` (every query when
  * no name is given). Per query it prints the formatted physical plan,
  * times one cold and three warm runs of the FULL result — a `noop`
  * sink computes every row and column, where `count()` lets Catalyst
  * prune projections, windows and join sides — and prints the Spark
  * UI's stage table for the last warm run: tasks, wall/run/CPU/GC ms,
  * max/median task time, input and shuffle volumes, then a `serial:`
  * line naming the stages one task dominates, then a `codegen:` line
  * with each whole-stage-codegen stage that run executed: its source
  * length and its largest method's bytecode size, with `HUGE` on any
  * method HotSpot will not JIT-compile. Unknown names exit 2
  * before any job runs. Diagnostic only — never part of the bench or
  * verify surfaces. */
object Inspect {
  /** A stage is flagged `serial:` when one task holds at least this
    * share of its summed task run time and its wall time is at least
    * [[SerialWallMs]]: the symptom of a one-row-group source whose
    * per-row work runs in a single task. */
  private val SerialShare = 0.9
  private val SerialWallMs = 100L

  /** HotSpot's default `HugeMethodLimit`: a method with more bytecode
    * bytes than this is never JIT-compiled, so it always runs
    * interpreted. */
  val HugeMethodBytes = 8000

  private case class StageRow(id: Int, name: String, var tasks: Int = 0,
    var runMs: Long = 0, var maxMs: Long = 0,
    times: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
    var inputB: Long = 0, var srB: Long = 0, var swB: Long = 0,
    var wallMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0)

  /** Per-stage task tallies of every job run while it is attached;
    * a stage's wall time is its own submission-to-completion span. */
  private class StageListener extends SparkListener {
    val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    private def row(id: Int, name: String) =
      stages.getOrElseUpdate(id, StageRow(id, name.takeWhile(_ != '\n')))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      row(s.stageInfo.stageId, s.stageInfo.name); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      row(i.stageId, i.name).wallMs =
        i.submissionTime.zip(i.completionTime).map { case (t0, t1) => t1 - t0 }
          .getOrElse(-1L)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val r = row(t.stageId, "?")
      r.tasks += 1
      Option(t.taskMetrics).foreach { m =>
        val ms = m.executorRunTime
        r.runMs += ms; r.times += ms; r.maxMs = math.max(r.maxMs, ms)
        r.inputB += m.inputMetrics.bytesRead
        r.srB += m.shuffleReadMetrics.totalBytesRead
        r.swB += m.shuffleWriteMetrics.bytesWritten
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Inspect <sfDir> [name ...]"); sys.exit(2)
    }
    val sfDir = args(0)
    val names = QueryLoop.selectOrExit("inspect", args.drop(1).toSeq)
    val spark = io.Scratch.session()
    val outcomes = QueryLoop.each(spark, sfDir, "inspect", names)(inspect(spark, _, _))
    spark.stop()
    if (outcomes.exists(_.result.isLeft)) sys.exit(1)
  }

  /** Plan, timings and stage table of one (already staged) query. */
  private def inspect(spark: SparkSession, n: String, build: () => DataFrame): Unit = {
    def run() = QueryLoop.timeFull(build())
    println(s"==== $n")
    println(build().queryExecution.explainString(FormattedMode))
    val cold = run()
    val listener = new StageListener
    val executed = new ExecutedPlan
    val warm = Seq(run(), run(), {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(executed)
      try run() finally {
        // every stage, task and query-end event of the run is delivered
        GraftShims.waitForListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(executed)
      }
    })
    println(f"  noop sink: cold=$cold%.2f s  warm=${warm.map(w => f"$w%.2f").mkString(" ")} s  min=${warm.min}%.2f s")
    println("  stage tasks  wall_ms  run_ms  cpu_ms   gc_ms   max_ms  med_ms    input   shufR   shufW  name")
    listener.stages.values.toSeq.sortBy(-_.wallMs).foreach { r =>
      val med = if (r.times.isEmpty) 0L else r.times.sorted.apply(r.times.size / 2)
      def mb(b: Long) = f"${b / 1048576.0}%7.1f"
      println(f"  ${r.id}%5d ${r.tasks}%5d ${r.wallMs}%8d ${r.runMs}%7d ${r.cpuNs / 1000000}%7d ${r.gcMs}%7d ${r.maxMs}%8d ${med}%7d ${mb(r.inputB)} ${mb(r.srB)} ${mb(r.swB)}  ${r.name.take(60)}")
    }
    val serial = listener.stages.values.toSeq.sortBy(_.id).filter(r =>
      r.wallMs >= SerialWallMs && r.runMs > 0 && r.maxMs >= SerialShare * r.runMs)
    println("  serial: " + (if (serial.isEmpty) "none" else serial.map(r =>
      s"stage ${r.id} (${r.maxMs} of ${r.runMs} ms in 1 of ${r.tasks} tasks)")
      .mkString(", ")))
    val stages = executed.plan.toSeq.flatMap(codegenStringSeq)
    println("  codegen: " + (if (stages.isEmpty) "none" else stages.map {
      case (subtree, src, stats) =>
        val id = """^\*\((\d+)\)""".r.findFirstMatchIn(subtree).fold("?")(_.group(1))
        val huge = if (stats.maxMethodCodeSize > HugeMethodBytes) " HUGE" else ""
        s"*($id) ${src.length} chars, max method ${stats.maxMethodCodeSize} B$huge"
    }.mkString("; ")))
  }

  /** The physical plan of the last `noop` write (a v2 write command)
    * that ran while registered; a job the build ran is not one. */
  private class ExecutedPlan extends QueryExecutionListener {
    @volatile var plan: Option[SparkPlan] = None
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (qe.analyzed.isInstanceOf[V2WriteCommand]) plan = Some(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
