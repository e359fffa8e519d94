package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Parallelism-restoring repartitions for two shapes the planner
  * cannot size on its own (optimization guide §2.2/§2.5):
  *
  *  1. **Pre-fan-out redistribution** ([[fanout]]/[[fanoutSized]]):
  *     AQE's partition coalescing sizes post-shuffle partitions by
  *     their INPUT bytes. A stage whose input is a few MB of collected
  *     posting/neighbor lists but whose body is a C(n,2) pair Generate
  *     (the q11B/qDB/qB4/q132 wedge shape) gets coalesced into one or
  *     two tasks, and the quadratic explode runs serially — at ANY
  *     scale, because the coalescer never sees the Generate's output
  *     volume. An explicit hash repartition with a pinned partition
  *     count is exempt from AQE coalescing (REPARTITION_BY_NUM), so
  *     the explode keeps the configured width. The extra exchange
  *     moves only the pre-explode (small) rows. [[fanoutSized]] sizes
  *     the pinned count from the pre-explode volume instead of always
  *     pinning full shuffle width: the r15 full-width pin made the
  *     sub-second sf0.1 explodes SLOWER at 32 cores than at 8
  *     (per-task overhead > win; driver r15 qB4 core-ratio 0.38), so
  *     the width must follow data volume, not core count.
  *
  *  2. **Unsplittable-scan spreading ([[scan]])**: a source that
  *     arrives as fewer splits than the cluster has cores (one file
  *     with one parquet row group — or a gzip file, guide §2.5) runs
  *     its whole first stage serially: scan, filters, and every
  *     narrow expression fused into it. When downstream per-row work
  *     is expensive (shingling, hashing, per-row decode), a
  *     repartition right after the read spreads it. ADAPTIVE: when
  *     the scan already yields at least 2 splits (any real-scale
  *     dataset), this is the identity — no exchange is added, so the
  *     rewrite never costs a full-data shuffle at 100 TB.
  */
object Spread {

  /** Configured shuffle width — the deployment's parallelism knob.
    * A non-numeric value (some deployments set the conf to "auto"
    * under AQE) falls back to the scheduler's default parallelism. */
  private def width(df: DataFrame): Int = {
    val raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try raw.trim.toInt
    catch { case _: NumberFormatException =>
      df.sparkSession.sparkContext.defaultParallelism }
  }

  /** Hash-repartition `df` on `keys` with a PINNED partition count so
    * AQE cannot coalesce the downstream fan-out stage (see class
    * doc). Use immediately before a Generate whose output is much
    * larger than its input (pair explodes over collected lists) when
    * the explode volume genuinely scales with the corpus (q11B/qDB);
    * for bounded or SF-proportional volumes prefer [[fanoutSized]]. */
  def fanout(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.repartition(width(df), keys: _*)

  /** Demand-sized [[fanout]]: pin ceil(units / unitsPerTask)
    * partitions, clamped to [1, configured shuffle width]. `units` is
    * a cheap proxy for the explode's input volume that the call site
    * already has on hand (qB4: the corpus doc count from the parquet
    * footer; q132: the bounded calibration-sample size) — never a new
    * data scan. Rationale (guide §2.1/§2.2): the pair explode costs
    * per-task overhead to spread, so the width should grow with the
    * work. Full width at real scale (units/unitsPerTask >> width,
    * clamp binds), a handful of tasks at bench SFs where the whole
    * explode is sub-second. */
  def fanoutSized(df: DataFrame, keys: Seq[Column], units: Long,
      unitsPerTask: Long): DataFrame = {
    require(unitsPerTask > 0, "unitsPerTask must be positive")
    val t = math.max(1L, math.min(width(df).toLong,
      (units + unitsPerTask - 1) / unitsPerTask)).toInt
    // keys are hash-wrapped so the pinned exchange is never
    // canonically redundant with a child ENSURE exchange on the same
    // keys/count — the planner ELIMINATES a redundant repartition and
    // hands the explode back to AQE byte-based coalescing, which is
    // exactly the serial-explode failure this exchange exists to
    // prevent (r15's qB4/qDB pins were silently dead this way: no
    // REPARTITION_BY_NUM in their committed plan dumps). Downstream
    // consumers add their own exchanges, so the partitioning
    // expression itself carries no semantics beyond row spreading.
    df.repartition(t, org.apache.spark.sql.functions.xxhash64(keys: _*))
  }

  /** True iff the plan is a narrow chain (project/filter/alias) over
    * one v1 file relation — the only shape [[scan]] may probe.
    * Everything else (joins, aggregates, checkpoints, unions) is
    * rejected: under AQE, building the RDD of an exchange-bearing
    * plan EXECUTES every upstream shuffle/broadcast stage eagerly at
    * query-construction time, and the real job then re-executes them
    * (no cross-QueryExecution stage reuse) — and the count observed
    * would be the AQE-coalesced post-shuffle count, not a scan split
    * count, so the single-partition predicate misfires on any small
    * aggregate (ADVICE r15). */
  private def narrowScan(plan: LogicalPlan): Boolean = plan match {
    case _: LogicalRelation   => true // v1 file scan
    // exchange-free leaf generators (tests, literal frames)
    case _: org.apache.spark.sql.catalyst.plans.logical.Range => true
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    case p: Project           => narrowScan(p.child)
    case f: Filter            => narrowScan(f.child)
    case a: SubqueryAlias     => narrowScan(a.child)
    case _                    => false
  }

  /** Spread an under-split scan (see class doc). Fires ONLY when `df`
    * is a narrow chain over a file scan (see [[narrowScan]] — on any
    * other shape this is the identity and the plan is never probed)
    * AND that scan plans to a single loaded split ([[loadedSplits]])
    * — the guide §2.5 "one huge unsplittable file" case, where the
    * whole first stage is serial no matter how many cores exist. Any
    * source whose rows already arrive in several splits
    * keeps its natural scan parallelism: repartitioning it would
    * shuffle EVERY byte to upgrade partial parallelism, and at sf10
    * that turned a 7-row-group lineitem scan (7-way) into a serial
    * full-gigabyte shuffle (q12A measured 6.9x slower). `target`
    * (<= 0 = session default parallelism) sizes the spread. Call it
    * on the narrow projected frame, before the expensive per-row
    * work. Pass a high-cardinality `keys` where one exists: a keyless
    * round-robin repartition first pays a local SORT of its input
    * (sortBeforeRepartition, guide §2.5) so retried tasks reproduce
    * their row assignment — hash partitioning needs no such sort. */
  def scan(df: DataFrame, keys: Seq[Column] = Nil, target: Int = 0): DataFrame = {
    val t =
      if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    if (t <= 1 || !narrowScan(plan)) df
    else if (loadedSplits(df, plan, t) > 1) df
    else if (keys.nonEmpty) df.repartition(t, keys: _*)
    else df.repartition(t)
  }

  /** Splits that actually carry rows. A parquet row group is read by
    * the one split holding its midpoint, so a file with ONE row group
    * cut into several byte ranges (sf0.1 lineitem: 10.8 MB, 3 splits)
    * still scans in a single task while the others return nothing.
    * Row groups are counted from the footers only for fewer files than
    * `t`, and the count is memoized per file version, so a many-file
    * dataset costs no footer read and a repeated build no I/O; a
    * single row group needs no planning at all. */
  private def loadedSplits(df: DataFrame, plan: LogicalPlan, t: Int): Int = {
    // exchange-free by the narrowScan gate, so planning runs no job
    lazy val planned = df.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f.inputRDD.getNumPartitions }
      .getOrElse(df.rdd.getNumPartitions)
    val parquet = plan.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation
          if r.fileFormat.isInstanceOf[ParquetFileFormat] => r }
    parquet.map(r => (r, r.location.listFiles(Nil, Nil).flatMap(_.files))) match {
      case Some((r, files)) if files.size < t =>
        lazy val conf = r.sparkSession.sessionState.newHadoopConf()
        val groups = files.map { f =>
          rowGroupCounts.computeIfAbsent(
            (f.getPath.toString, f.getLen, f.getModificationTime),
            _ => rowGroups(f.getPath, conf))
        }.sum
        if (groups <= 1) groups else math.min(groups, planned)
      case _ => planned
    }
  }

  /** Row groups per (path, length, modification time). */
  private val rowGroupCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Int]()

  private def rowGroups(path: Path, conf: Configuration): Int = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try reader.getRowGroups.size finally reader.close()
  }
}
