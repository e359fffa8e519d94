package graft.io

import org.apache.spark.sql.SparkSession

/** Scratch-space selection and the one session factory for the
  * single-JVM harness entrypoints (Bench / Verify / PlanAudit /
  * Inspect / OpBench / Datagen) and the specs.
  *
  * Spark treats `spark.local.dir` as the fast-ephemeral tier — on a
  * real cluster the cluster manager points it at executor-local NVMe.
  * This container's only disk is a shared virtual block device whose
  * throughput varies round-to-round (measured 103 MB/s fsync this
  * round, with multi-second writeback stalls that landed on whichever
  * queries ran during them), while the host has 128 GiB of RAM of
  * which the datasets use a few GiB. So the harness routes ALL
  * ephemeral I/O — shuffle files, localCheckpoint spill, staged
  * fixtures, managed-table warehouse — at the RAM-backed tmpfs when
  * one is writable, exactly the "scratch goes on the fast local tier"
  * placement a cluster deployment makes. Durable outputs (Verify's
  * result parquet for the DuckDB oracle compare) keep their
  * caller-given paths untouched.
  *
  * Calling [[root]] also re-points `java.io.tmpdir`, so the staged
  * fixtures built via `Files.createTempDirectory` /
  * `sys.props("java.io.tmpdir")` land on the same tier without each
  * call site knowing about the policy.
  */
object Scratch {
  /** Preferred scratch root: a subdir of /dev/shm when writable,
    * else the JVM default tmpdir. Idempotent; first use re-points
    * the java.io.tmpdir SYSTEM PROPERTY for call sites that read it
    * at staging time (`sys.props("java.io.tmpdir")`). NOTE: JDK 17
    * caches the property at JVM start for NIO's temp-file factory
    * (jdk.internal.util.StaticProperty), so `Files.createTempDirectory
    * (prefix)` ignores the runtime re-point — NIO call sites must use
    * [[tempDir]] instead. */
  lazy val root: String = {
    val shm = new java.io.File("/dev/shm")
    // SPARK_GRAFT_SCRATCH_DIR overrides the tmpfs preference: the RAM
    // tier only works while the run's accumulated shuffle/spill
    // working set fits in memory — the sf10 spot bench (round 10)
    // exceeded it at 93 GiB and was OOM-killed, exactly the case
    // where a cluster points spark.local.dir at local disk instead.
    val forced = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map { p => val d = new java.io.File(p); d.mkdirs(); d }
      .filter(d => d.isDirectory && d.canWrite)
    val base =
      if (forced.isDefined || (shm.isDirectory && shm.canWrite)) {
        val parent = forced.getOrElse {
          val p = new java.io.File(shm, "graft_scratch"); p.mkdirs(); p
        }
        purgeStale(parent)
        // per-JVM subtree named by pid + process START TIME: sibling
        // JVMs can decide liveness from the name alone, so a
        // long-running run's staged fixtures and shuffle dirs are
        // NEVER purged while it is alive (an age cutoff alone deletes
        // a >cutoff-old live run's write-once fixtures out from under
        // it). The start-time suffix disambiguates a RECYCLED pid: an
        // unrelated live process that happens to reuse a dead run's
        // pid no longer keeps that run's subtree alive forever — the
        // purge compares the recorded start instant against the live
        // process's actual one.
        val self = ProcessHandle.current()
        val started = self.info().startInstant()
          .map[java.lang.Long](_.toEpochMilli).orElse(-1L)
        val d = new java.io.File(parent, s"pid-${self.pid()}-$started")
        d.mkdirs()
        d.getAbsolutePath
      } else sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = base
    base
  }

  /** Best-effort reclaim of sibling per-JVM subtrees — per-JVM dirs
    * are never reused, so repeated harness runs would otherwise grow
    * the RAM tier without bound. `pid-<n>-<startMillis>` entries are
    * deleted as soon as their owner process is DEAD — where "owner"
    * means a live process with BOTH that pid and that start instant
    * (±2 s for clock-source rounding): a recycled pid whose new
    * occupant started at a different time does not keep a dead run's
    * subtree alive. Entries whose ownership cannot be decided from
    * the name (legacy `pid-<n>` layouts, `-1` start sentinel) fall
    * back to liveness-by-pid PLUS a 6-hour age cutoff, so an
    * unverifiable owner bounds the leak instead of pinning it
    * forever. Failures are ignored (another JVM may purge the same
    * entry first). */
  private def purgeStale(dir: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    def liveStart(pid: Long): Option[Long] = {
      val h = ProcessHandle.of(pid)
      if (!h.isPresent) None
      else Some(h.get().info().startInstant()
        .map[java.lang.Long](_.toEpochMilli).orElse(-1L).longValue())
    }
    try Option(dir.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case s if s.startsWith("pid-") =>
          val parts = s.stripPrefix("pid-").split("-", 2)
          val pid = parts(0).toLongOption
          val recorded =
            if (parts.length == 2) parts(1).toLongOption else None
          val keep = pid.exists { p =>
            (liveStart(p), recorded) match {
              case (None, _) => false // owner pid dead → purge
              case (Some(actual), Some(rec)) if rec >= 0 && actual >= 0 =>
                math.abs(actual - rec) <= 2000 // same process → keep
              case _ =>
                // live pid but identity unverifiable (legacy name or
                // missing start instant): keep only within the age
                // cutoff — bounds the recycled-pid RAM leak
                f.lastModified() >= cutoff
            }
          }
          if (!keep) rm(f)
        case _ => if (f.lastModified() < cutoff) rm(f)
      }
    })
    catch { case _: Exception => () }
  }

  /** Fresh temp directory ON the scratch tier — the drop-in for
    * `Files.createTempDirectory(prefix)`, which on JDK 17 is pinned
    * to the boot-time tmpdir regardless of the system property. */
  def tempDir(prefix: String): String =
    java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(root), prefix)
      .toString

  /** Apply the scratch policy to a session builder: shuffle/spill
    * and the managed-table warehouse follow the scratch root.
    * cleanCheckpoints (ADVICE r9): Spark's ContextCleaner only
    * deletes reliable-checkpoint data when this flag is set (default
    * false), so a long CheckpointStrategy.Reliable iteration would
    * otherwise accumulate O(all rounds) of checkpoint files — on the
    * /dev/shm-backed root that is RAM held until process death. With
    * the flag, superseded rounds are reclaimed as their RDDs are
    * GC'd (amortized O(live rounds); Staged remains the mode with a
    * deterministic O(2) footprint). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.local.dir", root)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.warehouse.dir",
        new java.io.File(root, "warehouse").getAbsolutePath)

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The builder behind [[session]]: the scratch policy, `local[cpus]`
    * with `cpus` shuffle partitions, session time zone UTC (so the
    * NTZ→LTZ events cast in io/Sources.scala is wall-clock-identity on
    * any host), no UI, then the caller's `extra` settings. */
  def builder(cpus: Int = defaultCpus,
      extra: Map[String, String] = Map.empty): SparkSession.Builder =
    configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)

  /** The one session every main and spec runs on: [[builder]]'s
    * settings, log level WARN. */
  def session(cpus: Int = defaultCpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = builder(cpus, extra).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-query sweep for long runs, called by graft.QueryLoop after
    * every key under `SPARK_GRAFT_GC_EACH=1`. System.gc() alone lets localCheckpoint
    * blocks from COMPLETED queries survive until the ContextCleaner
    * notices their RDD objects are unreachable — on the sf10 spot
    * sweep the accumulation OOMed the shared 32g JVM in the RETRY pass
    * (qA3's retry died, and the executor's uncaught OOM handler
    * stopped the context, taking every remaining retry with it). So
    * all still-registered persistent RDDs are unpersisted first
    * (non-blocking; completed queries never re-read them), THEN the
    * collector is nudged, which also lets the cleaner drop the
    * completed queries' shuffle files: the scratch and heap footprint
    * is bounded by one query's working set, not the sum over the run.
    * INVARIANT this relies on: any fixture shared ACROSS queries must
    * be parquet-backed (Staging), never a cached/localCheckpoint'd RDD
    * — unpersisting a localCheckpoint truncates lineage, so a
    * cross-query RDD fixture would die here with missing-block errors
    * instead of recomputing. Keep it that way when adding staging
    * steps. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
