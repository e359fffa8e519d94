package graft.io

import org.apache.spark.sql.DataFrame

/** The one materialization path in engine code: the per-round cuts of
  * the iterative cores (connected components, PageRank, k-core, the
  * PPJoin prefix base…) and the frames a query or operator reads more
  * than once (DistributedRank's ranked partitions, qB7's edge list).
  * ScratchSpec pins that no other main source checkpoints directly
  * (OpBench's fixed operator inputs excepted).
  *
  * `localCheckpoint()` is the right default for the single-JVM
  * harness — eager, in-memory(+local-disk), zero external
  * dependencies — but local checkpoint blocks are NON-REPLICATED and
  * SEVER LINEAGE: on a 1000-executor cluster, losing one executor
  * mid-query loses blocks that can no longer be recomputed, and the
  * whole job dies instead of recovering. Production deployments need
  * a fault-tolerant materialization tier; which one is a deployment
  * decision, so callers take it as a parameter:
  *
  *  - [[CheckpointStrategy.EagerLocal]] (default everywhere):
  *    `localCheckpoint(eager)` — fastest, executor-loss-fatal.
  *    Correct for single-node harnesses and for clusters whose
  *    scheduler resubmits the whole job on failure anyway.
  *  - [[CheckpointStrategy.Reliable]]: `Dataset.checkpoint(eager)` to
  *    the SparkContext checkpoint dir — on a real cluster that dir
  *    lives on HDFS/S3, so blocks survive any executor loss and the
  *    lineage cut is durable. If no checkpoint dir is set, one is
  *    created under [[Scratch.root]] (which locally makes it a
  *    same-machine stand-in exercising the identical code path).
  *  - [[CheckpointStrategy.Staged]]: explicit parquet round-tripping
  *    (the [[Staging]] discipline) — write each round to a directory
  *    and read it back. Equivalent durability to Reliable when the
  *    directory is shared storage, plus the files are plain parquet:
  *    inspectable, resumable, and reusable across jobs. Rolling
  *    `step` files delete their superseded predecessor once the
  *    successor is fully written, so the footprint is O(2 rounds),
  *    not O(all rounds).
  *
  * Result-identity across the three modes is pinned by
  * CheckpointStrategySpec: the strategy changes WHERE blocks live,
  * never what the loop computes.
  */
trait CheckpointStrategy {
  /** Fresh per-invocation session. Iterative callers create one per
    * call so Staged mode can track and reclaim superseded rounds.
    * Open (not sealed): a deployment may bring its own
    * materialization tier, and CheckpointRecoverySpec injects a
    * crash-after-round wrapper to prove the recovery contract. */
  def session(tag: String): CheckpointStrategy.Mat
}

object CheckpointStrategy {

  /** Per-invocation materializer.
    *  - `pin`: materialize a frame the WHOLE loop re-reads (edge
    *    lists, degree-joined views). Never reclaimed mid-call.
    *  - `step`: materialize one round's output. Each round reads only
    *    its immediate predecessor, so `step` may reclaim round r−1
    *    once round r is fully materialized. Staged does so
    *    deterministically (O(2 rounds) on disk). Reliable leaves it
    *    to Spark's ContextCleaner, which deletes checkpoint data ONLY
    *    under `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    *    — the harness entrypoints set it via [[Scratch.configure]],
    *    making the footprint O(live rounds) amortized (GC-driven, not
    *    deterministic); a context without the flag accumulates O(all
    *    rounds), which on the /dev/shm-backed local fallback is RAM.
    *    EagerLocal blocks are dropped by the same cleaner as their
    *    RDDs are GC'd. */
  trait Mat {
    def pin(df: DataFrame): DataFrame
    def step(df: DataFrame): DataFrame
  }

  /** `localCheckpoint` — the single-JVM default. Stats are reset to
    * the blocks' real size ([[org.apache.spark.sql.GraftShims.resetCheckpointStats]]):
    * the checkpoint otherwise CARRIES the child plan's size estimate,
    * and a loop that reads its previous round twice per round squares
    * that estimate every round — the digit count doubles and by round
    * ~20 the driver spends minutes per stats call on million-digit
    * BigInt products (the sf10 qC1 failure). Staged never had the
    * problem: parquet round-trips get fresh file-size stats. */
  case object EagerLocal extends CheckpointStrategy {
    def session(tag: String): Mat = new Mat {
      def pin(df: DataFrame): DataFrame =
        org.apache.spark.sql.GraftShims.resetCheckpointStats(df.localCheckpoint())
      def step(df: DataFrame): DataFrame = pin(df)
    }
  }

  /** `Dataset.checkpoint` into the SparkContext checkpoint dir
    * (replicated/durable when that dir is HDFS/S3). Sets a
    * [[Scratch.root]]-local dir if the caller hasn't configured one,
    * so the mode is runnable — and spec-testable — everywhere. */
  case object Reliable extends CheckpointStrategy {
    def session(tag: String): Mat = new Mat {
      private def ensureDir(df: DataFrame): Unit = {
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            new java.io.File(Scratch.root, "reliable_ckpt").getAbsolutePath)
      }
      def pin(df: DataFrame): DataFrame = {
        ensureDir(df)
        org.apache.spark.sql.GraftShims.resetCheckpointStats(df.checkpoint())
      }
      def step(df: DataFrame): DataFrame = pin(df)
    }
  }

  /** Parquet round-tripping under `root` (default: a fresh temp dir
    * on the [[Scratch]] tier — pass a shared-filesystem path for a
    * real cluster). `step` deletes the superseded round after its
    * successor is written; `pin` and the final round stay until the
    * caller (or the scratch purge policy) reclaims the directory. */
  final case class Staged(root: Option[String] = None) extends CheckpointStrategy {
    def session(tag: String): Mat = new Mat {
      private lazy val dir: String = root match {
        case Some(r) =>
          val d = new java.io.File(r, s"ckpt_$tag")
          d.mkdirs(); d.getAbsolutePath
        case None => Scratch.tempDir(s"ckpt_${tag}_")
      }
      private var prevStep: Option[java.io.File] = None
      private var n = 0

      private def writeRead(df: DataFrame, name: String): DataFrame = {
        val p = new java.io.File(dir, name).getAbsolutePath
        df.write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
      }
      def pin(df: DataFrame): DataFrame = {
        val out = writeRead(df, s"pin$n"); n += 1; out
      }
      def step(df: DataFrame): DataFrame = {
        val f = new java.io.File(dir, s"step$n"); n += 1
        val out = writeRead(df, f.getName)
        // round r is on disk → round r−1 can never be read again
        // (each round's plan reads only its immediate predecessor)
        prevStep.foreach(delete)
        prevStep = Some(f)
        out
      }
      private def delete(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
        f.delete(); ()
      }
    }
  }
}
