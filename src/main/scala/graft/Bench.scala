package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Large-SF mode (SPARK_GRAFT_GC_EACH=1): one long-lived JVM keeps
    // every completed query's shuffle files on spark.local.dir until
    // the ContextCleaner's periodic GC (default: 30 MINUTES) lets it
    // notice the ShuffleDependencies are unreachable — at sf10 the
    // accumulated files OOM-killed the run at 93 GiB on the RAM-backed
    // scratch tier. The fix is the one a long-lived cluster session
    // needs too: sweep after every query (Scratch.sweep) so the scratch
    // footprint is bounded by the largest SINGLE query's working set,
    // not the sum over the run. Off by default — the sf0.1 baseline
    // envelope was measured without per-query GC pauses.
    val gcEach = sys.env.get("SPARK_GRAFT_GC_EACH").contains("1")
    val spark = graft.io.Scratch.session(extra = Map(
      "spark.cleaner.periodicGC.interval" -> (if (gcEach) "60s" else "30min")))
    // JIT/codegen warm-up outside the measured window, so the several
    // seconds of first-query JVM warm-up don't land on whichever
    // query the Map happens to yield first
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }

    // a failed query records -1 (NOT its elapsed time) so a breakage
    // is visible in the JSON instead of masquerading as a timing;
    // deterministic (sorted) execution order for run-to-run
    // comparability. Optional trailing args restrict to those queries
    // (local iteration only — the driver runs the full set).
    val only = args.toSet
    // fixture staging (layout writes, stream drains) runs BEFORE the
    // per-query timer and is reported separately as stage_s — the
    // timed number is query-only, so it is comparable across rounds
    // (staging I/O was the dominant source of cross-round swings)
    val staging = SparkEntry.staging
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val s0 = System.nanoTime()
        val stageOk = try { staging.get(name).foreach(_(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name staging failed: ${e.getMessage}"); false
        }
        val stageS =
          if (staging.contains(name)) Some((System.nanoTime() - s0) / 1e9)
          else None
        val t0 = System.nanoTime()
        val ok = stageOk && (try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        })
        val secs = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // progress to stderr: a run killed mid-sweep (OOM, host stall)
        // should show exactly where it died instead of an empty log
        System.err.println(f"[bench] $name%s ${secs}%.2f s")
        if (gcEach) graft.io.Scratch.sweep(spark)
        (name, secs, stageS)
      }
    // Self-adjudication of host-stall windows: this host occasionally
    // hits multi-minute hypervisor-side stalls that inflate a
    // time-contiguous block of queries 5-20x (the r07 qF7-qFD cluster;
    // characterized in BASELINE v18). The round-7 judge's rule is
    // "adjudicate by re-running, never by trusting one run" — so any
    // row slower than the threshold is re-run ONCE in the same
    // process, with BOTH measurements emitted under "retried" so
    // nothing is hidden. The row adopts the retry value ONLY when the
    // two runs diverge beyond a stall-sized ratio (>2x, the round-9
    // advisor rule): an unconditional min(first, retry) was
    // systematically best-of-two-biased for heavy queries because the
    // retry always runs second in a warmed JVM/page cache. Within the
    // 2x band the FIRST measurement stands (comparable to
    // single-measurement baselines); beyond it, the faster run is the
    // unstalled one regardless of order.
    val retryThreshold =
      sys.env.getOrElse("SPARK_GRAFT_RETRY_S", "2.5").toDouble
    val stallRatio =
      sys.env.getOrElse("SPARK_GRAFT_STALL_RATIO", "2.0").toDouble
    val adjudicated = results.map { case (name, t, st) =>
      if (t >= retryThreshold) {
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name retry failed: ${e.getMessage}")
          false
        }
        // a FAILED retry records -1 as the second measurement (not a
        // copy of the first) so it can't read as a confirming re-run
        val t2 = (System.nanoTime() - t0) / 1e9
        if (gcEach) graft.io.Scratch.sweep(spark)
        if (ok) {
          val adj = if (t > stallRatio * t2) t2 else t
          (name, adj, st, Some((t, t2)))
        } else (name, t, st, Some((t, -1.0)))
      } else (name, t, st, None)
    }
    val qs = adjudicated.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val stages = adjudicated.collect { case (k, _, Some(sv), _) => s"\"" + k + "\":" + sv }
      .mkString("{", ",", "}")
    val retriedFull = adjudicated.collect { case (k, _, _, Some((t1, t2))) =>
      s"\"" + k + "\":[" + t1 + "," + t2 + "]" }
      .mkString("{", ",", "}")
    val failed = adjudicated.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
    val total = adjudicated.map(_._2).filter(_ >= 0).sum
    // total:-1 on any failure: a broken heavy query must not shrink
    // the reported total and slip under a vs-baseline envelope
    val reported = if (failed.nonEmpty) -1.0 else total
    val fullLine =
      s"""{"metric":"total","value":$reported,"unit":"sec","queries":$qs,"staging":$stages,"retried":$retriedFull,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(fullLine)
    // the COMPLETE per-query record also goes to a file: the driver's
    // stdout capture window truncates the full line (BENCH_r08 kept
    // only fragments), so cross-round per-query diffs need an
    // artifact that does not depend on capture limits. Committed per
    // round as BENCH_FULL.json.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query record written to $outFile")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // compact summary printed LAST: the full per-query line above is
    // larger than the driver's capture window, so rounds were being
    // compared on whatever 2-query overlap survived truncation. A
    // tail-anchored short line always survives and carries the totals
    // plus the 10 heaviest queries for cross-round comparison.
    val stagingTotal = adjudicated.flatMap(_._3).sum
    // Locale.ROOT formatting: the f interpolator uses the default
    // locale, which on comma-decimal hosts emits "1,23" — invalid JSON
    def num(v: Double, scale: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${scale}f", Double.box(v))
    val top10 = adjudicated.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    val retriedShort = adjudicated.collect { case (k, _, _, Some((t1, t2))) =>
      s"\"" + k + "\":[" + num(t1, 2) + "," + num(t2, 2) + "]" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"summary","value":$reported,"unit":"sec","n_queries":${adjudicated.size},"n_failed":${failed.size},"query_total_s":${num(total, 1)},"staging_total_s":${num(stagingTotal, 1)},"top10":$top10,"retried":$retriedShort,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
