package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.io.{Sinks, Sources}
import graft.ops.{Aggregates, Cleanse, Pairs}
import graft.pipeline.TweetPipeline
import graft.queries.{PipelineQueries, TextQueries}
import graft.text.{EntityRuler, Sentiment}

/** Stage and task totals of everything the session runs. */
final class ExecStats extends SparkListener {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, buildJobs = 0L
  var outBytes, shufWrite, shufRead, spill = 0L
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      outBytes += m.outputMetrics.bytesWritten
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      shufRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  /** Largest max ÷ median task time over stages with ≥ 2 tasks. */
  def skew: Double = synchronized {
    val r = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def reset(): Unit = synchronized {
    jobs = 0; buildJobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    outBytes = 0; shufWrite = 0; shufRead = 0; spill = 0
    taskMs.clear()
  }
}

/** Catalyst phase times and shuffle exchanges of every executed query.
  * A DataFrame is analyzed when it is built, so its analysis time is
  * read from the built frame ([[built]]); the write that executes it
  * adds optimization and planning. */
final class PhaseStats extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var analysisMs, optimizationMs, planningMs, exchanges = 0L

  def built(df: DataFrame): Unit = synchronized {
    analysisMs += df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    def ms(p: String) = qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    exchanges += collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(): Unit = synchronized {
    analysisMs = 0; optimizationMs = 0; planningMs = 0; exchanges = 0
  }
}

/** Nested wall-clock spans, kept in memory and written once at the end.
  * With `on = false` a span only evaluates its body. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  val spans = mutable.ArrayBuffer[Span]()
  var run = ""
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, run, t0, System.nanoTime())
      }
    }

  private def dur(s: Span) = (s.end - s.start) / 1e9

  /** Seconds per span name: total and self (total minus child spans). */
  def totals: Map[String, Double] = spans.groupBy(_.name).map { case (k, v) => k -> v.map(dur).sum }
  def selfTimes: Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, v) => p -> v.map(dur).sum }
    spans.groupBy(_.name).map { case (k, v) =>
      k -> v.map(s => dur(s) - child.getOrElse(s.id, 0.0)).sum }
  }

  def json: String = spans.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(s.run)},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, run: String, start: Long, end: Long)
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A workload: one batch = every output of one run, fully materialized. */
trait Workload {
  /** Runs one batch; returns the number of outputs (operations) produced. */
  def batch(tr: Tracer): Int
  /** Writes each output as parquet under `dir` for the oracle compare
    * and returns output name → DuckDB SQL. */
  def dumpForCheck(dir: String): Map[String, String]
  /** Per-layer figures measured on their own (traced runs only). */
  def isolated(tr: Tracer, m: mutable.Map[String, Double]): Unit
}

object Main {
  /** Warm batches per run, however long they take. */
  private val MinBatches = 3
  /** Unmeasured batches after the cold one, at least this many and for
    * at least this long: on a 4-core host the batch time of both
    * workloads falls steeply for the first few batches after the cold
    * one (JIT compilation), and a window inside that slope reads
    * whatever point of the curve it catches. */
  private val WarmupBatches = 3
  private val WarmupSeconds = 5.0
  private val Months = (1 to 12).map(m => s"2019-$m")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Jobs submitted while `body` builds DataFrames, added to
    * `stats.buildJobs` (counted on traced runs only). */
  private def countJobs[T](tr: Tracer, stats: ExecStats, spark: SparkSession)(body: => T): T =
    if (!tr.on) body
    else {
      PerfbenchBus.drain(spark.sparkContext)
      val jobs0 = stats.jobs
      val r = body
      PerfbenchBus.drain(spark.sparkContext)
      stats.buildJobs += stats.jobs - jobs0
      r
    }

  /** Times one layer on its own as `<name>_s`, summed into
    * `trace.isolated_sum_s` unless the layer composes others
    * (`pipeline.enrich` = sample + cleanse + NER + sentiment); `io.write`
    * also records the tasks' output megabytes as `io.write_mb`. */
  private def layer(tr: Tracer, stats: ExecStats, sc: org.apache.spark.SparkContext,
                    m: mutable.Map[String, Double], name: String)(body: => Unit): Unit = {
    PerfbenchBus.drain(sc)
    val out0 = stats.outBytes
    val t = secs(tr(s"isolated.$name") { body })._2
    PerfbenchBus.drain(sc)
    m(s"${name}_s") = t
    if (name != "pipeline.enrich")
      m("trace.isolated_sum_s") = m.getOrElse("trace.isolated_sum_s", 0.0) + t
    if (name == "io.write") m("io.write_mb") = (stats.outBytes - out0) / 1048576.0
  }

  /** Megabytes of the files `dfs` scan. */
  private def inputMb(dfs: Seq[DataFrame]): Double =
    dfs.flatMap(_.inputFiles).distinct
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum / 1048576.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def newSession(cores: Int): SparkSession = {
    val s = graft.io.Scratch.configure(SparkSession.builder().master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final class Tweets(spark: SparkSession, dir: String, matcher: EntityRuler.Matcher,
                     sampleN: Int, outDir: String, stats: ExecStats,
                     phases: PhaseStats) extends Workload {
    private val outputNames = Seq(
      "freq1d" -> "q70_tweet_pipeline_freq", "sent1d" -> "q7F_tweet_pipeline_sent1d",
      "sent2d" -> "q71_tweet_pipeline_sent2d", "freq2d" -> "q80_tweet_pipeline_freq2d")

    private def run(tr: Tracer): (TweetPipeline.Outputs, Seq[(String, DataFrame)]) = {
      val raw = tr("io.source") { PipelineQueries.tweetFrame(spark, dir) }
      val o = countJobs(tr, stats, spark) {
        tr("pipeline.build") {
          TweetPipeline.run(raw, matcher, sampleN = sampleN, months = Months,
            persist = true, hashSample = true)
        }
      }
      val outs = Seq("freq1d" -> o.freq1d, "sent1d" -> o.sent1d, "sent2d" -> o.sent2d, "freq2d" -> o.freq2d)
      outs.foreach(kv => phases.built(kv._2))
      (o, outs)
    }

    def batch(tr: Tracer): Int = {
      val (o, outs) = run(tr)
      try tr("io.write") {
        outs.foreach { case (k, df) => tr(s"io.write.$k") { Sinks.writeCsv(df, s"$outDir/csv/$k", singleFile = true) } }
      } finally o.release()
      outs.size
    }

    def dumpForCheck(checkDir: String): Map[String, String] = {
      val (o, outs) = run(new Tracer(false))
      try outs.foreach { case (k, df) =>
        Sinks.writeParquet(df, s"$checkDir/${outputNames.toMap.apply(k)}")
      } finally o.release()
      // the registry's pipeline oracles mirror a fixed 500-row sample;
      // this workload samples `sampleN` rows
      outputNames.map { case (_, key) =>
        val sql = SparkEntry.oracleSql(key)
        val fixed = "LIMIT 500"
        require(sql.indexOf(fixed) >= 0 && sql.indexOf(fixed) == sql.lastIndexOf(fixed),
          s"$key: oracle SQL has no single '$fixed' sample bound")
        key -> sql.replace(fixed, s"LIMIT $sampleN")
      }.toMap
    }

    def isolated(tr: Tracer, m: mutable.Map[String, Double]): Unit = {
      val sc = spark.sparkContext
      layer(tr, stats, sc, m, "io.read") { noop(PipelineQueries.tweetFrame(spark, dir)) }
      m("io.read_mb") = inputMb(Seq(PipelineQueries.tweetFrame(spark, dir)))
      val raw = PipelineQueries.tweetFrame(spark, dir).persist(StorageLevel.MEMORY_ONLY)
      val inputRows = raw.count()
      layer(tr, stats, sc, m, "ops.cleanse") {
        noop(raw.select(
          Cleanse.parseTweetDate(col("Timestamp")),
          Cleanse.logBucket(Cleanse.parseKmNumber(col("Comments"))),
          Cleanse.logBucket(Cleanse.parseKmNumber(col("Likes"))),
          Cleanse.logBucket(Cleanse.parseKmNumber(col("Retweets"))),
          Cleanse.categoryFor(Cleanse.extractKeyword(col("Page_URL")))))
      }
      layer(tr, stats, sc, m, "text.ner") { noop(raw.select(EntityRuler.nerColumn(matcher)(col("Text")))) }
      layer(tr, stats, sc, m, "text.sentiment") { noop(raw.select(Sentiment.sentimentColumnNative(col("Text")))) }
      // the same content-hash order key as TweetPipeline.enrich(hashSample = true)
      def blk(c: String) = coalesce(md5(col(c)), lit("-"))
      val sample = raw.filter(col("Timestamp").isNotNull)
        .orderBy(md5(concat(blk("Timestamp"), blk("Text"), blk("Page_URL"),
          blk("Comments"), blk("Likes"), blk("Retweets"))))
        .limit(sampleN)
      layer(tr, stats, sc, m, "pipeline.sample") { noop(sample) }
      layer(tr, stats, sc, m, "pipeline.enrich") {
        noop(TweetPipeline.enrich(raw, matcher, sampleN = sampleN, hashSample = true))
      }
      def cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val cached0 = cachedBytes
      val enriched = TweetPipeline.enrich(raw, matcher, sampleN = sampleN, hashSample = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val enrichedRows = enriched.count()
      m("pipeline.cache_mb") = (cachedBytes - cached0) / 1048576.0
      val sampledRows = sample.count()
      val cleansedRows = sample
        .withColumn("TweetDate", Cleanse.parseTweetDate(col("Timestamp")))
        .filter(col("TweetDate").isNotNull && col("Page_URL").isNotNull &&
          Cleanse.extractKeyword(col("Page_URL")).isNotNull).count()
      val nerHits = raw.select(EntityRuler.nerColumn(matcher)(col("Text")).as("p"))
        .filter(col("p").isNotNull && Cleanse.checkEmpty(col("p")) =!= 1).count()
      m("text.ner_hit_ratio") = nerHits.toDouble / math.max(inputRows, 1L)

      val keys = Seq("Year", "Month", "Category2")
      val exploded = enriched.select(col("Year"), col("Month"), col("Category2"),
        explode(col("All_phrases")).as("Topic"), col("Retweets_log"), col("Likes_log"),
        col("Sentiment")).persist(StorageLevel.MEMORY_ONLY)
      val topicRows = exploded.count()
      def paired = Pairs.explodePairs(
        enriched.select(col("Year"), col("Month"), col("Category2"), col("All_phrases"),
          col("Retweets_log"), col("Likes_log"), col("Sentiment")),
        "All_phrases", "Topic", "Topic2")
      layer(tr, stats, sc, m, "ops.pairs") { noop(paired) }
      val pairs = paired.persist(StorageLevel.MEMORY_ONLY)
      val pairRows = pairs.count()
      m("ops.pair_rows") = pairRows.toDouble
      val aggs = Seq(
        ("Frequency_", Seq("Topic", "Category2"), "frequency",
          Aggregates.weightedFreq1D(exploded, keys, "Topic", "Retweets_log")),
        ("Sentiment_", Seq("Topic", "Category2"), "sentiment",
          Aggregates.weightedSentiment1D(exploded, keys, "Topic", "Sentiment", "Likes_log")),
        ("Sentiment_", Seq("Category2", "Topic", "Topic2"), "sentiment",
          Aggregates.weightedSentiment2D(pairs, keys, "Topic", "Topic2", "Sentiment", "Likes_log")),
        ("Frequency_", Seq("Topic", "Topic2", "Category2"), "frequency",
          Aggregates.weightedFreq2D(pairs, keys, "Topic", "Topic2", "Retweets_log")))
      layer(tr, stats, sc, m, "ops.aggregates") { aggs.foreach(a => noop(a._4)) }
      val aggCached = aggs.map { case (p, g, v, df) =>
        val c = df.withColumn("MonthTag", concat(lit(p), col("Year"), lit("-"), col("Month")))
          .persist(StorageLevel.MEMORY_ONLY)
        c.count()
        (p, g, v, c)
      }
      val pivots = aggCached.map { case (p, g, v, df) =>
        Aggregates.monthPivot(df, g, "MonthTag", Months.map(p + _).sorted, v)
      }
      layer(tr, stats, sc, m, "ops.pivot") { pivots.foreach(noop) }

      val (o, outs) = run(new Tracer(false))
      val outCached = outs.map { case (k, df) =>
        val c = df.persist(StorageLevel.MEMORY_ONLY); c.count(); k -> c }
      layer(tr, stats, sc, m, "io.write") {
        outCached.foreach { case (k, df) => Sinks.writeCsv(df, s"$outDir/csv_isolated/$k", singleFile = true) }
      }
      m("funnel.input_rows") = inputRows.toDouble
      m("funnel.sampled_rows") = sampledRows.toDouble
      m("funnel.cleansed_rows") = cleansedRows.toDouble
      m("funnel.ner_kept_rows") = enrichedRows.toDouble
      m("funnel.enriched_rows") = enrichedRows.toDouble
      m("funnel.topic_rows") = topicRows.toDouble
      m("funnel.pair_rows") = pairRows.toDouble
      outCached.foreach { case (k, df) => m(s"funnel.${k}_rows") = df.count().toDouble }
      outCached.foreach(_._2.unpersist())
      o.release()
      (aggCached.map(_._4) ++ Seq(pairs, exploded, enriched, raw)).foreach(_.unpersist())
    }
  }

  final class Registry(spark: SparkSession, dir: String, keys: Seq[String],
                       stats: ExecStats, phases: PhaseStats) extends Workload {
    private val registry = SparkEntry.queries
    private val oracles = SparkEntry.oracleSql
    val module: Map[String, String] = Modules.of(keys)

    def batch(tr: Tracer): Int = {
      keys.foreach { k =>
        tr(s"queries.${module(k)}") {
          val df = countJobs(tr, stats, spark) { tr("queries.build") { registry(k)(spark, dir) } }
          phases.built(df)
          tr("queries.exec") { noop(df) }
        }
      }
      keys.size
    }

    def dumpForCheck(checkDir: String): Map[String, String] = {
      keys.foreach(k => Sinks.writeParquet(registry(k)(spark, dir), s"$checkDir/$k"))
      keys.map(k => k -> oracles(k)).toMap
    }

    def isolated(tr: Tracer, m: mutable.Map[String, Double]): Unit = {
      val sc = spark.sparkContext
      layer(tr, stats, sc, m, "io.read") {
        Modules.Tables.foreach(t => noop(Sources.table(spark, dir, t)))
      }
      m("io.read_mb") = inputMb(Modules.Tables.map(t => Sources.table(spark, dir, t)))
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val kind = opt("kind")
    val dirs = opt("data").split(",").toSeq
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val inputRows = opt("rows").toLong
    val keys = opt.get("queries").map(_.split(",").toSeq).getOrElse(Nil)

    val heap = ManagementFactory.getMemoryMXBean
    @volatile var peakHeap = 0L
    @volatile var polling = true
    val poller = new Thread(() => {
      while (polling) {
        peakHeap = math.max(peakHeap, heap.getHeapMemoryUsage.getUsed)
        Thread.sleep(5)
      }
    })
    poller.setDaemon(true)
    poller.start()

    // set-up: session start + matcher build (tweets) or fixture staging
    // (registry), repeated on fresh sessions so its median is reported
    var spark: SparkSession = null
    var matcher: EntityRuler.Matcher = null
    val setupTimes = dirs.map { d =>
      if (spark != null) spark.stop()
      secs {
        spark = newSession(cores)
        if (kind == "tweets") matcher = new EntityRuler.Matcher(TextQueries.demoPatterns)
        else {
          val staging = SparkEntry.staging
          keys.foreach(k => staging.get(k).foreach(_(spark, d)))
        }
      }._2
    }
    System.err.println(s"[perfbench] set-ups ${setupTimes.mkString(" ")} s")
    val matcherBuild = if (kind == "tweets") secs(new EntityRuler.Matcher(TextQueries.demoPatterns))._2 else 0.0
    val dir = dirs.last
    val stats = new ExecStats
    val phases = new PhaseStats
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(phases)

    val w: Workload = kind match {
      case "tweets" => new Tweets(spark, dir, matcher, inputRows.toInt, out, stats, phases)
      case "registry" => new Registry(spark, dir, keys, stats, phases)
    }
    val off = new Tracer(false)
    var attempted = 0L
    var failed = 0L
    def timedBatch(tr: Tracer): Double =
      try {
        val (n, t) = secs(w.batch(tr))
        System.err.println(f"[perfbench] batch ${t}%.3f s")
        attempted += n
        t
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] batch failed: $e")
          e.printStackTrace()
          attempted += 1
          failed += 1
          Double.NaN
      }

    PerfbenchBus.drain(spark.sparkContext)
    phases.reset()
    val cold = timedBatch(off)
    PerfbenchBus.drain(spark.sparkContext)
    val coldPhases = (phases.analysisMs, phases.optimizationMs, phases.planningMs)
    val tw = System.nanoTime()
    var warmups = 0
    while (warmups < WarmupBatches || (System.nanoTime() - tw) / 1e9 < WarmupSeconds) {
      timedBatch(off)
      warmups += 1
    }
    val warm = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (warm.size < MinBatches || (System.nanoTime() - t0) / 1e9 < seconds) warm += timedBatch(off)
    val peakMb = peakHeap / 1048576.0
    val ok = warm.filterNot(_.isNaN)
    val batch = if (ok.nonEmpty) median(ok.toSeq) else Double.NaN
    // highest percentile the sample count supports: nearest rank at
    // 100·(1 − 1/n), i.e. the maximum of n warm batches
    val tail = if (ok.nonEmpty) ok.max else Double.NaN

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> median(setupTimes),
      "cold_batch_s" -> cold,
      "batch_s" -> batch,
      "batch_tail_s" -> tail,
      "rows_per_s" -> inputRows / batch)
    val layers = mutable.LinkedHashMap[String, Double](
      "batch_count" -> ok.size.toDouble,
      "jvm.peak_heap_mb" -> peakMb,
      "text.matcher_build_s" -> matcherBuild)

    val tracer = new Tracer(trace)
    if (trace) {
      // the traced run: the same batches with spans, listener totals
      // and Catalyst phase times, then each layer timed on its own
      PerfbenchBus.drain(spark.sparkContext)
      stats.reset()
      phases.reset()
      val traced = mutable.ArrayBuffer[Double]()
      val t1 = System.nanoTime()
      while (traced.size < 2 || (System.nanoTime() - t1) / 1e9 < seconds / 2) {
        tracer.run = s"traced-${traced.size}"
        traced += timedBatch(tracer)
      }
      PerfbenchBus.drain(spark.sparkContext)
      val n = traced.size.toDouble
      val wall = traced.sum
      val tot = tracer.totals
      layers ++= Seq(
        "trace.fused_batch_s" -> median(traced.toSeq),
        "trace.overhead_s" -> (median(traced.toSeq) - batch),
        "catalyst.analysis_s" -> phases.analysisMs / 1000.0 / n,
        "catalyst.optimization_s" -> phases.optimizationMs / 1000.0 / n,
        "catalyst.planning_s" -> phases.planningMs / 1000.0 / n,
        "catalyst.cold_analysis_s" -> coldPhases._1 / 1000.0,
        "catalyst.cold_optimization_s" -> coldPhases._2 / 1000.0,
        "catalyst.cold_planning_s" -> coldPhases._3 / 1000.0,
        "exec.stages" -> stats.stages / n,
        "exec.tasks" -> stats.tasks / n,
        "exec.exchanges" -> phases.exchanges / n,
        "exec.task_cpu_s" -> stats.cpuNs / 1e9 / n,
        "exec.gc_s" -> stats.gcMs / 1000.0 / n,
        "exec.busy_cores" -> stats.runMs / 1000.0 / (wall * cores),
        "exec.task_skew" -> stats.skew,
        "exec.shuffle_write_mb" -> stats.shufWrite / 1048576.0 / n,
        "exec.shuffle_read_mb" -> stats.shufRead / 1048576.0 / n,
        "exec.spill_mb" -> stats.spill / 1048576.0 / n)
      w match {
        case _: Tweets =>
          layers ++= Seq(
            "pipeline.build_s" -> tot.getOrElse("pipeline.build", 0.0) / n,
            "pipeline.build_jobs" -> stats.buildJobs / n,
            "pipeline.write_fused_s" -> tot.getOrElse("io.write", 0.0) / n)
        case _: Registry =>
          layers ++= Seq(
            "queries.build_s" -> tot.getOrElse("queries.build", 0.0) / n,
            "queries.build_jobs" -> stats.buildJobs / n,
            "queries.exec_s" -> tot.getOrElse("queries.exec", 0.0) / n)
          Modules.Names.foreach { mod =>
            layers(s"queries.${mod}_s") = tot.getOrElse(s"queries.$mod", 0.0) / n
          }
      }
      val iso = mutable.LinkedHashMap[String, Double]()
      tracer.run = "isolated"
      w.isolated(tracer, iso)
      layers ++= iso
    }

    // output check, outside every timed window
    val checkDir = s"$out/check"
    val tCheck = System.nanoTime()
    val oracle =
      try w.dumpForCheck(checkDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check dump failed: $e")
          e.printStackTrace()
          Map.empty[String, String]
      }
    System.err.println(f"[perfbench] check dump ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    Files.createDirectories(Paths.get(checkDir))
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(s"$out/trace_spans.json"), tracer.json.getBytes(UTF_8))

    polling = false
    poller.join()
    spark.stop()
    val result = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "self_s" -> Json.obj(tracer.selfTimes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(s"$out/result.json"), result.getBytes(UTF_8))
  }
}

/** Registry modules (the objects SparkEntry assembles its map from). */
object Modules {
  import graft.queries._
  val byName: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> Relational.queries, "Relational2" -> Relational2.queries,
    "TweetOps" -> TweetOps.queries, "TextQueries" -> TextQueries.queries,
    "DedupSim" -> DedupSim.queries, "EventQueries" -> EventQueries.queries,
    "MultimodalQueries" -> MultimodalQueries.queries, "IoQueries" -> IoQueries.queries,
    "PipelineQueries" -> PipelineQueries.queries, "PlanQueries" -> PlanQueries.queries,
    "TrainingQueries" -> TrainingQueries.queries, "GraphQueries" -> GraphQueries.queries,
    "EvalQueries" -> EvalQueries.queries)
  val Names: Seq[String] = byName.map(_._1)
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def of(keys: Seq[String]): Map[String, String] = keys.map { k =>
    k -> byName.find(_._2.contains(k)).map(_._1)
      .getOrElse(throw new IllegalArgumentException(s"no registry module holds $k"))
  }.toMap
}
