package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.{Sinks, Sources, Staging}
import graft.io.Sources.table

/** Source/sink driver surface (SURVEY.md §2.1 SRC1/SNK1) plus the
  * deterministic sampler. These make the CSV path and the sampling
  * path oracle-checkable instead of spec-only:
  *
  *  - q57 round-trips a table through the DISTRIBUTED CSV sink and
  *    the glob scan (header + inferSchema, the reference's read shape,
  *    ref demo.py:53) and aggregates the re-read — any loss or type
  *    drift in the CSV layer breaks the hash against the
  *    parquet-direct oracle.
  *  - q59 is the scale-safe twin of the reference's
  *    `orderBy(rand()).limit(n)` sample (ref demo.py:55): a
  *    deterministic content-hash filter. Unlike rand(seed) — whose
  *    output depends on partition layout and row order — md5(key) is
  *    a pure row function: same rows selected on 1 executor or 1000,
  *    re-runnable, and expressible in any engine (which is what makes
  *    it oracle-checkable at all).
  */
object IoQueries extends QueryModule {

  /** SNK1 under test: the distributed CSV write, staged once per JVM
    * (Bench reports it as stage_s; the timed query is the glob
    * re-scan + aggregate, which is what a reader of the sink pays). */
  private def stageCsv(s: SparkSession, dir: String): String =
    Staging.once(s"q57_csv:$dir") {
      val tmp = graft.io.Scratch.tempDir("graft_q57_csv")
      val src = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
      Sinks.writeCsv(src, tmp)
      tmp
    }

  /** Bucketed-table fixture for q5B: both fact tables written
    * bucketBy the join key under deterministic names (stable within
    * a JVM, overwritten on a fresh one). */
  private def stageBucketed(s: SparkSession, dir: String): String =
    Staging.once(s"q5B_bkt:$dir") {
      val tag = Staging.dirTag(dir)
      val (ob, lb) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      // a PREVIOUS JVM may have left the managed-table dirs behind
      // while this JVM's in-memory catalog has never heard of them —
      // saveAsTable then refuses with LOCATION_ALREADY_EXISTS; clear
      // both the catalog entry and the stale location first
      Seq(ob, lb).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (java.nio.file.Files.exists(loc)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(loc).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      table(s, dir, "orders")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable(ob)
      table(s, dir, "lineitem")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable(lb)
      tag
    }

  /** Date-partitioned events for q5C and qA5 (the schema keeps `d`). */
  private val partitionedEvents =
    Staging.fixture("q5C_part", "parquet") { (s, dir, out) =>
      val ev = table(s, dir, "events").withColumn("d", to_date(col("ts")))
      ev.write.mode("overwrite").partitionBy("d").parquet(out)
      ev
    }

  /** JSONL fixture for q81: the line-delimited JSON layout training
    * corpora actually ship in, written by the distributed JSON sink;
    * FAILFAST makes a line that does not parse under the written
    * schema an error instead of a row of nulls. */
  private val jsonlDocs =
    Staging.fixture("q81_jsonl", "json", Map("mode" -> "FAILFAST")) {
      (s, dir, out) =>
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
        docs.write.mode("overwrite").json(out)
        docs
    }

  /** ORC fixture for q83 (Spark's second columnar format). */
  private val orcOrders = Staging.fixture("q83_orc", "orc") { (s, dir, out) =>
    val o = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    o.write.mode("overwrite").orc(out)
    o
  }

  /** Spark 4 native XML source fixture: supplier written as nested
    * <supplier> row elements. */
  private val xmlSuppliers =
    Staging.fixture("qB9_xml", "xml", Map("rowTag" -> "supplier")) {
      (s, dir, out) =>
        val sup = table(s, dir, "supplier")
        sup.write.mode("overwrite").format("xml")
          .option("rowTag", "supplier").save(out)
        sup
    }

  /** Schema-evolution fixture: the same fact written by two pipeline
    * generations — v1 without, v2 WITH a later-added `channel`
    * column — into sibling directories, the layout a long-lived
    * ingest accumulates. */
  private def stageEvolved(s: SparkSession, dir: String): String =
    Staging.once(s"qC3_evolve:$dir") {
      val tmp = graft.io.Scratch.tempDir("graft_qC3_evo")
      val o = table(s, dir, "orders")
      o.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$tmp/gen=v1")
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority").as("channel"))
        .write.mode("overwrite").parquet(s"$tmp/gen=v2")
      tmp
    }

  /** qD6's ring: 8 virtual nodes per shard at 60-bit md5 positions
    * (the same 15-hex-char construction as Dedup.md5Long, computed
    * here in Scala for the engine's broadcast vnode table AND
    * embedded as literals in the oracle — one derivation, two
    * consumers). Position collisions (≈0 at 60 bits) dedupe to the
    * lowest shard deterministically. */
  private[queries] def ringVnodes(nShards: Int): Seq[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = for (sh <- 0 until nShards; j <- 0 until 8) yield {
      val hex = md.digest(s"ring:$sh:$j".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      (sh, java.lang.Long.parseLong(hex.substring(0, 15), 16))
    }
    raw.groupBy(_._2).map { case (pos, xs) => (xs.map(_._1).min, pos) }
      .toSeq.sortBy(_._2)
  }

  /** V2-sink fixture for qD5: orders written through the engine's own
    * DataSource V2 write connector (graft.io.GenSink), read back as
    * the JSONL it emits. */
  private val sinkOrders =
    Staging.fixture("qD5_v2sink", "json") { (s, dir, out) =>
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      o.write.format("graftsink").option("path", out).mode("overwrite").save()
      o
    }

  /** Distributed binary export for qE9: one opaque .bin file per
    * sampled document, written EXECUTOR-SIDE via foreachPartition —
    * the multimodal export-sink shape (shard workers write payload
    * files in parallel; nothing funnels through the driver). On a
    * cluster the target is a shared FS / object store; here the
    * local tmp dir plays that role. */
  private def stageBinary(s: SparkSession, dir: String): String =
    Staging.once(s"qE9_bin:$dir") {
      val tmp = graft.io.Scratch.tempDir("graft_qE9_bin")
      table(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val bytes = Option(r.getString(1)).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"${r.getLong(0)}.bin"), bytes)
          }
        }
      tmp
    }

  /** Staging hooks Bench runs ahead of the per-query timer. */
  override def staging: Map[String, (SparkSession, String) => Unit] = Map(
    "qE9_binary_files" -> ((s, dir) => { stageBinary(s, dir); () }),
    "qD5_dsv2_sink" -> sinkOrders.stage,
    "q57_csv_roundtrip" -> ((s, dir) => { stageCsv(s, dir); () }),
    "qB9_xml_roundtrip" -> xmlSuppliers.stage,
    "qC3_schema_evolution" -> ((s, dir) => { stageEvolved(s, dir); () }),
    "q5B_bucketed_join" -> ((s, dir) => { stageBucketed(s, dir); () }),
    "q5C_partition_prune" -> partitionedEvents.stage,
    "qA5_dynamic_prune" -> partitionedEvents.stage,
    "q81_jsonl_roundtrip" -> jsonlDocs.stage,
    "q83_orc_roundtrip" -> orcOrders.stage
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SRC1+SNK1 end-to-end: parquet → distributed CSV write (one file
    // per partition, staged) → glob scan with header+inferSchema →
    // aggregate. The oracle reads parquet directly, so any loss or
    // type drift in the CSV layer still breaks the hash.
    "q57_csv_roundtrip" -> ((s, dir) => {
      // inferred on purpose, not a Staging.Fixture: header +
      // inferSchema is the reference's read shape and its type drift
      // is what this query checks
      val tmp = stageCsv(s, dir)
      Sinks.readCsv(s, tmp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_custkey").as("sum_cust"),
          countDistinct("o_orderpriority").as("n_prio"))
    }),

    // binaryFile source — Spark's native opaque-payload reader and
    // the front door for multimodal ingestion (images/audio/video as
    // raw bytes + typed metadata, the Multimodal.scala data model).
    // Round-trip: distributed executor-side binary export (staged) →
    // binaryFile glob scan → identity extraction (id from the path,
    // size, content digest). The oracle digests the SOURCE rows, so a
    // truncated, duplicated, or re-encoded file breaks the hash —
    // this is the payload-integrity audit a 100 TB media crawl runs
    // after every bulk copy. Scale shape: one file per task slot
    // streamed, no shuffle at all.
    "qE9_binary_files" -> ((s, dir) => {
      val tmp = stageBinary(s, dir)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(tmp)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
    }),

    // Deterministic 1/16 content-hash sample: first hex nibble of
    // md5(key). Narrow filter, no shuffle, no sort — contrast with
    // orderBy(rand(seed)).limit(n), a global sort whose result set
    // depends on partitioning.
    "q59_hash_sample" -> ((s, dir) =>
      table(s, dir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
        .select("o_orderkey", "o_custkey", "o_orderstatus"))
,

    // Approximate query processing from the deterministic sample:
    // answer a grouped count from q59's 1/16 content-hash sample at
    // 1/16 the scan (the AQP dashboard pattern — at 100 TB the
    // sample is a materialized 6 TB table), with the scale-up AND the
    // true error reported side by side. Because the sampler is a
    // pure row function (md5, partition-invariant), the estimate is
    // reproducible and the ORACLE reproduces it exactly — estimate,
    // exact, and integer-ppm error all hash-check; abs() keeps the
    // ppm division on nonnegative ints so div/floor agree.
    "qD3_aqp_estimate" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      val est = ev.filter(
          substring(md5(col("event_id").cast("string")), 1, 1) === "0")
        .groupBy("event_type").agg((count(lit(1)) * 16).as("est_raw"))
      exact.join(est, Seq("event_type"), "left")
        .withColumn("est_n", coalesce(col("est_raw"), lit(0L)))
        // decimal numerator: |err|·1e6 wraps int64 once a type's count
        // passes ~9.2e12 (a 100 TB event log); the ppm quotient is
        // ≤ 1.5e7 (est within 16× of exact) and stays BIGINT
        .withColumn("abs_err_ppm",
          expr("CAST(abs(est_n - exact_n) AS DECIMAL(38,0)) * 1000000"
            + " div exact_n"))
        .select("event_type", "exact_n", "est_n", "abs_err_ppm")
    }),

    // Delta-encoding advisor — the storage-codec analysis behind
    // parquet/ORC encoding choices: within each natural 1024-key
    // block of the (near-dense, sorted-within-block) order keys,
    // measure the max gap between consecutive keys and derive the
    // delta bit-width; delta_bits vs 64·n per block quantifies the
    // win of DELTA_BINARY_PACKED over plain encoding. Blocks come
    // from the key value itself (no global sort — the lag window is
    // per-block parallel), and every figure is exact integer
    // arithmetic (bit width via length(bin(gap)), minimal on both
    // engines).
    "qD9_delta_advisor" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("blk").orderBy(col("k").asc)
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          expr("o_orderkey div 1024").as("blk"))
        .withColumn("gap", col("k") - lag(col("k"), 1).over(w))
        .groupBy("blk")
        .agg(count(lit(1)).as("n_keys"),
          min("k").as("min_k"), max("k").as("max_k"),
          max("gap").as("max_gap"))
        .withColumn("delta_bits", length(bin(col("max_gap"))).cast("long"))
        .withColumn("packed_bits", col("delta_bits") * (col("n_keys") - 1))
        .withColumn("plain_bits", lit(64L) * col("n_keys"))
    }),

    // Consistent-hash ring assignment (Karger et al. '97) — the
    // shard-placement op behind every distributed KV/cache tier: keys
    // hash onto a ring, each key lands on its successor virtual node,
    // and ADDING a shard moves only ~1/(n+1) of the keys — every one
    // of them TO the new shard (mod-N placement would reshuffle
    // nearly everything). Both ring walks are broadcast-vnode narrow
    // maps + one aggregate; the 52-bit md5 ring positions, successor
    // choice, and movement audit are exact integers the oracle
    // re-derives (vnode positions embedded as literals from the same
    // Scala MD5 the engine uses).
    "qD6_consistent_hash" -> ((s, dir) => {
      def assign(keys: DataFrame, nShards: Int, outCol: String): DataFrame = {
        val vn = IoQueries.ringVnodes(nShards)
        val vdf = broadcast(s.createDataFrame(vn).toDF("shard", "vpos"))
        keys.crossJoin(vdf)
          .groupBy("key", "kpos")
          .agg(min(when(col("vpos") >= col("kpos"), col("vpos"))).as("succ"),
            min(col("vpos")).as("wrap"))
          .withColumn("chosen", coalesce(col("succ"), col("wrap")))
          .join(vdf, col("chosen") === col("vpos"))
          .select(col("key"), col("kpos"), col("shard").as(outCol))
      }
      val keys = table(s, dir, "customer")
        .select(col("c_custkey").as("key"),
          Dedup.md5Long(col("c_custkey").cast("string")).as("kpos"))
      val a16 = assign(keys, 16, "shard16")
      val a17 = assign(keys, 17, "shard17")
      a16.join(a17, Seq("key", "kpos"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("shard16") =!= col("shard17"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("shard16") =!= col("shard17")
            && col("shard17") =!= 16, 1L).otherwise(0L)).as("n_moved_elsewhere"))
        .withColumn("moved_ppm", expr("n_moved * 1000000 div n_keys"))
        .withColumn("moves_to_new_only", col("n_moved_elsewhere") === 0L)
    }),

    // Z-order (Morton) clustering key: bit-interleave two join/filter
    // dimensions so ONE range-partitioned sort key gives locality in
    // BOTH — the lakehouse layout technique (Delta/Iceberg OPTIMIZE
    // ZORDER) that lets min/max file stats prune 2-D predicates at
    // 100 TB, where sorting by either single column destroys locality
    // in the other. Output = per-zbucket row counts + both dims'
    // bounding boxes: tight boxes ARE the pruning win, and the oracle
    // recomputes the interleave bit-for-bit (exact integer ops).
    // Computation is a pure narrow map; the groupBy is |buckets| rows.
    "q88_zorder_layout" -> ((s, dir) => {
      val bits = 16
      def interleave(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        (0 until bits).map { b =>
          shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
            .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
        }.reduce(_ bitwiseOR _)
      table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          interleave(col("l_partkey"), col("l_suppkey")).as("zval"))
        .withColumn("zbucket", shiftright(col("zval"), 18))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
    }),

    // Table reconciliation digest (Merkle-style anti-entropy): to
    // compare two 100 TB replicas you never move rows — each side
    // computes a per-bucket digest (bit_xor of row hashes: order-
    // independent, overflow-free, ANSI-safe) and only DIFFERING
    // buckets are investigated. One narrow map + one |buckets|-row
    // aggregate per side. Here side B is the same table with a known
    // deletion (orderkey ≡ 7 mod 1000), and the output is exactly the
    // buckets whose digests/counts disagree — the repair worklist.
    "q94_table_digest" -> ((s, dir) => {
      val nb = 1024
      def withHash(df: DataFrame) = df
        .withColumn("h",
          conv(substring(md5(concat_ws("|",
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"))), 1, 13),
            16, 10).cast("long"))
        .withColumn("bucket", pmod(col("h"), lit(nb)))
      // r16 single-pass rewrite: the r15 form spread the scan but
      // still ran scan+md5 TWICE — side b's pmod filter pushes below
      // any exchange/projection the two sides could share, so neither
      // ReusedExchange nor a shared checkpoint-free subtree ever
      // forms (the r15 after-plan has two scans; VERDICT r15). But
      // side b is a FILTER of side a keyed on the same bucket, so
      // both digests fold into ONE aggregate over one pass:
      // sum(when(keep,1)) / bit_xor(when(keep,h)) are NULL on buckets
      // with no surviving b-rows — exactly the absent-row semantics
      // the old full_outer join produced (b ⊆ a, so a's buckets are
      // the full bucket set). One scan, one md5 pass, one 1024-row
      // aggregate, no join; rows/schema/values provably identical.
      // Spread identity at real scale (guide §1.2 step 1, §2.4).
      val li = graft.ops.Spread.scan(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq(col("l_orderkey")))
      withHash(li)
        .withColumn("keep_b", pmod(col("l_orderkey"), lit(1000)) =!= 7)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_a"), expr("bit_xor(h)").as("dig_a"),
          sum(when(col("keep_b"), 1L)).as("n_b"),
          expr("bit_xor(IF(keep_b, h, NULL))").as("dig_b"))
        .filter(!(col("dig_a") <=> col("dig_b")) || !(col("n_a") <=> col("n_b")))
        .select(col("bucket"), col("n_a"), col("n_b"))
    }),

    // Bucketed co-located join: both fact tables written bucketBy the
    // join key, then joined — the bucketed scan satisfies the join's
    // distribution requirement so NO shuffle exchange is planned on
    // either side (BucketingSpec asserts the plan; this query makes
    // the path driver-checkable). At 100 TB this is the difference
    // between re-shuffling both tables on every join and a per-bucket
    // local merge.
    "q5B_bucketed_join" -> ((s, dir) => {
      val tag = stageBucketed(s, dir)
      val (ob, lb) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      s.table(ob).join(s.table(lb), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_linenumber").cast("long")).as("sum_lnum"))
    }),

    // The spark.sql() entry path: temp views + SQL text through the
    // same session — the engine's SQL API surface (TPC-H Q5-ish
    // 4-table join). Money kept integer-exact (cents products summed
    // as BIGINT) so the float fold order can't flip the hash.
    "q68_sql_api" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT n.n_name AS nation, count(*) AS n_items,
               sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS rev_e4
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name""")
    }),

    // Custom Catalyst expressions reached PURELY through SQL text:
    // GraftFunctions late-binds array_dot / word_shingles / ner_demo
    // onto the (driver-built) session, then the whole query is one
    // spark.sql(...) — proving the SparkSessionExtensions surface
    // resolves, type-checks, and codegens like a built-in. Joins
    // documents 1:1 to embeddings (doc_id = vec_id by construction).
    "q69_sql_functions" -> ((s, dir) => {
      graft.GraftFunctions.register(s)
      table(s, dir, "documents").createOrReplaceTempView("documents")
      table(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql("""
        SELECT d.doc_id,
               CAST(size(word_shingles(split(d.text, ' '), 3)) AS BIGINT) AS n_shingles,
               array_dot(e.embedding, e.embedding) AS self_dot,
               concat_ws(',', ner_demo(d.text)) AS topics
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id""")
    }),

    // The OTHER two SQL-surface function kinds, driver-checked purely
    // through spark.sql text (q69 covers the scalar trio): chunk_text
    // as a FROM-clause table function in a LATERAL join, and
    // heavy_hitters as a grouped aggregate (exact regime at this
    // vocabulary). Chunks per shard feed the sketch, so one query
    // exercises generator → explode-free fan-out → custom aggregate.
    // Capacity 65536 keeps the sketch in its EXACT regime through the
    // sf10 certification fixture (54,186 distinct bigram chunks/shard
    // measured there; 5,766 at sf1, 948 at sf0.1 — round 9 raised it
    // 4096→8192 when sf1's suffix-mutated replicas exceeded it; round
    // 10's sf10 sweep exceeded 8192 and raised it again). Past the
    // exact regime the Misra-Gries counts go approximate and the
    // exact DuckDB oracle fails the hash — DEMONSTRATED at sf10 with
    // capacity 8192: 'big big' counted 1954 vs the true 2077, hash
    // FAIL — the documented scale knob binds loudly, never silently.
    "q7C_sql_generator_agg" -> ((s, dir) => {
      graft.GraftFunctions.register(s)
      table(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""
        SELECT shard, h.term AS chunk, h.cnt
        FROM (
          SELECT shard, explode(hh) AS h
          FROM (
            SELECT shard, heavy_hitters(c.chunk, 3, 65536) AS hh
            FROM (SELECT doc_id % 8 AS shard, text FROM documents) d,
                 LATERAL chunk_text(d.text, 2, 2) AS c
            GROUP BY shard))""")
    }),

    // JSONL round-trip: parquet → distributed line-delimited JSON
    // write (staged) → re-read with the staged schema → aggregate.
    // The oracle reads parquet directly, so any escaping/unicode/type
    // loss in the JSON layer breaks the hash — the losslessness
    // check for the format most raw training corpora arrive in.
    "q81_jsonl_roundtrip" -> ((s, dir) =>
      jsonlDocs.frame(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("sum_ids"),
          sum(length(col("text"))).as("sum_chars"),
          countDistinct("source").as("n_sources"))),

    // ORC round-trip: same losslessness contract through Spark's
    // second columnar format (doubles + strings re-read bit-exact;
    // oracle is parquet-direct).
    "q83_orc_roundtrip" -> ((s, dir) =>
      orcOrders.frame(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          countDistinct("o_custkey").as("n_cust"),
          countDistinct("o_orderpriority").as("n_prio"))),

    // Partitioned write + partition-pruned scan: a date-partitioned
    // layout turns the day filter into directory pruning
    // (PartitionedWriteSpec asserts partitionFilters; this query
    // makes the layout driver-checkable end-to-end).
    "q5C_partition_prune" -> ((s, dir) =>
      partitionedEvents.frame(s, dir)
        .filter(col("d") === lit(java.sql.Date.valueOf("2024-01-05")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))),

    // DYNAMIC partition pruning — q5C's static literal replaced by a
    // dim-side predicate only known at RUN time: "days strictly
    // busier than the per-day average" (exact integer cross-multiply
    // n_day·n_days > total, so day selection is scale-free and
    // hash-stable). The threshold scalars are SCALAR SUBQUERIES so the
    // dim side keeps a selective Filter node — Catalyst's
    // PartitionPruning rule requires one (a cross-join + filter gets
    // pushed into the join condition and DPP declines); with it, the
    // fact scan's partitionFilters gain a dynamicpruning expression
    // reusing the broadcast (PartitionedWriteSpec pins the plan).
    // At 100 TB this is the difference between reading 3 days and 3
    // years when the qualifying set isn't a compile-time constant.
    "qA5_dynamic_prune" -> ((s, dir) => {
      partitionedEvents.frame(s, dir).createOrReplaceTempView("graft_qa5_fact")
      table(s, dir, "events").withColumn("d", to_date(col("ts")))
        .createOrReplaceTempView("graft_qa5_events")
      s.sql("""
        WITH byday AS (
          SELECT d, count(1) AS n_day FROM graft_qa5_events GROUP BY d)
        SELECT /*+ BROADCAST(dim) */ f.event_type,
          count(1) AS n_events,
          count(DISTINCT f.user_id) AS n_users,
          max(f.value) AS max_value
        FROM graft_qa5_fact f
        JOIN (SELECT d FROM byday
              WHERE n_day * (SELECT count(1) FROM byday)
                    > (SELECT sum(n_day) FROM byday)) dim
          ON f.d = dim.d
        GROUP BY f.event_type""")
    }),

    // Row-level snapshot diff — q94's digest says WHETHER two table
    // versions diverge; this says WHAT changed: full-outer join on
    // the key, classify added / removed / changed / same, report
    // counts + the net measure delta. Two md5-bucket slices of orders
    // simulate the versions (overlap, with one bucket's cents bumped
    // = an "update"). At 100 TB both sides shuffle on the key once —
    // the same plan CDC reconciliation jobs run; a bucketed layout
    // (q5B) makes it exchange-free.
    "qAF_snapshot_diff" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .withColumn("bucket",
          Dedup.md5Long(col("o_orderkey").cast("string")) % 16)
        .withColumn("cents",
          floor(col("o_totalprice") * lit(100.0)).cast("long"))
      val v1 = o.filter(col("bucket") < 14).select("o_orderkey", "cents")
      val v2 = o.filter(col("bucket") >= 2)
        .withColumn("cents",
          when(col("bucket") === 5, col("cents") + 1).otherwise(col("cents")))
        .select("o_orderkey", "cents")
      v1.select(col("o_orderkey"), col("cents").as("c1"))
        .join(v2.select(col("o_orderkey"), col("cents").as("c2")),
          Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("c2").isNull, lit("removed"))
            .when(col("c1").isNull, lit("added"))
            .when(col("c1") =!= col("c2"), lit("changed"))
            .otherwise(lit("same")))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
            .as("delta_cents"))
    }),

    // Spark 4 NATIVE XML source (spark-xml graduated into core):
    // parquet → <supplier> row-element files (staged) → read-back with
    // the written schema → aggregate. The oracle reads parquet
    // directly, so a value or double-format loss in the XML text
    // layer breaks the hash, same contract as the JSONL/ORC
    // round-trips.
    "qB9_xml_roundtrip" -> ((s, dir) =>
      xmlSuppliers.frame(s, dir)
        .select(col("s_nationkey").cast("long").as("s_nationkey"),
          col("s_name"), col("s_acctbal"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(round(col("s_acctbal") * 100).cast("long")).as("acct_cents"),
          max(length(col("s_name"))).as("max_name_len"))),

    // Schema evolution across pipeline generations: two parquet
    // directories — one written BEFORE a column existed — read as one
    // frame via mergeSchema (footer union, per-file projection; old
    // files surface the new column as NULL, no rewrite of historical
    // data). The partition-style gen=v1/v2 path also exercises
    // partition-column discovery next to the merged schema. The
    // oracle recomputes both generations from the source table, so a
    // dropped column, a type widen, or misattributed NULLs all break
    // the hash.
    "qC3_schema_evolution" -> ((s, dir) => {
      // inferred on purpose, not a Staging.Fixture: the mergeSchema
      // footer union is the feature under test
      val tmp = stageEvolved(s, dir)
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("gen")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").as("sum_cust"),
          count(col("channel")).as("n_channel"),
          countDistinct(col("channel")).as("n_channels"))
    }),

    // DataSource V2 WRITE connector (graft.io.GenSink): parquet →
    // the engine's own V2 sink (per-partition DataWriters, driver
    // commit, JSONL bytes; staged) → re-read with the written schema
    // → aggregate. The oracle reads parquet directly, so any loss in
    // the sink's serialization, escaping, or commit protocol breaks
    // the hash — the q57 losslessness contract applied to the
    // connector write path.
    "qD5_dsv2_sink" -> ((s, dir) =>
      sinkOrders.frame(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_custkey").as("sum_cust"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          countDistinct("o_orderpriority").as("n_prio"))),

    // DataSource V2 custom connector (graft.io.GenSource): the
    // engine's own TableProvider with column pruning, id-range filter
    // pushdown, AND partition-range pruning (the id bound skips whole
    // input partitions — GenSourceSpec pins 24/32 planned). The id
    // filter here reaches the source as pushed GreaterThanOrEqual/
    // LessThan; every derived column is exact integer arithmetic the
    // generate_series oracle mirrors bit-for-bit, so a reader bug,
    // a lost filter, or a mis-pruned column all break the hash.
    "qC9_dsv2_source" -> ((s, _) =>
      s.read.format("graftgen")
        .option("rows", 400000).option("parts", 32).load()
        .filter(col("id") >= 50000 && col("id") < 350000)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum("v").as("sum_v"),
          min("id").as("min_id"), max("id").as("max_id"),
          countDistinct("tag").as("n_tags")))
  )

  def oracles: Map[String, String] = Map(
    // digests the SOURCE rows — any corruption in the exported files
    // (truncation, duplication, re-encoding) breaks the hash
    "qE9_binary_files" ->
      """SELECT doc_id,
           CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
             AS n_bytes,
           md5(coalesce(text, '')) AS content_md5
         FROM documents WHERE doc_id % 10 = 0""",

    // the oracle reads parquet DIRECTLY — the CSV round-trip must be
    // lossless for the hash to match
    "q57_csv_roundtrip" ->
      """SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           count(DISTINCT o_orderpriority) AS n_prio
         FROM orders GROUP BY o_orderstatus""",

    "q59_hash_sample" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
         FROM orders
         WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""",

    // same hash (13 md5 hex chars → 52-bit int), same bit_xor digest
    "q94_table_digest" ->
      """WITH h AS (
           SELECT CAST(CAST('0x' || substr(md5(
                    l_orderkey || '|' || l_linenumber || '|' || l_quantity),
                    1, 13) AS UBIGINT) AS BIGINT) AS h,
             l_orderkey
           FROM lineitem),
         hb AS (SELECT h, h % 1024 AS bucket, l_orderkey FROM h),
         a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a,
                 bit_xor(h) AS dig_a
               FROM hb GROUP BY bucket),
         b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
                 bit_xor(h) AS dig_b
               FROM hb WHERE l_orderkey % 1000 <> 7 GROUP BY bucket)
         SELECT bucket, n_a, n_b
         FROM a FULL OUTER JOIN b USING (bucket)
         WHERE dig_a IS DISTINCT FROM dig_b OR n_a IS DISTINCT FROM n_b""",

    // same natural blocks, same lag gaps, same minimal bit widths
    "qD9_delta_advisor" ->
      """WITH b AS (
           SELECT o_orderkey AS k, o_orderkey // 1024 AS blk FROM orders),
         g AS (
           SELECT blk, k,
             k - lag(k) OVER (PARTITION BY blk ORDER BY k) AS gap
           FROM b),
         a AS (
           SELECT blk, count(*) AS n_keys, min(k) AS min_k, max(k) AS max_k,
             max(gap) AS max_gap
           FROM g GROUP BY blk)
         SELECT blk, n_keys, min_k, max_k, max_gap,
           CAST(length(bin(max_gap)) AS BIGINT) AS delta_bits,
           CAST(length(bin(max_gap)) AS BIGINT) * (n_keys - 1) AS packed_bits,
           CAST(64 * n_keys AS BIGINT) AS plain_bits
         FROM a""",

    // same ring positions (vnode literals from the same Scala MD5),
    // same successor/wraparound choice, same movement audit
    "qD6_consistent_hash" -> {
      def vnSql(n: Int) = IoQueries.ringVnodes(n)
        .map { case (sh, p) => s"($sh, $p)" }.mkString(", ")
      s"""WITH vn16(shard, vpos) AS (VALUES ${vnSql(16)}),
         vn17(shard, vpos) AS (VALUES ${vnSql(17)}),
         k AS (
           SELECT c_custkey AS key,
             CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)
               AS UBIGINT) AS BIGINT) AS kpos
           FROM customer),
         c16 AS (
           SELECT key, kpos,
             coalesce(min(CASE WHEN vpos >= kpos THEN vpos END), min(vpos))
               AS chosen
           FROM k, vn16 GROUP BY key, kpos),
         a16 AS (
           SELECT key, kpos, shard AS shard16
           FROM c16 JOIN vn16 ON vn16.vpos = c16.chosen),
         c17 AS (
           SELECT key, kpos,
             coalesce(min(CASE WHEN vpos >= kpos THEN vpos END), min(vpos))
               AS chosen
           FROM k, vn17 GROUP BY key, kpos),
         a17 AS (
           SELECT key, kpos, shard AS shard17
           FROM c17 JOIN vn17 ON vn17.vpos = c17.chosen),
         j AS (SELECT shard16, shard17 FROM a16 JOIN a17 USING (key, kpos)),
         agg AS (
           SELECT count(*) AS n_keys,
             CAST(sum(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved,
             CAST(sum(CASE WHEN shard16 <> shard17 AND shard17 <> 16
               THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere
           FROM j)
         SELECT n_keys, n_moved, n_moved_elsewhere,
           (n_moved * 1000000) // n_keys AS moved_ppm,
           n_moved_elsewhere = 0 AS moves_to_new_only
         FROM agg"""
    },

    // same sampler, same scale-up, same nonnegative integer ppm
    "qD3_aqp_estimate" ->
      """WITH ex AS (
           SELECT event_type, count(*) AS exact_n FROM events GROUP BY 1),
         sm AS (
           SELECT event_type, CAST(count(*) * 16 AS BIGINT) AS est_raw
           FROM events
           WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
           GROUP BY 1)
         SELECT ex.event_type, ex.exact_n,
           CAST(coalesce(sm.est_raw, 0) AS BIGINT) AS est_n,
           CAST((CAST(abs(coalesce(sm.est_raw, 0) - ex.exact_n) AS HUGEINT)
               * 1000000) // ex.exact_n AS BIGINT)
             AS abs_err_ppm
         FROM ex LEFT JOIN sm USING (event_type)""",

    // the interleave spelled out term by term (exact integer shifts,
    // no subquery — DuckDB 1.0 cannot correlate table functions)
    "q88_zorder_layout" -> {
      val terms = (0 until 16).map(b =>
        s"(((l_partkey >> $b) & 1) << ${2 * b}) + (((l_suppkey >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH z AS (
            SELECT l_partkey, l_suppkey,
              CAST($terms AS BIGINT) AS zval
            FROM lineitem)
          SELECT (zval >> 18) AS zbucket, CAST(count(*) AS BIGINT) AS n,
            min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
            min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
          FROM z GROUP BY 1"""
    },

    // plain join over the un-bucketed tables — bucketing must change
    // the PLAN (no exchanges), never the RESULT
    "q5B_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_lnum
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus""",

    "q68_sql_api" ->
      """SELECT n.n_name AS nation, count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_e4
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         GROUP BY n.n_name""",

    // mirrors each SQL function natively: shingle count is a closed
    // form (max(len-n+1, 0)); self-dot is the q45-proven
    // cast-to-double multiply-sum; NER reuses the recursive-CTE walk
    "q69_sql_functions" ->
      s"""WITH RECURSIVE ${TextQueries.nerWalkSql},
           sh AS (
             SELECT doc_id,
               CAST(greatest(len(string_split(text, ' ')) - 2, 0) AS BIGINT) AS n_shingles
             FROM documents),
           sd AS (
             SELECT vec_id,
               list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS self_dot
             FROM embeddings)
         SELECT p.doc_id, sh.n_shingles, sd.self_dot,
                array_to_string(p.phrases, ',') AS topics
         FROM phrases p
         JOIN sh ON sh.doc_id = p.doc_id
         JOIN sd ON sd.vec_id = p.doc_id""",

    // non-overlapping bigram chunks (closed form) → exact counts →
    // top-3 window with the aggregate's own (cnt DESC, chunk ASC)
    // tiebreak; capacity 65536 >> distinct chunks/shard (54,186 at
    // sf10) so the sketch is in its exact regime. Series bound 254 with the loud error()
    // guard (round-10): the previous 65536 bound cross-joined every
    // document with 32k series values before the filter — the
    // dominant cost of the sf1 DuckDB sweep (VERDICT r9 item 7) for a
    // corpus whose longest document is 100 tokens.
    "q7C_sql_generator_agg" ->
      """WITH t AS (
           SELECT doc_id % 8 AS shard,
             CASE WHEN len(string_split(text, ' ')) > 255
               THEN error('token list exceeds chunk series bound 255')
               ELSE string_split(text, ' ') END AS w
           FROM documents),
         ch AS (
           SELECT shard,
             array_to_string(list_slice(w, g.s + 1, g.s + 2), ' ') AS chunk
           FROM t, generate_series(0, 254, 2) g(s)
           WHERE g.s <= len(w) - 1),
         cnts AS (
           SELECT shard, chunk, CAST(count(*) AS BIGINT) AS cnt
           FROM ch GROUP BY shard, chunk)
         SELECT shard, chunk, cnt FROM (
           SELECT shard, chunk, cnt,
             row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, chunk ASC) AS rn
           FROM cnts) t
         WHERE rn <= 3""",

    // parquet-direct: the JSON layer must be lossless for the hash
    // to match (length() counts chars on both engines)
    "q81_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang""",

    // parquet-direct: ORC must round-trip doubles/strings bit-exact
    "q83_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio
         FROM orders GROUP BY o_orderstatus""",

    // same day filter over the un-partitioned table — pruning must
    // not change which rows qualify
    "q5C_partition_prune" ->
      """SELECT event_type, count(*) AS n,
           count(DISTINCT user_id) AS n_users
         FROM events
         WHERE CAST(ts AS DATE) = DATE '2024-01-05'
         GROUP BY event_type""",

    // same runtime day-selection predicate over the un-partitioned
    // table — dynamic pruning must not change which rows qualify
    "qA5_dynamic_prune" ->
      """WITH byday AS (
           SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_day
           FROM events GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_day) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_days
           FROM byday),
         dim AS (
           SELECT d FROM byday, tot
           WHERE n_day * n_days > total)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           max(value) AS max_value
         FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
         GROUP BY event_type""",

    // same buckets/slices, same full-outer classification
    "qAF_snapshot_diff" ->
      """WITH o AS (
           SELECT o_orderkey,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 16 AS bucket,
             CAST(floor(o_totalprice * 100.0e0) AS BIGINT) AS cents
           FROM orders),
         v1 AS (SELECT o_orderkey, cents AS c1 FROM o WHERE bucket < 14),
         v2 AS (SELECT o_orderkey,
                  CASE WHEN bucket = 5 THEN cents + 1 ELSE cents END AS c2
                FROM o WHERE bucket >= 2),
         d AS (
           SELECT CASE WHEN c2 IS NULL THEN 'removed'
                       WHEN c1 IS NULL THEN 'added'
                       WHEN c1 <> c2 THEN 'changed'
                       ELSE 'same' END AS status,
             coalesce(c2, 0) - coalesce(c1, 0) AS delta
           FROM v1 FULL OUTER JOIN v2 USING (o_orderkey))
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(delta) AS BIGINT) AS delta_cents
         FROM d GROUP BY status""",

    // parquet directly — the XML text layer must round-trip every
    // value losslessly for the hash to match
    "qB9_xml_roundtrip" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           count(*) AS n_supp,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acct_cents,
           CAST(max(len(s_name)) AS INTEGER) AS max_name_len
         FROM supplier GROUP BY 1""",

    // both generations reconstructed from the source table; v1 rows
    // carry NULL channel
    "qC3_schema_evolution" ->
      """WITH u AS (
           SELECT 'v1' AS gen, o_custkey, CAST(NULL AS VARCHAR) AS channel
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT 'v2', o_custkey, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT gen, count(*) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(count(channel) AS BIGINT) AS n_channel,
           count(DISTINCT channel) AS n_channels
         FROM u GROUP BY gen""",

    // parquet-direct: the V2 sink's JSONL layer must round-trip every
    // value losslessly for the hash to match
    "qD5_dsv2_sink" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           count(DISTINCT o_orderpriority) AS n_prio
         FROM orders GROUP BY o_orderstatus""",

    // the source's deterministic generator reproduced row-for-row:
    // same Lehmer step, same mod fields, same id bound
    "qC9_dsv2_source" ->
      """WITH g AS (
           SELECT gs.i AS id, gs.i % 97 AS grp,
             (gs.i * 48271) % 2147483647 AS v,
             't' || CAST(gs.i % 7 AS VARCHAR) AS tag
           FROM generate_series(0, 399999) gs(i))
         SELECT grp, count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v,
           min(id) AS min_id, max(id) AS max_id,
           count(DISTINCT tag) AS n_tags
         FROM g WHERE id >= 50000 AND id < 350000
         GROUP BY grp"""
  )
}
