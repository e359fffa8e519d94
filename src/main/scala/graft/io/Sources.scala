package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table loading for the driver-generated parquet test tables
  * (TESTDATA.md). One parquet file per table under the sf dir.
  *
  * At 100 TB each of these would be a partitioned parquet dataset (or
  * an Iceberg/Delta table); `spark.read.parquet(dir)` handles both a
  * single file and a partitioned directory tree transparently, so the
  * call shape is already scale-correct. Filters/projections declared
  * downstream reach the scan via Catalyst (PushedFilters/ReadSchema).
  */
object Sources {
  /** Reads with the table's memoized footer schema (r16 cold-floor
    * work): `spark.read.parquet(path)` runs a one-task footer-read
    * job per call for schema inference — ~30-50 ms of the ~0.4 s
    * per-query floor, times 1-3 tables per query times 274 queries
    * in a bench sweep. Re-reading with the memoized schema skips that
    * job and builds a byte-identical relation (same StructType ⇒ same
    * plan, pruning and pushdown untouched). This is schema METADATA,
    * not data or results: every query still computes from the parquet
    * inputs, exactly as a catalog-backed production table
    * (Iceberg/Hive) would — those never infer per query either. The
    * memo is [[Staging]]'s per-path one, shared with staged fixtures. */
  private def readCached(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Staging.schema(path)(spark.read.parquet(path).schema))
      .parquet(path)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.parquet has shipped `ts` in two encodings across testdata
      // generations; normalize both to session-TZ TimestampType so every
      // downstream query sees one type:
      //  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType;
      //    read the raw int64 and floor-divide to micros — the same
      //    truncation DuckDB applies reading ns parquet.
      //    DELIBERATE session-wide side effect: nanosAsLong stays set
      //    (the conf is consulted at scan execution, so it can't be
      //    scoped to this read). Net effect: other ns-parquet reads in
      //    the session yield LongType instead of failing outright.
      //  - timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
      //    TIMESTAMP_NTZ, on which unix_micros/interval arithmetic fails
      //    analysis. Cast NTZ→LTZ: with the session TZ pinned UTC by
      //    the one session factory (io.Scratch.session: every main and
      //    spec) the cast is wall-clock-identity, matching DuckDB
      //    reading the same naive parquet under UTC.
      // nanosAsLong must be set BEFORE the (first, memoized) schema
      // inference so a ns-encoded ts infers as LongType instead of
      // failing; the cached schema then reproduces that choice on
      // every later call
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = readCached(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else readCached(spark, s"$sfDir/$name.parquet")
  }
}
