package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One-time staging of the fixtures some queries must first WRITE in
  * a particular layout (round-trip formats, shared parquet edge lists,
  * date-partitioned parquet, connector and stream sinks, bucketed
  * tables, drained memory sinks).
  *
  * The bench must time the QUERY, not the fixture setup: a `bucketBy`
  * write inside the timed closure swamps the zero-exchange join it
  * exists to demonstrate. The first call per (key, JVM) stages; later
  * calls reuse it. graft.QueryLoop runs each key's staging ahead of
  * its body and times it apart (Bench's `staging`); other callers
  * stage inline on first use, with identical results.
  *
  * A file fixture is a [[Fixture]], which alone decides where it lives
  * and reads it back with the schema it was written with: a build
  * infers nothing (no Spark job) and a zero-row fixture keeps every
  * column. Two round-trips infer on purpose and read their directory
  * themselves: q57's header + inferSchema CSV read is the reference's
  * (demo.py:53) and its type drift is what q57 checks; qC3's
  * mergeSchema footer union is the feature under test. Fixtures that
  * are not a readable directory (bucketed tables, memory-sink drains,
  * stream source dirs, binary payload files) use [[once]].
  */
object Staging {
  private val cache = scala.collection.concurrent.TrieMap[String, String]()

  /** The one per-JVM schema memo, keyed by absolute path: a testdata
    * table's inferred footer schema (io.Sources) and each
    * [[Fixture]]'s written schema. Files at a path are fixed for a JVM's
    * lifetime (regenerated testdata comes with a fresh JVM). */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Runs `build` at most once per `key` per JVM and returns its
    * result (a directory, a table or sink name) on every call. Keys
    * embed the source dir, so scale factors stage independently.
    * Stages may NEST (a drain stages its source dir first), so this is
    * get-then-put, not computeIfAbsent (whose lock forbids recursive
    * updates); racing threads could both build, which is safe because
    * builds are idempotent and the harness stages single-threaded. */
  def once(key: String)(build: => String): String =
    cache.get(key) match {
      case Some(v) => v
      case None =>
        val v = build
        cache.putIfAbsent(key, v).getOrElse(v)
    }

  /** A file fixture named `name`, staged once per (source dir, JVM)
    * and read back as `format` with `options` and the schema that was
    * written. `write(s, dir, out)` writes into the fresh scratch
    * directory `out` and returns the frame it wrote (a streaming frame
    * for a stream sink); only that frame's schema is kept. Fixtures
    * may nest like [[once]]. */
  final class Fixture private[Staging] (name: String, format: String,
      options: Map[String, String],
      write: (SparkSession, String, String) => DataFrame) {
    private def path(s: SparkSession, dir: String): String =
      once(s"$name:$dir") {
        val out = Scratch.tempDir(s"graft_$name")
        schemas.put(out, write(s, dir, out).schema)
        out
      }

    /** Writes the fixture if this JVM has not yet; reads nothing
      * back (the QueryLoop pre-pass). */
    def stage(s: SparkSession, dir: String): Unit = { path(s, dir); () }

    /** The fixture, staged on first use, read back with its schema. */
    def frame(s: SparkSession, dir: String): DataFrame = {
      val p = path(s, dir)
      s.read.schema(schemas.get(p)).format(format).options(options).load(p)
    }
  }

  def fixture(name: String, format: String,
      options: Map[String, String] = Map.empty)(
      write: (SparkSession, String, String) => DataFrame): Fixture =
    new Fixture(name, format, options, write)

  /** The memoized schema at `path`, running `infer` on first use. */
  private[io] def schema(path: String)(infer: => StructType): StructType =
    schemas.computeIfAbsent(path, _ => infer)

  /** Deterministic filesystem/table-name-safe tag for a source dir —
    * lets bucketed tables use stable names (re-staged with
    * mode=overwrite on a fresh JVM, reused within one). */
  def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
}
