package graft.io

/** Memoized one-time staging for queries whose inputs must first be
  * WRITTEN in a particular layout (CSV round-trip, bucketed tables,
  * date-partitioned parquet, streaming file-source dirs / drained
  * memory sinks).
  *
  * Why this exists: the bench harness must time the QUERY, not the
  * fixture setup — a `bucketBy` write of two fact tables inside the
  * timed closure swamps the zero-exchange join it exists to
  * demonstrate, and made per-query numbers swing up to 5× between
  * rounds on identical binaries. Queries route their setup through
  * [[once]]: the first call per (key, JVM) runs the staging and
  * caches its result (a path or table/sink name); subsequent calls
  * return the cached value without touching storage. graft.QueryLoop
  * runs the staging pass BEFORE each key's body and times it apart
  * (Bench's `staging`), so Bench's timed region is query-only; ad-hoc
  * callers need no pre-pass — their first query call stages inline,
  * and correctness is identical either way.
  */
object Staging {
  private val cache = scala.collection.concurrent.TrieMap[String, String]()

  /** Runs `build` at most once per `key` per JVM; returns its result
    * (e.g. the staged directory or the memory-sink table name) on
    * every call. `build` must be idempotent in effect: keys embed the
    * source dir, so different scale factors stage independently.
    * Stages may NEST (a drain stages its source dir first), so this
    * is get-then-put rather than computeIfAbsent (whose lock forbids
    * recursive updates); two racing threads could both run `build`,
    * which is safe because builds are idempotent and the harness
    * stages single-threaded. */
  def once(key: String)(build: => String): String =
    cache.get(key) match {
      case Some(v) => v
      case None =>
        val v = build
        cache.putIfAbsent(key, v).getOrElse(v)
    }

  /** Deterministic filesystem/table-name-safe tag for a source dir —
    * lets bucketed tables use stable names (re-staged with
    * mode=overwrite on a fresh JVM, reused within one). */
  def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
}
