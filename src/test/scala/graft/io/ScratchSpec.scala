package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scratch-tier policy the harness entrypoints rely on:
  * [[Scratch.root]] must resolve to a writable directory, must be
  * stable across calls (entrypoints and query staging read it at
  * different times), and must re-point java.io.tmpdir so
  * Files.createTempDirectory-based fixture staging lands on the same
  * tier without each call site knowing the policy. Also pins the one
  * session factory, [[Scratch.builder]], that no other main source
  * builds a session, that only graft.QueryLoop walks the query
  * registry, that no main source outside [[CheckpointStrategy]]
  * (and OpBench) checkpoints directly, and that none sleeps. */
class ScratchSpec extends AnyFunSuite {

  test("root is a writable directory and prefers the RAM tier when present") {
    val root = new java.io.File(Scratch.root)
    assert(root.isDirectory && root.canWrite)
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      assert(Scratch.root.startsWith("/dev/shm/"))
  }

  test("root is stable, re-points the tmpdir prop, and tempDir lands on it") {
    val first = Scratch.root
    assert(Scratch.root == first)
    assert(sys.props("java.io.tmpdir") == first)
    // JDK 17 pins NIO's default temp factory to the BOOT-time tmpdir
    // (StaticProperty), so the policy is: staging goes through
    // Scratch.tempDir, which must land on the scratch root
    val d = Scratch.tempDir("scratch_spec")
    try assert(d.startsWith(first))
    finally java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d))
  }

  test("configure points local.dir and warehouse at the scratch root") {
    // getOrCreate would reuse the suite-shared session and silently
    // ignore these (static) configs, so assert on the builder's own
    // option map instead of a live session
    def options(b: org.apache.spark.sql.SparkSession.Builder) = {
      val optionsField = Iterator
        .iterate[Class[_]](b.getClass)(_.getSuperclass)
        .takeWhile(_ != null)
        .flatMap(_.getDeclaredFields)
        .find(_.getName.endsWith("options"))
        .get
      optionsField.setAccessible(true)
      optionsField.get(b).asInstanceOf[scala.collection.Map[String, String]]
    }
    val opts = options(Scratch.configure(org.apache.spark.sql.SparkSession.builder()))
    assert(opts("spark.local.dir") == Scratch.root)
    assert(opts("spark.sql.warehouse.dir").startsWith(Scratch.root))
    // the session factory: scratch policy plus local[n], n shuffle
    // partitions, UTC session time zone, no UI, then the extras
    val f = options(Scratch.builder(3, Map("spark.sql.adaptive.enabled" -> "false")))
    assert(f("spark.local.dir") == Scratch.root)
    assert(f("spark.master") == "local[3]")
    assert(f("spark.sql.shuffle.partitions") == "3")
    assert(f("spark.sql.session.timeZone") == "UTC")
    assert(f("spark.ui.enabled") == "false")
    assert(f("spark.sql.adaptive.enabled") == "false")
  }

  /** Main source files (relative to src/main/scala) containing any of
    * `needles`, sorted. */
  private def mainSourcesContaining(needles: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"spec must run from the repo root (cwd: ${System.getProperty("user.dir")})")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val text = java.nio.file.Files.readString(p)
        needles.exists(text.contains)
      }
      .map(root.relativize(_).toString).toSeq.sorted
  }

  test("SparkSession.builder appears in exactly one main source file") {
    val sites = mainSourcesContaining("SparkSession.builder")
    assert(sites == Seq("graft/io/Scratch.scala"),
      s"every main builds its session through io.Scratch.session; found $sites")
  }

  test("only QueryLoop walks the query registry and its staging") {
    val sites = mainSourcesContaining("SparkEntry.queries", "SparkEntry.staging")
      .filterNot(_ == "graft/SparkEntry.scala")
    assert(sites == Seq("graft/QueryLoop.scala"),
      s"mains select, stage and run registry keys through graft.QueryLoop; found $sites")
  }

  test("checkpoint calls appear only in io/Checkpoint.scala and OpBench") {
    // OpBench is the one exception: it materializes fixed operator
    // inputs, and its BASELINE rows were measured that way
    val sites = mainSourcesContaining("localCheckpoint(", ".checkpoint(")
    assert(sites == Seq("graft/OpBench.scala", "graft/io/Checkpoint.scala"),
      s"engine code materializes through io.CheckpointStrategy; found $sites")
  }

  test("no main source calls Thread.sleep") {
    // waiting on Spark's listeners goes through
    // GraftShims.waitForListeners, which returns once every event
    // posted so far is delivered; a sleep is both slower and racy
    val sites = mainSourcesContaining("Thread.sleep")
    assert(sites.isEmpty, s"main sources that sleep: $sites")
  }
}
