package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query loop behind Bench, Verify, Inspect and PlanAudit:
  * select registry keys, stage each key's fixtures ahead of its body,
  * run the body with its failure recorded instead of thrown, and sweep
  * between keys. Each main keeps only its body. */
object QueryLoop {
  type Query = (SparkSession, String) => DataFrame
  type Stage = (SparkSession, String) => Unit

  /** One key's run: its staging seconds (None when it has no staging
    * step) and the body's value, or what the staging or body threw. */
  final case class Outcome[A](name: String, stageS: Option[Double],
      result: Either[Throwable, A])

  private lazy val registry: Map[String, Query] = SparkEntry.queries

  /** `SPARK_GRAFT_GC_EACH=1`: [[io.Scratch.sweep]] after every key, so
    * a long run's scratch and heap hold one query's working set, not
    * the sum over the run. Off by default: the sf0.1 timings were
    * measured without per-query GC pauses. */
  private val gcEach = sys.env.get("SPARK_GRAFT_GC_EACH").contains("1")

  /** `names` as given, or every registry key sorted when none is
    * given; Left holds the names the registry does not know. */
  def select(names: Seq[String]): Either[Seq[String], Seq[String]] =
    names.filterNot(registry.contains) match {
      case Seq() => Right(if (names.isEmpty) registry.keys.toSeq.sorted else names)
      case unknown => Left(unknown)
    }

  /** [[select]] for a main: unknown names exit 2, naming them, before
    * the main starts its session. */
  def selectOrExit(tag: String, names: Seq[String]): Seq[String] =
    select(names).fold({ unknown =>
      System.err.println(s"[$tag] unknown queries: ${unknown.mkString(" ")}" +
        " (names come from SparkEntry.queries)")
      sys.exit(2)
    }, identity)

  /** Runs `body(name, build)` for each of `names` in order, where
    * `build()` builds the key's DataFrame. The key's staging step runs
    * first and is timed apart from the body. A staging or body failure
    * is printed to stderr under `tag` and recorded; the next key still
    * runs. `queries` and `staging` default to the registry's. */
  def each[A](spark: SparkSession, sfDir: String, tag: String,
      names: Seq[String], queries: Map[String, Query] = registry,
      staging: Map[String, Stage] = SparkEntry.staging)(
      body: (String, () => DataFrame) => A): Seq[Outcome[A]] =
    names.map { name =>
      var stageS: Option[Double] = None
      val result = try {
        staging.get(name).foreach { st =>
          stageS = Some(timed(st(spark, sfDir)))
        }
        Right(body(name, () => queries(name)(spark, sfDir)))
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        Left(e)
      }
      if (gcEach) io.Scratch.sweep(spark)
      Outcome(name, stageS, result)
    }

  /** Seconds to build a query and compute its whole result: every row
    * and column, written to a `noop` sink. `count()` would let Catalyst
    * prune projections, windows and join sides. */
  def timeFull(build: => DataFrame): Double =
    timed(build.write.format("noop").mode("overwrite").save())

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
