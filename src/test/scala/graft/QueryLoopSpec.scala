package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims}

import scala.collection.mutable

/** Pins the one per-query loop the harness mains share: selection
  * (sorted by default, unknown names rejected without a job), staging
  * ahead of the body and timed apart from it, and a failing key
  * recorded while the next key still runs. */
class QueryLoopSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("the default order is every registry key, sorted") {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    assert(QueryLoop.select(Nil) == Right(keys))
    // given names keep their given order
    assert(QueryLoop.select(Seq(keys(2), keys(0))) == Right(Seq(keys(2), keys(0))))
  }

  test("unknown names are rejected before any job runs") {
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sel = QueryLoop.select(Seq("q01_agg_pricing", "q99_typo", "nope"))
      assert(sel == Left(Seq("q99_typo", "nope")))
      GraftShims.waitForListeners(spark)
      assert(jobs == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a key whose body throws is recorded as failed and the next key runs") {
    val names = Seq("q01_agg_pricing", "q02_filter_project")
    val out = QueryLoop.each(spark, sf, "spec", names) { (name, build) =>
      if (name == names.head) throw new IllegalStateException("boom")
      build().count()
    }
    assert(out.map(_.name) == names)
    assert(out.head.result.swap.map(_.getMessage) == Right("boom"))
    assert(out(1).result.exists(_ > 0))
  }

  test("staging runs before the body and is timed apart from it") {
    val events = mutable.ArrayBuffer.empty[String]
    val query: QueryLoop.Query = (s, dir) => io.Sources.table(s, dir, "nation")
    val out = QueryLoop.each(spark, sf, "spec", Seq("a", "b", "c"),
      queries = Map("a" -> query, "b" -> query, "c" -> query),
      staging = Map(
        "a" -> ((_, _) => { Thread.sleep(500); events += "stage a" }),
        "b" -> ((_, _) => throw new IllegalStateException("stage failed")))
    ) { (name, build) =>
      events += s"body $name"
      build().count()
    }
    // a failed staging step skips its body; the next key still runs
    assert(events == Seq("stage a", "body a", "body c"))
    assert(out.map(_.result.isRight) == Seq(true, false, true))
    assert(out.head.stageS.exists(_ >= 0.5))
    assert(out(2).stageS.isEmpty)
    // the registry's own staging map is the default
    val staged = QueryLoop.each(spark, sf, "spec", Seq("q57_csv_roundtrip"))(
      (_, build: () => DataFrame) => build().count())
    assert(staged.head.stageS.isDefined && staged.head.result.exists(_ > 0))
  }
}
