package graft.plans

import graft.{PlanAudit, SparkEntry, SparkSpec}

/** Plan-regression gate over the whole ledger: rebuilds every registry
  * key at sf0.001 the way PlanAudit does (AQE off, so the tree is the
  * initial plan AQE starts from) and compares its shape with the key's
  * PLANS.md row, every column but the note. It fails on drift in
  * either direction: a new exchange is a scale regression, and a
  * vanished one means the ledger is stale. Re-pin deliberately: run
  * graft.PlanAudit, review the diff, and commit the rows with their
  * notes.
  */
class PlanRegressionSpec extends SparkSpec {

  private val ledger = PlanAudit.read(PlanAudit.Ledger)

  test("PLANS.md holds exactly one row per registry key") {
    val keys = ledger.map(_.name)
    val registry = SparkEntry.queries.keySet
    assert(keys.diff(keys.distinct).isEmpty, "keys with more than one row")
    assert((registry -- keys).isEmpty, "registry keys with no row")
    assert((keys.toSet -- registry).isEmpty, "rows for no registry key")
  }

  private def audit(name: String) = {
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try PlanAudit.audit(spark, PlanAudit.SfDir, Seq(name)).head.result
    finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  ledger.distinctBy(_.name).foreach { row =>
    val pinned = row.shape.fold("ERROR row") { p =>
      s"${p.exchanges} exchanges, ${p.scans} scans, ${p.pushed} pushed"
    }
    test(s"${row.name} plan shape is pinned: $pinned") {
      val expected = row.shape.getOrElse(fail(s"PLANS.md holds an ERROR row for ${row.name}"))
      val got = audit(row.name).fold(e => fail(s"${row.name} failed to build", e), identity)
      assert(got === expected, s"${row.name} plan drifted from its PLANS.md row: " +
        "re-run graft.PlanAudit, review the diff, and re-pin deliberately")
    }
  }
}
