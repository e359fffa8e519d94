package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for the query registry. The registry
  * is assembled by `Map ++ Map` over [[SparkEntry.modules]] — a
  * duplicated query name would SILENTLY drop the earlier module's
  * query (and its oracle would then check the wrong plan), so
  * uniqueness is load-bearing, not stylistic. No SparkSession needed:
  * these are pure map properties.
  */
class SparkEntryContractSpec extends AnyFunSuite {

  test("query names are globally unique across modules") {
    val all = SparkEntry.modules.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate query names across modules: $dups")
    assert(SparkEntry.queries.size === all.size)
  }

  test("the registry's key sets: 274 queries, each with an oracle, 25 staged") {
    assert(SparkEntry.modules.size === 13)
    assert(SparkEntry.queries.size === 274)
    assert(SparkEntry.oracleSql.size === 274)
    assert(SparkEntry.staging.keySet === Set(
      "q11B_adamic_adar", "q56_stream_tumbling", "q57_csv_roundtrip",
      "q5A_stream_stateful", "q5B_bucketed_join", "q5C_partition_prune",
      "q5D_stream_dedup", "q74_dedup_clusters", "q79_stream_enrich",
      "q7A_stream_stream_join", "q81_jsonl_roundtrip", "q82_stream_dedup_watermark",
      "q83_orc_roundtrip", "qA1_canonical_docs", "qA5_dynamic_prune",
      "qB2_triangle_count", "qB9_xml_roundtrip", "qBE_stream_session",
      "qC1_curation_pipeline", "qC3_schema_evolution", "qD5_dsv2_sink",
      "qD7_stream_v2_sink", "qE8_kcore", "qE9_binary_files", "qF3_split_leakage"))
  }

  test("every oracle key has a query; every staging key has a query") {
    val q = SparkEntry.queries.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet.diff(q)
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    val orphanStaging = SparkEntry.staging.keySet.diff(q)
    assert(orphanStaging.isEmpty, s"staging without queries: $orphanStaging")
  }

  test("every query has an oracle (the driver's correctness gate)") {
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty,
      s"queries without oracles (driver records only rows>0): $missing")
  }

  test("query names follow the hex-sequential naming scheme") {
    // two-char hex ids (plus the historical q1G); the space filled at
    // qFF, so round 6 onward continues with three-char ids (q100…)
    val bad = SparkEntry.queries.keySet
      .filterNot(_.matches("q[0-9A-Z]{2,3}_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming query names: $bad")
  }
}
