package graft.queries

import graft.{SparkEntry, SparkSpec}

/** q38 checks against the pattern set it ran: without the mounted
  * spaCy dictionary it falls back to the demo patterns, so it must be
  * q30 in both its rows and its oracle. */
class NerFullDictSpec extends SparkSpec {

  test("without the dictionary, q38 is q30: the same rows and the same oracle") {
    assume(TextQueries.fullDictPatterns.isEmpty, "the spaCy dictionary is mounted")
    assert(SparkEntry.oracleSql("q38_ner_full_dict") === SparkEntry.oracleSql("q30_ner_topics"))
    def rows(key: String) =
      SparkEntry.queries(key)(spark, "/root/testdata/sf0.001").collect().toSeq.sortBy(_.toString)
    val q30 = rows("q30_ner_topics")
    assert(q30.nonEmpty)
    assert(rows("q38_ner_full_dict") === q30)
  }
}
