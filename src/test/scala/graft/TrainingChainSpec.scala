package graft

/** Invariants the q403 training-build chain relies on without paying a
  * job for them on the query path. */
class TrainingChainSpec extends SparkSpec {

  test("q403: every kept doc is in the corpus id set, so the stage-1 " +
      "census (m1_n_docs) counts the kept set whole") {
    val (kept, corpusIds, _, _, _) =
      QueriesLlmD.batchChainArtifacts(spark, TestSpark.sfDir)
    val missing = kept.join(corpusIds, Seq("doc_id"), "left_anti")
    assert(missing.isEmpty,
      s"kept docs absent from corpusIds: ${missing.limit(5).collect().toSeq}")
    assert(kept.count() > 0, "vacuous: the kept set is empty")
  }
}
