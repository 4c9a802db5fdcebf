package graft

/** Regression gate for leaked caches (r10 verdict ask #2): library
  * functions must not leave entries in the session cacheManager after
  * their results are materialized — a bare `.persist()` inside an
  * operator is unreleasable (the caller never gets the exact frame to
  * unpersist) and accumulates corpus-scale storage across a long-lived
  * session, exactly the fragility that made one degraded driver run
  * poison the round-10 performance record. Shared intermediates now ride
  * [[graft.ops.Checkpoints]] pins instead, which never touch the
  * cacheManager (their RDD-level storage is ContextCleaner-reclaimed once
  * the result frame is garbage-collected).
  *
  * The queries exercised here are the ones the verdict named as leaking
  * (spans dedup, BM25) plus the heaviest compositions (which persist
  * intermediates in every stage): if any of them re-grows a cacheManager
  * entry, this spec fails before the bench artifact can degrade.
  *
  * The documented EXCEPTIONS keep caller-held handles and are not run
  * here: `ValidationResult.logInvalid` (scaladoc tells the caller to
  * unpersist), `StreamingValidate.quarantine` and `ValidatedIO` (both
  * unpersist in `finally`).
  */
class CacheHygieneSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private val leakProne = Seq(
    "q_dedup_spans",   // Dedup.dedupSpansKeepFirst: tokenized base + window table
    "q_bm25_topk",     // Retrieval.bm25TopK: exploded term index
    "q_interleave",    // Sampling.interleaveByWeight: pinned weighted input
    "q_pack_sequences",// Sampling.packSequences: pinned order input
    "q_curation_e2e",  // WebCrawlCuration: byUrl intermediate
    "q_pipeline_e2e",  // TrainingDataPipeline: exactDeduped intermediate
    "q_twopass",       // both pipelines composed
    "q_global_rank",   // Sketches.globalRank: pinned filtered input
    "q_select_budget", // Sketches.selectByBudget: pinned gated slice
    "q_release_e2e",   // DatasetRelease: selection pin + manifest
    "q_bm25_indexed",  // writeIndex + bm25OverIndex over the read-back
    "q_stream_rollup") // maintainRollup: one released generation per batch

  for (name <- leakProne)
    test(s"$name leaves no cacheManager entry after materialization") {
      spark.catalog.clearCache() // isolate from other suites on the shared session
      SparkEntry(name).build(spark, sfDir).count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left Dataset-level cache entries behind — a library persist " +
          "with no releasing caller; route shared intermediates through " +
          "Checkpoints.pin instead")
    }

  test("mixture assembly (packSequences over interleave) leaves no cacheManager entry") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
    examples.MixturePipeline.assemble(docs).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "MixturePipeline left Dataset-level cache entries behind")
  }
}
