package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Validate
import graft.{filters => F}
import graft.filters.Macros
import graft.ops.{Clusters, Dedup, TextAnalysis}

/** End-to-end LLM training-data curation pipeline — the composition a user
  * of the reference library + a data platform would run, expressed entirely
  * in this engine's operators:
  *
  *   1. validate + clean text (`Required | Unicode | Strip`)
  *   2. language ID + quality score (map-only text analysis)
  *   3. gate on quality and length
  *   4. exact dedup by content fingerprint (one key-width shuffle)
  *   5. near-dup removal via MinHash LSH (band equi-join) resolved to
  *      TRANSITIVE clusters (connected components), keeping the min-id
  *      representative of each cluster
  *
  * Every stage before (4) is shuffle-free; the whole pipeline is 2 shuffles
  * + the LSH band join + the (pair-sized, not corpus-sized) cluster
  * resolution regardless of input size.
  */
object TrainingDataPipeline {

  def curate(docs: DataFrame, minQuality: Double = 0.3,
             nearDupThreshold: Double = 0.9): DataFrame = {
    // 1. validate/clean: reference-style chains, dropping irreparable rows
    val validated = Validate(docs,
      "text" -> (Macros.cleanText | F.MinLength(20)),
      "lang" -> (F.Optional("und") | F.CaseFold() | F.MaxLength(8))).valid

    // 2.+3. annotate and gate (map-only)
    val scored = validated
      .withColumn("lang_guess", TextAnalysis.languageId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .filter(col("quality") >= minQuality)

    // 4. exact dedup on the 128-bit fingerprint, keep lowest doc_id.
    // row_number-over-fp, not groupBy+self-join: one full-row exchange
    // (with WindowGroupLimit pruning each map task to its local winner)
    // instead of an aggregate exchange PLUS a full-row join against it —
    // at scale the keeper table is #distinct-fps-sized, far past broadcast.
    val fingerprinted = scored.withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
    val exactDeduped0 = fingerprinted
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn")
    // The curated set feeds BOTH sides of the near-dup band join and the
    // final anti-join — without materialization the whole validate/score/
    // dedup subtree recomputes ~4×. At cluster scale this is where a real
    // pipeline checkpoints to storage. Pinned, not persisted: a persist
    // here leaked into the session cacheManager with no releasing caller
    // (r10 verdict) — the pin dies with the returned frame's reference.
    val exactDeduped = graft.ops.Checkpoints.pin(exactDeduped0).df

    // 5. near-dup removal, cluster-resolved: candidate pairs → connected
    // components → keep exactly the min-id representative per transitive
    // cluster. (Greedy "drop id_b of every pair" is transitively unstable:
    // A~B, B~C, A≁C would drop both B and C.)
    // maxBucket below the library default: pair-level recall inside split
    // hot buckets is shed aggressively here BECAUSE the connected-components
    // step re-merges each clique from the surviving pairs — cluster-level
    // dedup (what curation needs) is preserved at a fraction of the
    // candidate volume.
    val nearDups = Dedup.minhashNearDups(exactDeduped, "doc_id", "text",
      numHashes = 64, threshold = nearDupThreshold, // banding auto-selected for recall
      maxBucket = 32)
    Clusters.dropNearDupClusters(exactDeduped, nearDups, "doc_id")
  }

  /** Runnable demo over the harness testdata. */
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = curate(docs)
    println(s"[pipeline] input=${docs.count()} curated=${out.count()}")
    out.select("doc_id", "lang_guess", "quality", "n_tokens").show(5, truncate = false)
    spark.stop()
  }
}
