package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Scratch scale smoke for the sharded seen-keys sketch (not part of the
  * suite — run via Test/runMain): build time and verdict agreement at 1×
  * and 10× key volume, unsharded vs 8-way sharded. The claim under test:
  * the sharded build scales linearly with keys (per-task memory bounded
  * by ONE shard) and the probe verdicts agree with the unsharded sketch
  * on definitely-new keys. Numbers land in SCALE.md. */
object BloomShardSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bloomshard] $label%-44s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    for (keys <- Seq(5_000_000L, 50_000_000L)) {
      val corpus = spark.range(keys).select(col("id"))
      val one = time(s"keys=$keys unsharded build") {
        Dedup.seenFilter(corpus, col("id"), expectedItems = keys)
      }
      val shards = time(s"keys=$keys sharded(8) build") {
        Dedup.seenFilterSharded(corpus, col("id"), shards = 8,
          expectedItemsPerShard = keys / 8 + keys / 16)
      }
      println(f"[bloomshard] keys=$keys bytes: one=${one.length}%,d " +
        f"shardTotal=${shards.map(_.length.toLong).sum}%,d")
      // verdict agreement on a definitely-fresh batch
      val fresh = spark.range(keys, keys + 1_000_000L).select(col("id"))
      val disagree = fresh.filter(
        Dedup.mightBeSeen(one, col("id")) =!=
          Dedup.mightBeSeenSharded(shards.toSeq, col("id"))).count()
      val freshFlaggedSharded = fresh.filter(
        Dedup.mightBeSeenSharded(shards.toSeq, col("id"))).count()
      println(s"[bloomshard] keys=$keys fresh-batch disagreements=$disagree " +
        s"(fpp-level expected), shardedFlagged=$freshFlaggedSharded/1000000")
      // no false negatives, sharded
      val misses = corpus.sample(0.01, 7)
        .filter(!Dedup.mightBeSeenSharded(shards.toSeq, col("id"))).count()
      println(s"[bloomshard] keys=$keys sharded misses on ingested sample=$misses")
    }
    spark.stop()
  }
}
