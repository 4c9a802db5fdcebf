package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkEntry

/** sf-scaling micro-bench (r7/r8 verdict ask): the five heaviest
  * pipeline queries at sf0.1 vs a 10×-DUPLICATED sf0.1 (each document
  * repeated 10× under fresh larger doc_ids — the adversarial direction
  * for dedup ops: every clique grows 10×). A wall-ratio ≫ 10× would be
  * the first real 100×-scale red flag (super-linear candidate growth);
  * a ratio ≤ 10× means the plan priced at or below data volume.
  *
  * Runs the EXACT harness queries (SparkEntry.cases) against a
  * duplicated copy of documents.parquet materialized under /tmp, so
  * there is no drift between what the bench and the gate measure.
  *
  * `Test/runMain graft.tools.SfScalingBench` — numbers in SCALE.md
  * ("sf-scaling micro-bench").
  */
object SfScalingBench {
  private val probes = Seq("q_url_dedup", "q_boilerplate_domain",
    "q_dedup_minhash", "q_pipeline_e2e", "q_curation_e2e", "q_dedup_spans",
    "q_twopass")

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dupDir = "/tmp/graft_sf01_x10"
    val spark = graft.Harness.session()

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    (0 until 10).map(k => docs.withColumn("doc_id", col("doc_id") + lit(k * 10_000_000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dupDir/documents.parquet")

    def timeWarm(name: String, dir: String): Double = {
      SparkEntry(name).build(spark, dir).count() // warm: codegen + JIT
      val t0 = System.nanoTime()
      SparkEntry(name).build(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }

    println(f"[sfscale] ${"query"}%-22s ${"1x"}%7s ${"10x"}%7s  ratio")
    probes.foreach { n =>
      val t1 = timeWarm(n, sf)
      val t10 = timeWarm(n, dupDir)
      println(f"[sfscale] $n%-22s $t1%6.2f s $t10%6.2f s  ${t10 / t1}%.2f")
    }
    spark.stop()
  }
}
