package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.examples.TwoPassCuration

/** Scale-up smoke for the COMPOSED two-pass curation pipeline
  * ([[graft.examples.TwoPassCuration]]): wall-time at 1× vs 10×-duplicated
  * sf0.1 documents, plus end-to-end duplication invariance — re-crawling
  * every page 10× (fresh larger doc_ids, same URLs and text) must curate
  * to the IDENTICAL document set, and the added copies must die at the
  * first-pass URL dedup (so cost grows far sub-linearly in the duplicated
  * volume).
  *
  * `Test/runMain graft.tools.TwoPassSmoke [sfDir]` — numbers recorded in
  * SCALE.md ("two-pass composition" section).
  */
object TwoPassSmoke {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session()

    def time[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[twopass] $label%-46s $sec%6.2f s")
      (r, sec)
    }

    // crawl surface over the real sf documents: deterministic per-doc URL
    // spread over 50 registrable domains + a per-domain nav line so the
    // boilerplate stage has real work. URLs derive from the BASE doc_id;
    // re-crawl copies shift only the id.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.select(col("doc_id"),
      concat(lit("https://www.crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
        lit(".co.uk/d/"), col("doc_id").cast("string")).as("url"),
      concat(lit("crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
        lit(" home about contact navigation\n"), col("text")).as("text"))

    def crawlAt(mult: Int): DataFrame =
      (0 until mult).map { k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * 10_000_000L))
      }.reduce(_ unionAll _)

    def run(mult: Int, spanK: Int = 0): Set[Long] =
      TwoPassCuration.curate(crawlAt(mult), Seq("blocked.example.com"),
          spanK = spanK)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // absorb one-time JVM/codegen cost so the 1× number is honest
    run(1)

    val (once, t1) = time("curate 1× crawl")(run(1))
    val (tenX, t10) = time("curate 10×-duplicated crawl")(run(10))
    println(s"[twopass] 1× survivors=${once.size} 10× survivors=${tenX.size}")
    assert(tenX == once,
      s"duplication changed the curated set: missing=${(once -- tenX).take(5)} " +
        s"extra=${(tenX -- once).take(5)}")
    println(f"[twopass] wall ratio 10×/1× = ${t10 / t1}%.2f (10× the rows, " +
      "dup copies die at first-pass URL dedup)")

    // same invariance with span excision (stage 4b) enabled: duplicate
    // COPIES die at URL dedup before the span stage ever sees them, so
    // span excision must not break the 1×==10× survivor identity — the
    // spec argues it, this measures it (r9 verdict ask)
    val (onceS, t1s) = time("curate 1× crawl, spanK=8")(run(1, spanK = 8))
    val (tenXS, t10s) = time("curate 10×-duplicated crawl, spanK=8")(run(10, spanK = 8))
    println(s"[twopass] spanK=8 1× survivors=${onceS.size} 10× survivors=${tenXS.size}")
    assert(tenXS == onceS,
      s"duplication changed the spanK=8 curated set: missing=${(onceS -- tenXS).take(5)} " +
        s"extra=${(tenXS -- onceS).take(5)}")
    println(f"[twopass] spanK=8 wall ratio 10×/1× = ${t10s / t1s}%.2f")
    spark.stop()
  }
}
