package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Urls}

/** Scratch scale smoke for the r7 dedup ops (not part of the suite — run
  * via Test/runMain): duplication-invariance and hot-key behavior of
  * [[Urls.dedupByUrl]] and [[Dedup.dedupUnitsKeepFirst]] at 1× and 10×
  * corpus volume. The claims under test:
  *
  *   - survivor sets are INVARIANT under duplication (crawling the same
  *     pages 10× more must not change the deduped corpus);
  *   - runtime grows ~linearly with input volume — the WindowGroupLimit
  *     pre-prune keeps a hot canonical URL / hot unit from going
  *     quadratic (a 100k-fold duplicated URL ships ≤ #map-partitions
  *     rows through the exchange);
  *
  * Numbers land in SCALE.md. */
object UrlUnitDedupSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[urlunit] $label%-52s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // absorb one-time JVM/codegen cost so the 1× numbers are honest
    Urls.dedupByUrl(spark.range(10000).select(col("id"),
      concat(lit("http://w.example.com/"), col("id").cast("string")).as("url")),
      "url", "id").count()
    Dedup.dedupUnitsKeepFirst(spark.range(10000).select(col("id"),
      concat(lit("u-"), (col("id") % 100).cast("string")).as("text")),
      "id", "text").count()

    for (mult <- Seq(1L, 10L)) {
      val n = 1_000_000L * mult
      // ~100k distinct resources in many spellings + ONE hot URL at ~9%
      // of the corpus (the skew case the pre-prune must bound)
      val crawl = spark.range(n).select(col("id"),
        when(col("id") % 11 === 0, lit("HTTP://Hot.Example.COM:80/landing/?utm_source=feed"))
          .otherwise(concat(
            when(col("id") % 2 === 0, lit("https://Site.Example.ORG/item/"))
              .otherwise(lit("HTTPS://site.example.org/item/")),
            (col("id") % 100000).cast("string"),
            when(col("id") % 3 === 0, lit("/")).otherwise(lit("")),
            when(col("id") % 5 === 0, lit("?fbclid=x&b=1")).otherwise(lit("#top"))))
          .as("url"))
      val survivors = time(s"mult=$mult dedupByUrl over $n rows") {
        Urls.dedupByUrl(crawl, "url", "id").select("url_canonical").collect()
          .map(_.getString(0)).toSet
      }
      println(s"[urlunit] mult=$mult distinct resources=${survivors.size}")

      // unit dedup: 200k docs × 12 units drawn from a 50k-unit pool —
      // every unit heavily repeated across docs
      val docs = spark.range(200_000L * mult).select(col("id"),
        concat_ws("\n", (0 until 12).map(i =>
          concat(lit(s"unit-"), pmod(col("id") * 31 + i * 7, lit(50000)).cast("string"))): _*)
          .as("text"))
      // invariant at any mult: exactly ONE survivor per distinct pool
      // unit → total surviving units == pool size (50k)
      val kept = time(s"mult=$mult dedupUnitsKeepFirst over ${200000 * mult} docs") {
        Dedup.dedupUnitsKeepFirst(docs, "id", "text")
          .agg(count(lit(1)), sum(size(split(col("text_clean"), "\n")))).collect()(0)
      }
      println(s"[urlunit] mult=$mult surviving docs=${kept.get(0)} survivingUnits=${kept.get(1)}")
    }
    spark.stop()
  }
}
