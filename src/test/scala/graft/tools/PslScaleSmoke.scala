package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Urls

/** Times [[graft.ops.Urls.registrableDomain]]'s kernel path (rule hash
  * sets inside the expression) against
  * [[graft.ops.Urls.registrableDomainViaTable]] (broadcast rules table)
  * at curated-subset size (~200 rules) and full-PSL size (~9k rules).
  * Synthetic rules in the real list's shape (two-level
  * ccTLD suffixes + a wildcard/exception tail), 500k URLs over hosts of
  * 2–5 labels, both paths timed warm at both rule sizes, results
  * asserted EQUAL row-for-row first.
  *
  * `Test/runMain graft.tools.PslScaleSmoke` — numbers in SCALE.md
  * ("PSL path crossover").
  */
object PslScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    import spark.implicits._

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[psl] $label%-52s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // synthetic rule list in the PSL's shape: |n| two-level suffixes over
    // 300 TLD labels, plus wildcard/exception forms like the real list
    def rules(n: Int): Seq[String] =
      (0 until n - 16).map(i => s"s${i % 40}.tld${i / 40}") ++
        (0 until 8).map(i => s"*.w$i") ++ (0 until 8).map(i => s"!ok.w$i")

    // 500k URLs whose hosts exercise 2–5 labels and hit ~half the rules
    val urls = spark.range(500000L).select(col("id"),
      concat(lit("https://"),
        when(col("id") % 3 === 0, concat(lit("a.b.site"), (col("id") % 1000).cast("string"), lit(".s3.tld7")))
          .when(col("id") % 3 === 1, concat(lit("site"), (col("id") % 1000).cast("string"), lit(".example.com")))
          .otherwise(concat(lit("x.site"), (col("id") % 1000).cast("string"), lit(".w3"))),
        lit("/p/"), col("id").cast("string")).as("url"))
      .persist()
    urls.count()

    for (n <- Seq(200, 9000)) {
      val rs = rules(n)
      val rulesDf = rs.toDF("rule")
      // correctness first: identical results row-for-row
      val lit0 = urls.select(col("id"),
        Urls.registrableDomain(col("url"), rs).as("domain"))
      val tab0 = Urls.registrableDomainViaTable(urls, rulesDf, "url", "id")
        .select(col("id"), col("domain"))
      val diffs = lit0.exceptAll(tab0).count() + tab0.exceptAll(lit0).count()
      assert(diffs == 0, s"paths diverge at |rules|=$n: $diffs rows")
      // timed warm (plans already codegen'd by the equivalence run);
      // aggregate OVER the domain so column pruning cannot skip the
      // computation (a bare count() prunes the projection to nothing)
      time(s"|rules|=$n kernel path, 500k urls") {
        lit0.agg(sum(length(col("domain")))).collect()
      }
      time(s"|rules|=$n broadcast-join path, 500k urls") {
        tab0.agg(sum(length(col("domain")))).collect()
      }
    }
    spark.stop()
  }
}
