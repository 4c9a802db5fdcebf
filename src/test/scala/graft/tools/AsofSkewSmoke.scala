package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Joins

/** Scratch skewed-key as-of smoke (not part of the suite — run via
  * Test/runMain): one key holding 10× / 100× the median key's rows,
  * measured plain vs `timeBuckets = 32`. Synthetic longs keep the
  * measurement about the WINDOW SORT, not parquet IO. Numbers land in
  * SCALE.md ("Skewed-key as-of measurement"). */
object AsofSkewSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    import spark.implicits._

    def time(label: String)(f: => Long): Unit = {
      // warm once, then best-of-2 to damp container drift
      f
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[skew] $label%-52s ${runs.map(_._1).min}%6.2f s  (rows ${runs.head._2})")
    }

    // 64 keys, ~64k rows each at skew 1; "hot" key inflated by the skew
    // factor. Left times uniform in [0, 1e9); right side 2k rows per key.
    val keys = 64
    val baseRows = 4_000_000L
    for (skew <- Seq(1, 10, 100)) {
      val hotExtra = (baseRows / keys) * (skew - 1)
      val l = spark.range(baseRows + hotExtra).select(
        col("id").as("lid"),
        when(col("id") < hotExtra, lit("hot"))
          .otherwise(concat(lit("k"), pmod(col("id"), lit(keys)))).as("k"),
        pmod(col("id") * 2654435761L, lit(1000000000L)).as("lt"))
      val r = spark.range(keys * 2000L).select(
        concat(lit("k"), pmod(col("id"), lit(keys))).as("k"),
        pmod(col("id") * 40503L, lit(1000000000L)).as("rt"),
        col("id").cast("double").as("v"))
        .groupBy("k", "rt").agg(max("v").as("v"))
        .union(spark.range(2000L).select(lit("hot"),
          pmod(col("id") * 40503L, lit(1000000000L)), col("id").cast("double")))
      time(s"skew=${skew}x plain (one window partition per key)") {
        Joins.asofJoin(l, r, Seq("k"), "lt", "rt").filter(col("v").isNotNull).count()
      }
      time(s"skew=${skew}x timeBuckets=32 (two-level carry)") {
        Joins.asofJoin(l, r, Seq("k"), "lt", "rt", timeBuckets = 32)
          .filter(col("v").isNotNull).count()
      }
    }
    spark.stop()
  }
}
