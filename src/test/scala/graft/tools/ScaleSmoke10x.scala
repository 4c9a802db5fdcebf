package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Boilerplate, Joins}

/** Scratch 10× scale smoke for the round-5-late operators (not part of the
  * suite — run via Test/runMain): union-replicate sf0.1 with shifted ids
  * and compare 1× vs 10× wall time and output shape. */
object ScaleSmoke10x {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[smoke] $label%-42s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def rep(df: DataFrame, n: Int, idCols: Seq[String]): DataFrame =
      (0 until n).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * 100000000L)))
      }.reduce(_ unionByName _)

    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def asofRun(e: DataFrame): Long = {
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts").count()
    }
    // 10×: same users, 10× the events per user (the hot-key direction —
    // a per-key window must absorb deeper partitions, not blow up)
    val ev10 = (0 until 10).map(i =>
      ev.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 7} MINUTES")))
      .reduce(_ unionByName _)
    time("asof warmup")(asofRun(ev))
    val a1 = time("asof 1x (100k events)")(asofRun(ev))
    val a10 = time("asof 10x (1M events, same keys)")(asofRun(ev10))
    println(s"[smoke] asof rows 1x=$a1 10x=$a10")

    // threshold computed OUTSIDE the timed closure — the measurement is
    // the operator, not an unrelated full-scan count
    def bpRun(d: DataFrame, minDocs: Long): Long =
      Boilerplate.removeFrequentLines(d, "doc_id", "text",
        minDocs = minDocs, delim = " ", joinSep = " ").count()
    val docs10 = rep(docs, 10, Seq("doc_id"))
    val th1 = math.ceil(0.6 * docs.count()).toLong
    val th10 = math.ceil(0.6 * docs10.count()).toLong
    time("boilerplate warmup")(bpRun(docs, th1))
    val b1 = time("boilerplate 1x (5k docs)")(bpRun(docs, th1))
    val b10 = time("boilerplate 10x (50k docs)")(bpRun(docs10, th10))
    println(s"[smoke] boilerplate rows 1x=$b1 10x=$b10")
    spark.stop()
  }
}
