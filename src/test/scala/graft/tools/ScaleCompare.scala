package graft.tools

import org.apache.spark.sql.functions._
import graft.Harness

/** sf0.1-vs-sf1 NATURAL-growth scaling comparison (r14 verdict ask #1) —
  * runs over [[GenScale]] output (same generator, 10× the scale knob, so
  * key/vocab universes genuinely grow) and produces the SCALE.md table:
  *
  *  1. the heaviest harness queries (the r15 bench top list), timed at
  *     g0.1 and g1 — sublinear-or-explained growth per query;
  *  2. the nine r14 bounded-state invariants RESTATED for natural
  *     growth: each state table is asserted EQUAL to its model-derived
  *     size at BOTH scales (grid span, keys × span, #nodes, #customers,
  *     #bins, #keys, #months) — the form that survives a growing key
  *     universe, where the replication-era "equal at both scales" only
  *     holds for the genuinely input-independent tables.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.ScaleCompare /tmp/gensf/g0.1 /tmp/gensf/g1"
  */
object ScaleCompare {

  /** The 20 heaviest harness queries by the r15 warm bench at sf0.1
    * (bench-extra entries excluded from this list), plus the
    * corpus-scale `q_dedup_minhash` timed-only case as the dedup scale probe
    * (the one op whose hot-bucket guard self-similar corpora exercise). */
  val Heaviest: Seq[String] = Seq(
    "q_twopass", "q_pipeline_e2e", "q_frequent_pairs", "q_fuzzy_join",
    "q_jsonl_roundtrip", "q_stream_join", "q_dedup_spans", "q_stream_rollup",
    "q_rrf_fusion", "q_entity_resolution", "q_skyline", "q_mmr_rerank",
    "q_stream_drift", "q_rollup_refresh", "q_curation_e2e", "q_assoc_rules",
    "q_bm25_indexed", "q_dedup_keep_best", "q_corr_matrix", "q_collocations",
    "q_dedup_minhash")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleCompare <smallDir> <bigDir>")
    val (small, big) = (args(0), args(1))
    val only = if (args.length > 2) args(2).split(",").toSet else Set.empty[String]
    val spark = Harness.session()
    // the tables are single-FILE parquet (the driver layout, which the
    // streaming pathGlobFilter queries require) — at g1 a 120 MB file
    // is ONE input split under the 128 MB default, so a default-config
    // run measures file count, not operator scaling (q_corr_matrix
    // went 7.5× from a 1-task scan). A 100 TB deployment has thousands
    // of splits; 4 MB splits give both scales that shape locally.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    val names = (if (only.nonEmpty) Heaviest.filter(only) else Heaviest)
    println("query,small_s,small_rows,big_s,big_rows,time_ratio,row_ratio")
    names.foreach { name =>
      val fn = graft.SparkEntry(name).build
      val (ts, rs) = timed(fn(spark, small).count()); Harness.clearState(spark)
      val (tb, rb) = timed(fn(spark, big).count()); Harness.clearState(spark)
      println(f"[cmp] $name,$ts%.2f,$rs,$tb%.2f,$rb,${tb / ts}%.2f,${rb.toDouble / rs}%.2f")
    }

    // ---- nine bounded-state invariants, natural-growth form ------------
    for ((label, dir) <- Seq(small, big).map(d =>
        d.split('/').last -> d)) {
      def T(n: String) = spark.read.parquet(s"$dir/$n.parquet")
      val o = T("orders"); val ev = T("events")

      // 1. Mann–Whitney grid cells == distinct snapped values, bounded by
      // the VALUE SPAN / grid (fixed at any sf), never by row count
      val mwCells = o.select((floor(col("o_totalprice") / 100.0 + 0.5) * 100.0)
        .as("v")).distinct().count()
      val mwBound = (500000.0 - 1000.0) / 100.0 + 2
      assert(mwCells <= mwBound, s"MW cells $mwCells > span bound $mwBound")

      // 2. resampleDaily output == Σ_key (its own observed span in days)
      // — keys × per-key spans, growing with the USER universe, never
      // with observations per user
      val rs = graft.ops.TimeSeries.resampleDaily(ev, "user_id", "ts",
        "event_id", "value").count()
      val grid = ev.filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg((datediff(to_date(max(col("ts"))), to_date(min(col("ts")))) + 1)
          .as("span"))
        .agg(sum(col("span"))).head.getLong(0)
      assert(rs == grid, s"resample rows $rs != sum of per-key spans $grid")

      // 3. label-prop vector == #distinct nodes (natural keys: customers
      // referenced by orders + a hash partner), never #edges
      val edges = o.select(col("o_custkey").as("src"),
        pmod(xxhash64(col("o_orderkey")), lit(150000L)).as("dst"))
      val lp = graft.ops.Graphs.labelPropagation(edges, "src", "dst", 3).count()
      val nodes = edges.select(explode(array(col("src"), col("dst"))).as("n"))
        .distinct().count()
      assert(lp == nodes, s"labelprop rows $lp != node universe $nodes")

      // 4. RFM rows == #distinct customers with orders
      val rfm = graft.ops.Rollups.rfmSegments(o, "o_custkey", "o_orderdate",
        "o_totalprice").count()
      val custs = o.select(col("o_custkey")).distinct().count()
      assert(rfm == custs, s"rfm rows $rfm != customers $custs")

      // 5. isotonic bins == nBins (model constant)
      val iso = graft.ops.Classifier.isotonicCalibration(o.select(
        ((col("o_orderkey") * 13 % 100).cast("double") / 100.0).as("s"),
        when(col("o_orderkey") * 7 % 100 < col("o_orderkey") * 13 % 100, 1.0)
          .otherwise(0.0).as("y")), "s", "y", 10).count()
      assert(iso == 10, s"isotonic bins $iso != 10")

      // 6–8. holt keys / seasonal rows / theil-sen keys over the daily
      // per-type series: all == event-type inventory (5, fixed) × span
      val daily = ev.filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nv"))
      val days = ev.select(countDistinct(to_date(col("ts")))).head.getLong(0)
      val ho = graft.ops.TimeSeries.holtSmooth(daily, "event_type", "day", "nv").count()
      assert(ho == 5, s"holt keys $ho != 5 event types")
      val se = graft.ops.TimeSeries.seasonalDecompose(daily, "event_type",
        "day", "nv").count()
      assert(se == 5 * days, s"seasonal rows $se != 5×$days")
      val tsn = graft.ops.TimeSeries.theilSen(daily, "event_type", "day", "nv").count()
      assert(tsn == 5, s"theil-sen keys $tsn != 5")

      // 9. period-over-period rows == #distinct order months (span-fixed)
      val pop = graft.ops.Rollups.periodOverPeriod(o, "o_orderdate",
        "o_totalprice").count()
      val months = o.select(countDistinct(date_trunc("month", col("o_orderdate"))))
        .head.getLong(0)
      assert(pop == months, s"pop rows $pop != months $months")

      println(s"[inv] $label: mw_cells=$mwCells (bound ${mwBound.toLong}) " +
        s"resample=$rs (=users×span $grid) labelprop=$lp (=nodes $nodes) " +
        s"rfm=$rfm (=customers $custs) iso_bins=$iso holt_keys=$ho " +
        s"seasonal=$se (=5×$days) theil_keys=$tsn pop_months=$pop (=$months)")
      Harness.clearState(spark)

      // ---- sketch/ANN family (the dedup-side state the replication
      // smokes also froze): CMS cell table bounded by depth×width, IVF
      // cell count bounded by the centroid budget, both independent of
      // corpus size — asserted at a genuinely grown key/vector universe
      val docs = T("documents"); val emb = T("embeddings")
      // integral keys only (the documented cmsBuild contract): the
      // growing USER universe is exactly the adversary — 10× more
      // distinct keys, same ≤ depth×width cell table
      val cms = graft.ops.Sketches.cmsBuild(ev, "user_id",
        depth = 4, width = 64).count()
      assert(cms <= 4 * 64, s"CMS cells $cms > depth×width 256")
      val cents = graft.ops.Similarity.seedCentroids(emb, "vec_id",
        "embedding", 16)
      val ivfCells = graft.ops.Similarity.ivfAssign(emb, cents, "vec_id",
          "embedding")
        .select(col("centroid_id")).distinct().count()
      assert(ivfCells <= 16, s"IVF cells $ivfCells > centroid budget 16")
      // KS shares MW's snapped-grid machinery (invariant 1); the document
      // VOCABULARY is the state that SHOULD grow — report it so the table
      // shows a genuinely growing universe next to the bounded cells
      val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
        .distinct().count()
      println(s"[inv] $label sketch/ANN: cms_cells=$cms (≤256) " +
        s"ivf_cells=$ivfCells (≤16 centroids) vocab_types=$vocab (grows)")
      Harness.clearState(spark)
    }
    println("[cmp] done")
    spark.stop()
  }
}
