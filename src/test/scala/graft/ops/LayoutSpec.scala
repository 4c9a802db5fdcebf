package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Plan-level proof of the layout helpers: bucketing removes the join
  * exchange; salting preserves join results exactly. */
class LayoutSpec extends SparkSuite {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  private lazy val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("bucketed tables equi-join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // plant a stale UNCATALOGED location (what a killed prior run leaves
    // behind): writeBucketed must clear it rather than fail
    // LOCATION_ALREADY_EXISTS — the regression that intermittently broke
    // b_layout_bucketed across bench JVMs
    val stale = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "li_b")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      stale.toPath.resolve("stale-part.parquet"), "not really parquet")
    Layout.writeBucketed(lineitem.select("l_orderkey", "l_quantity"), "li_b", 4,
      Seq("l_orderkey"))
    Layout.writeBucketed(orders.select("o_orderkey", "o_totalprice"), "ord_b", 4,
      Seq("o_orderkey"))
    val j = spark.table("li_b").join(spark.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
    // disable broadcast so the test exercises the bucketed sort-merge path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
      assert(j.count() == lineitem.count()) // every lineitem has an order
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("writeBucketed: small input aligns to `buckets` files") {
    def dataFiles(table: String): Int = {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      new java.io.File(new java.net.URI(loc)).listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    // well under 512 MB per bucket: exactly `buckets` files even from a
    // many-partition input
    val wide = lineitem.select("l_orderkey", "l_quantity").repartition(8)
    Layout.writeBucketed(wide, "li_align", 4, Seq("l_orderkey"))
    assert(dataFiles("li_align") == 4)
    assert(spark.table("li_align").count() == lineitem.count())
    spark.sql("DROP TABLE IF EXISTS li_align")
  }

  test("alignBuckets: unsorted writes align up to the per-bucket cap, sorted always") {
    val cap = BigInt(Layout.AlignMaxBucketBytes)
    assert(Layout.alignBuckets(cap * 4, 4, sorted = false))
    assert(!Layout.alignBuckets(cap * 4 + 1, 4, sorted = false))
    assert(Layout.alignBuckets(cap * 4, 4, sorted = true))
    assert(Layout.alignBuckets(cap * 4 + 1, 4, sorted = true))
    // an unknown estimate (Long.MaxValue) keeps the input's parallelism
    assert(!Layout.alignBuckets(BigInt(Long.MaxValue), 4, sorted = false))
  }

  test("writeRangeSorted: disjoint per-file ranges, sorted within, range exchange planned") {
    val dir = java.nio.file.Files.createTempDirectory("rangesorted").toString
    val df = lineitem.select(col("l_orderkey"), col("l_quantity"))
    // the write plan must carry a RANGE exchange (sampled boundaries →
    // ~equal files), not hash or coalesce
    val planned = df.repartitionByRange(4, col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(planned.contains("rangepartitioning"), planned.take(1500))
    Layout.writeRangeSorted(df, dir, numFiles = 4, Seq("l_orderkey"))
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(perFile.length == 4)
    // disjoint, ordered file ranges — the property that makes min/max
    // skipping prune at file granularity
    assert(perFile.sliding(2).forall(p => p(0)._2 <= p(1)._1))
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("verifyManifest: clean data verifies empty; each tamper class surfaces") {
    val base = lineitem.select(col("l_orderkey"), col("l_quantity"))
      .withColumn("shard", col("l_orderkey") % 5)
    val keys = Seq("l_orderkey", "l_quantity")
    val manifest = Layout.datasetManifest(base, "shard", keys)
    assert(Layout.verifyManifest(base, manifest, "shard", keys).count() == 0)
    val tampered = base.filter(col("shard") =!= 2)
      .withColumn("l_quantity",
        when(col("shard") === 1 && col("l_orderkey") === 1, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
    val bad = Layout.verifyManifest(tampered, manifest, "shard", keys)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bad(2L) == "missing")
    assert(bad(1L) == "checksum_mismatch")
    assert(bad.size == 2, bad.toString)
  }

  test("salted join returns exactly the plain join result") {
    val plain = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
    val salted = Layout.saltedJoin(
      lineitem, orders.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), factIdCol = "l_linenumber", saltBuckets = 4)
      .select("l_orderkey", "l_linenumber", "o_totalprice")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("deterministicSplit: disjoint, exhaustive, stable, ~right proportions") {
    val split = Layout.deterministicSplit(lineitem,
      "l_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("_split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = lineitem.count()
    assert(counts.values.sum == n, "split must be exhaustive")
    assert(math.abs(counts("train").toDouble / n - 0.8) < 0.05, counts.toString)
    // stable: same assignment on re-run
    val again = Layout.deterministicSplit(lineitem,
      "l_orderkey", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("l_orderkey", "l_linenumber", "_split")
      .exceptAll(again.select("l_orderkey", "l_linenumber", "_split")).isEmpty)
    // same key always lands in the same split (group-safe: no order leakage
    // between train and eval for multi-row keys)
    val perKey = split.groupBy("l_orderkey")
      .agg(countDistinct("_split").as("k")).agg(max("k")).first().getLong(0)
    assert(perKey == 1L)
  }

  test("zValue is the Morton interleave (known grid + random reference pin)") {
    import spark.implicits._
    // hand-computed Morton order of the 2×4 corner of the grid
    val known = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (2L, 0L, 4L), (3L, 0L, 5L), (2L, 1L, 6L), (3L, 1L, 7L), (0L, 2L, 8L))
    val got = known.map(t => (t._1, t._2)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).as[Long].collect().toSeq
    assert(got == known.map(_._3))
    // random 32-bit coordinates vs a bit-by-bit reference
    val rnd = new scala.util.Random(17)
    val pts = (0 until 500).map(_ => (rnd.nextInt(Int.MaxValue).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
    def ref(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    zs.foreach { case (x, y, z) => assert(z == ref(x, y), s"($x,$y)") }
  }

  test("zValue3 is the 3-way Morton interleave (bit-by-bit reference pin)") {
    import spark.implicits._
    def ref(a: Long, b: Long, c: Long): Long =
      (0 until 21).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (3 * i) | ((b >> i) & 1L) << (3 * i + 1) |
          ((c >> i) & 1L) << (3 * i + 2)
      }
    val rnd = new scala.util.Random(19)
    val pts = (0 until 300).map(_ => (rnd.nextInt(1 << 21).toLong,
      rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val zs = pts.toDF("x", "y", "w")
      .select(col("x"), col("y"), col("w"),
        Layout.zValue3(col("x"), col("y"), col("w")).as("z"))
      .as[(Long, Long, Long, Long)].collect()
    zs.foreach { case (x, y, w, z) => assert(z == ref(x, y, w), s"($x,$y,$w)") }
    // known corner: (1,1,1) → 0b111 = 7; (2,0,0) → bit1→bit3 = 8
    assert(ref(1, 1, 1) == 7 && ref(2, 0, 0) == 8)
  }

  test("z-clustering bounds BOTH dimensions per chunk where a 1-D sort bounds one") {
    import spark.implicits._
    // 32×32 grid → 16 chunks of 64 rows: bounding boxes of z-sorted chunks
    // stay ~8×8 (area 64-ish); x-sorted chunks span the full y range
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def maxBboxArea(ordered: Array[(Long, Long)]): Long =
      ordered.grouped(64).map { chunk =>
        val (xs, ys) = chunk.unzip
        (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
      }.max
    val zOrdered = grid.withColumn("_z", Layout.zValue(col("x"), col("y")))
      .orderBy("_z").select("x", "y").as[(Long, Long)].collect()
    val xOrdered = grid.orderBy("x", "y").select("x", "y").as[(Long, Long)].collect()
    val zArea = maxBboxArea(zOrdered)
    val xArea = maxBboxArea(xOrdered)
    assert(zArea == 64, s"z chunks should be exact 8×8 boxes, got area $zArea")
    assert(xArea >= 32 * 2, s"x-sorted chunks should span full y, got $xArea")
  }

  test("repartitionByKeys reuses the exchange for a following aggregation") {
    val rep = Layout.repartitionByKeys(lineitem, 4, "l_orderkey")
    val agg = rep.groupBy("l_orderkey").agg(sum("l_quantity"))
    val plan = agg.queryExecution.executedPlan.toString
    // only the explicit repartition exchange; no extra ENSURE_REQUIREMENTS hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  test("assignShards: in-range, deterministic, id-stable under growth, seed-sensitive") {
    val ids = spark.range(5000).toDF("id")
    val a = Layout.assignShards(ids, "id", 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(a.values.forall { case (s, _) => s >= 0 && s < 16 })
    // re-run identical
    val b = Layout.assignShards(ids.repartition(7), "id", 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(a == b)
    // adding documents later leaves every existing assignment untouched
    val grown = Layout.assignShards(spark.range(9000).toDF("id"), "id", 16)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(a.forall { case (id, v) => grown(id) == v })
    // a different seed is a genuinely different shuffle
    val reseeded = Layout.assignShards(ids, "id", 16, seed = "epoch2")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.count { case (id, (s, _)) => reseeded(id) == s } < 1000,
      "reseeding must move ~15/16 of documents")
  }

  test("assignShards: md5 spreads shards uniformly") {
    val counts = Layout.assignShards(spark.range(16000).toDF("id"), "id", 16)
      .groupBy("shard").count().collect().map(_.getLong(1))
    assert(counts.length == 16)
    // mean 1000/shard; md5 uniformity keeps every shard within ±15%
    assert(counts.forall(c => c > 850 && c < 1150), counts.mkString(","))
  }

  test("shuffleToShards: map-only assignment + ONE exchange, sorted within partitions") {
    val out = Layout.shuffleToShards(spark.range(2000).toDF("id"), "id", 8)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"one repartition exchange, no global sort exchange:\n${plan.take(2000)}")
    assert(!plan.contains("rangepartitioning"), "must not global-sort")
    // every partition is internally ordered by (shard, order key)
    val perPart = out.select("shard", "shard_order").rdd
      .mapPartitions(it => Iterator.single(it.map(r => (r.getInt(0), r.getString(1))).toSeq))
      .collect()
    perPart.foreach { p => assert(p == p.sorted, "partition not sorted") }
  }

  test("planCompaction: offset bins coalesce small files, oversize files span bins") {
    import spark.implicits._
    val files = Seq(
      // group a: 4×30 then 1×30 → bins at target 100: [0,100) holds 3
      // files (offsets 0,30,60), the 4th starts at 90 → bin 0 too, the
      // 5th starts at 120 → bin 1
      ("a", "f1", 30L), ("a", "f2", 30L), ("a", "f3", 30L),
      ("a", "f4", 30L), ("a", "f5", 30L),
      // group b: an oversize 250-byte file occupies bin 0 alone (its
      // start offset), the next file starts at 250 → bin 2
      ("b", "g1", 250L), ("b", "g2", 10L),
      // dropped rows
      ("c", "h1", 0L), ("c", null, 10L), (null, "h2", 10L)
    ).toDF("grp", "fname", "bytes")
    val out = Layout.planCompaction(files, "grp", "fname", "bytes", targetBytes = 100L)
      .orderBy("grp", "bin")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", 0L, 4L, 120L), ("a", 1L, 1L, 30L),
      ("b", 0L, 1L, 250L), ("b", 2L, 1L, 10L)))
  }

  test("planCompaction plan: one key exchange + partial-agg rollup, no global sort") {
    import spark.implicits._
    val files = (0 until 500).map(i => (s"p${i % 7}", f"f$i%04d", 1000L + i))
      .toDF("grp", "fname", "bytes")
    val plan = Layout.planCompaction(files, "grp", "fname", "bytes", 50000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), "must not global-sort")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"bin rollup must partial-aggregate:\n${plan.take(2000)}")
  }

  test("zoneMap: per-zone min/max/null stats match direct computation") {
    import spark.implicits._
    val d = Seq((0L, Some(5.0)), (0L, None), (0L, Some(-2.0)),
      (1L, Some(7.5)), (-1L, Some(1.0)))
      .toDF("zone", "v")
    val out = Layout.zoneMap(d, "zone", "v").orderBy("zone")
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(out == Seq(
      (-1L, 1L, 0L, Some(1.0), Some(1.0)),
      (0L, 3L, 1L, Some(-2.0), Some(5.0)),
      (1L, 1L, 0L, Some(7.5), Some(7.5))))
  }
}
