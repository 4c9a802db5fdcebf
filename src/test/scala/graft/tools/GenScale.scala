package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** NATURAL-cardinality scale-factor generator (r14 verdict ask #1): the
  * committed 10× smokes all REPLICATE sf0.1, which grows volume but
  * freezes the key/vocab universe — every bounded-state claim ("grid =
  * 4,991 cells at both scales") was only ever tested against replication.
  * A real 100 TB corpus grows the OTHER way: new users, new customers,
  * new documents, new vocabulary, more dup groups (not wider ones). This
  * generator produces schema-compatible twins of the driver's tables
  * where every key universe scales with sf:
  *
  *  - customers 150k·sf, suppliers 10k·sf, parts 200k·sf, orders 1.5M·sf,
  *    lineitem 6M·sf, events 1M·sf over 15k·sf users (Zipf-skewed),
  *    documents 50k·sf, embeddings 20k·sf — all NEW ids at larger sf;
  *  - document vocabulary = 31 core + 1000·sf synthetic words, drawn
  *    Zipf-like (log-uniform index ⇒ p(rank) ∝ 1/rank), so g1 has ~8×
  *    the type inventory of g0.1 — the growth direction that stresses
  *    vocab-sized state tables;
  *  - sources 200·sf (domain growth), 5 langs fixed (language inventories
  *    don't scale with corpus size);
  *  - duplicate structure: each 500-doc block shares one base text among
  *    its doc_id%50<5 members — clique size FIXED (~50), clique COUNT
  *    ∝ sf (more dup groups, not wider ones — the opposite adversary of
  *    the replication smokes);
  *  - time spans FIXED (events 30 days, orders ~80 months): densities
  *    grow, spans don't — so keys×span state grows with keys only.
  *
  * Fully deterministic (xxhash64-derived uniforms, no rand()), generated
  * BY Spark (spark.range → column exprs → parquet), so a g1 build is a
  * ~30 s parallel write, not a driver loop. This data feeds the
  * Spark-vs-Spark scaling comparison ([[ScaleCompare]]) ONLY — the
  * DuckDB oracles keep running against the driver's testdata.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.GenScale /tmp/gensf/g0.1 0.1"
  *      SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.GenScale /tmp/gensf/g1 1.0"
  */
object GenScale {

  /** uniform [0,1) from a hash of `cols` and a stream id */
  private def u01(seed: Int, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(seed)): _*), lit(1073741824L)).cast("double") / 1073741824.0

  private def hmod(seed: Int, m: Long, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(seed)): _*), lit(m))

  private def pick(seed: Int, choices: Seq[String], cols: Column*): Column =
    element_at(array(choices.map(lit): _*),
      (hmod(seed, choices.size.toLong, cols: _*) + 1L).cast("int"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <outDir> <sf>")
    val out = args(0)
    val sf = args(1).toDouble
    val spark = graft.Harness.session()

    val nCustomer = (150000 * sf).toLong max 100
    val nSupplier = (10000 * sf).toLong max 20
    val nPart = (200000 * sf).toLong max 200
    val nOrders = (1500000 * sf).toLong max 1000
    val nLineitem = (6000000 * sf).toLong max 4000
    val nEvents = (1000000 * sf).toLong max 1000
    val nUsers = (15000 * sf).toLong max 50
    val nDocs = (50000 * sf).toLong max 500
    val nVecs = (20000 * sf).toLong max 200
    val nSources = (200 * sf).toInt max 10

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      // the driver's tables are single parquet FILES (not directories) —
      // the streaming queries glob on exactly that
      // (`pathGlobFilter=events.parquet`), so match the layout: generate
      // in parallel, shuffle to one writer, move the part file into place
      val tmp = s"$out/.tmp_$name"
      // repartition(1): generation exprs run parallel on the MAP side of
      // the round-robin exchange; only the parquet encode is one task.
      // Small row groups keep the single FILE splittable — a one-task
      // write would otherwise produce one giant row group, and no
      // maxPartitionBytes setting can parallelize a one-row-group scan
      df.repartition(1).write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(tmp)
      val dir = java.nio.file.Paths.get(tmp)
      val part = java.nio.file.Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      val target = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      println(s"[gen] $name done")
    }

    // region / nation: fixed reference universes (they are fixed in TPC-H
    // too — regions of the world do not scale with data volume)
    import spark.implicits._
    write(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region", 1)
    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation", 1)

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      hmod(1, 25, col("id")).cast("int").as("c_nationkey"),
      round(u01(2, col("id")) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick(3, segments, col("id")).as("c_mktsegment")), "customer", 8)

    write(spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      hmod(4, 25, col("id")).cast("int").as("s_nationkey"),
      round(u01(5, col("id")) * 11000.0 - 1000.0, 2).as("s_acctbal")), "supplier", 4)

    val adjs = Seq("small", "red", "blue", "green", "large", "tiny", "steel", "brass")
    val nouns = Seq("ring", "widget", "bolt", "gear", "plate", "valve", "lens", "coil")
    val types1 = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    val types2 = Seq("PLATED", "BURNISHED", "ANODIZED", "POLISHED", "BRUSHED")
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(6, adjs, col("id")), lit(" "), pick(7, nouns, col("id"))).as("p_name"),
      concat(lit("Brand#"), (hmod(8, 25, col("id")) + 1L).cast("string")).as("p_brand"),
      concat(pick(9, types1, col("id")), lit(" "), pick(10, types2, col("id"))).as("p_type"),
      (hmod(11, 50, col("id")) + 1L).cast("int").as("p_size"),
      round(lit(900.0) + u01(12, col("id")) * 100.0, 2).as("p_retailprice")), "part", 4)

    val baseDate = to_date(lit("1995-01-01"))
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      hmod(13, nCustomer, col("id")).as("o_custkey"),
      pick(14, Seq("F", "F", "O", "O", "P"), col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u01(15, col("id")) * 499000.0, 2).as("o_totalprice"),
      date_add(baseDate, hmod(16, 2404, col("id")).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(17, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        col("id")).as("o_orderpriority"))
    write(orders, "orders", 8)

    // ~4 lines per order (id strides the order space), qty-correlated price
    val qty = (hmod(18, 50, col("id")) + 1L).cast("double")
    write(spark.range(nLineitem).select(
      (col("id") % nOrders).as("l_orderkey"),
      hmod(19, nPart, col("id")).as("l_partkey"),
      hmod(20, nSupplier, col("id")).as("l_suppkey"),
      (col("id") / nOrders + 1L).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u01(21, col("id")) * 1200.0), 2).as("l_extendedprice"),
      (hmod(22, 9, col("id")).cast("double") / 100.0).as("l_discount"),
      (hmod(23, 9, col("id")).cast("double") / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "N", "R"), col("id")).as("l_returnflag"),
      pick(25, Seq("F", "O"), col("id")).as("l_linestatus"),
      date_add(baseDate, (hmod(26, 2404, col("id")) + 1L).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")), "lineitem", 16)

    // events: 30-day span FIXED; Zipf-skewed user draw (u² concentrates
    // mass on low ids — hot users exist at every sf, and the user
    // UNIVERSE grows with sf)
    val eu = u01(27, col("id"))
    val evBase = lit(java.time.LocalDateTime.parse("2024-01-01T00:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(evBase +
        (u01(28, col("id")) * 30.0 * 86400.0 * 1e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(eu * eu * nUsers.toDouble).cast("long").as("user_id"),
      pick(29, Seq("signup", "error", "click", "view", "purchase"), col("id"))
        .as("event_type"),
      round(u01(30, col("id")) * 490.0 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), hmod(31, 100, col("id")).cast("string"), lit("}"))
        .as("props")), "events", 8)

    // documents: Zipf-like draw over a GROWING vocabulary; fixed-size dup
    // cliques whose COUNT grows with sf
    val coreVocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "the", "line",
      "sort", "window", "join", "small", "customer", "query", "big",
      "stream", "order", "group", "column", "data", "filter", "vector",
      "a", "an")
    val vocab = coreVocab ++
      (0 until ((1000 * sf).toInt max 100)).map(i => f"w$i%04d")
    val vSize = vocab.size
    val vocabArr = array(vocab.map(lit): _*)
    def wordAt(seedCol: Column, j: Column): Column = {
      // log-uniform rank: p(rank) ∝ 1/rank — Zipf slope ≈ −1 over the
      // whole (growing) vocabulary
      val u = pmod(xxhash64(seedCol, j, lit(32)), lit(1073741824L))
        .cast("double") / 1073741824.0
      val idx = least(lit(vSize - 1),
        floor(exp(u * math.log(vSize.toDouble)))).cast("int")
      element_at(vocabArr, idx + 1)
    }
    val seedId = when(col("id") % 50 < 5, col("id") - pmod(col("id"), lit(500L)))
      .otherwise(col("id"))
    val nWords = hmod(33, 76, seedId) + 25L // 25..100 words
    val text = concat_ws(" ",
      transform(sequence(lit(1L), nWords), j => wordAt(seedId, j)))
    write(spark.range(nDocs)
      .withColumn("text", text)
      .select(
        col("id").as("doc_id"),
        col("text"),
        pick(34, Seq("en", "en", "zh", "es", "de", "fr"), col("id")).as("lang"),
        concat(lit("src"), hmod(35, nSources.toLong, col("id")).cast("string"))
          .as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents", 8)

    // embeddings: 10 label clusters (centroid + noise, L2-normalized)
    val dims = sequence(lit(0), lit(63))
    val lbl = hmod(36, 10, col("id"))
    val cent = transform(dims, d =>
      pmod(xxhash64(lbl, d, lit(37)), lit(2000L)).cast("double") / 1000.0 - 1.0)
    val noise = transform(dims, d =>
      pmod(xxhash64(col("id"), d, lit(38)), lit(2000L)).cast("double") / 1000.0 - 1.0)
    val raw = zip_with(cent, noise, (c, n) => c + n * lit(0.7))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    write(spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      lbl.cast("int").as("label")), "embeddings", 4)

    println(s"[gen] sf=$sf at $out: customer=$nCustomer orders=$nOrders " +
      s"lineitem=$nLineitem events=$nEvents users=$nUsers docs=$nDocs " +
      s"vecs=$nVecs vocab=$vSize sources=$nSources")
    spark.stop()
  }
}
