package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.core.Validate
import graft.{filters => F}

/** Structured Streaming reuse of the batch validators (SURVEY.md §2.6):
  * the same Column-expression validators run unchanged on a stream;
  * windows + watermark aggregate it. Memory source/sink keeps it
  * synchronous for the test. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("validators run unchanged on a stream; invalid rows quarantine") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "v")
    val validated = Validate.column(stream, "v", F.Required() | F.MinLength(3))
      .withColumn("ok", size(col("_errors")) === 0)
    val q = validated.writeStream.format("memory").queryName("val_out")
      .outputMode("append").start()
    mem.addData((1L, "hello"), (2L, ""), (3L, "ab"), (4L, null))
    q.processAllAvailable()
    val rows = spark.table("val_out").collect()
      .map(r => (r.getLong(0), r.getBoolean(r.fieldIndex("ok")))).toMap
    q.stop()
    assert(rows == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("native kernel expressions (CaseFold, Uuid) run unchanged in a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "v")
    val res = StreamingValidate(stream, "v" -> (F.Required() | F.CaseFold()))
    val q = res.flagged("ok").writeStream.format("memory").queryName("kern_out")
      .outputMode("append").start()
    mem.addData((1L, "STRASSE"), (2L, "Straße"), (3L, ""))
    q.processAllAvailable()
    val byId = spark.table("kern_out").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("v"), r.getAs[Boolean]("ok"))).toMap
    q.stop()
    assert(byId(1L) == (("strasse", true)))
    assert(byId(2L) == (("strasse", true)), "ICU fold must run inside the stream")
    assert(byId(3L)._2 == false)
  }

  test("tumbling window counts with watermark over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "etype")
    val counts = StreamingValidate.windowedCounts(stream, "ts", "1 hour")
    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 00:10:00"), "a"), (t("2024-01-01 00:50:00"), "b"),
      (t("2024-01-01 01:10:00"), "c"))
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    q.stop()
    assert(rows == Map("2024-01-01 00:00:00.0" -> 2L, "2024-01-01 01:00:00.0" -> 1L))
  }

  test("dropDuplicatesWithinWatermark dedups stream keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val stream = mem.toDF().toDF("ts", "k")
    val deduped = StreamingValidate.dedupWithinWatermark(stream, Seq("k"), "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 00:00:01"), 7L), (t("2024-01-01 00:00:02"), 7L),
      (t("2024-01-01 00:00:03"), 8L))
    q.processAllAvailable()
    val n = spark.table("dd_out").count()
    q.stop()
    assert(n == 2)
  }

  test("foreachBatch quarantine routes valid/invalid splits to separate sinks") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "v")
    val good = scala.collection.mutable.ArrayBuffer[Long]()
    val bad = scala.collection.mutable.ArrayBuffer[Long]()
    val handler = StreamingValidate.quarantine("v" -> F.Required())(
      ok => good ++= ok.select("id").collect().map(_.getLong(0)),
      ko => bad ++= ko.select("id").collect().map(_.getLong(0)))
    val q = stream.writeStream.foreachBatch(handler).start()
    mem.addData((1L, "x"), (2L, ""), (3L, null))
    q.processAllAvailable()
    q.stop()
    assert(good.sorted == Seq(1L) && bad.sorted == Seq(2L, 3L))
  }

  test("foreachBatch quarantine splits read the persisted batch, not the source again") {
    val dir = java.nio.file.Files.createTempDirectory("quarantine_stream").toString
    try {
      Seq((1L, "5"), (2L, "99"), (3L, null), (4L, "25")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$dir/src")
      val stream = spark.readStream.schema("id BIGINT, v STRING").parquet(s"$dir/src")
      val plans = scala.collection.mutable.ArrayBuffer[String]()
      val ids = scala.collection.mutable.ArrayBuffer[(Boolean, Long)]()
      def sink(ok: Boolean)(d: org.apache.spark.sql.DataFrame): Unit = {
        // the plan above the cached relation: no scan of the source again
        plans += d.queryExecution.executedPlan.toString.linesIterator
          .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
        ids ++= d.select("id").collect().map(r => ok -> r.getLong(0))
      }
      val chain = F.Required(graft.filters.Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
      val q = stream.writeStream.foreachBatch(
          StreamingValidate.quarantine("v" -> chain)(sink(true), sink(false)))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(ids.sorted.toSeq == Seq(false -> 2L, false -> 3L, true -> 1L, true -> 4L))
      assert(plans.size == 2)
      plans.foreach(p => assert(p.contains("InMemoryTableScan") && !p.contains("FileScan"), p))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("runBounded leaves no sink table and no checkpoint directory behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs = tmp.list().filter(_.startsWith("graft_bounded_")).toSet
    def tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bounded_")).toSet
    val dirsBefore = dirs
    val dir = java.nio.file.Files.createTempDirectory("bounded_src").toString
    try {
      Seq(1L, 2L, 3L).toDF("k").coalesce(1).write.parquet(s"$dir/src")
      val stream = spark.readStream.schema("k BIGINT").parquet(s"$dir/src")
      val out = StreamingValidate.runBounded(stream)
      assert(tables.isEmpty, s"sink tables left: $tables")
      assert((dirs -- dirsBefore).isEmpty, s"checkpoint dirs left: ${dirs -- dirsBefore}")
      // the returned frame outlives its sink
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("stateful per-key error rates via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("user", "v")
    val validated = Validate.column(stream, "v", F.Required() | F.MinLength(3))
    val stats = StreamingValidate.keyErrorStats(validated, "user",
      alertRate = 0.5, minSeen = 2)
    val q = stats.toDF().writeStream.format("memory").queryName("stats_out")
      .outputMode("append").start()
    mem.addData(("u1", "hello"), ("u1", "x"), ("u1", ""), ("u2", "world"))
    q.processAllAvailable()
    val rows = spark.table("stats_out").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    q.stop()
    assert(rows("u1") == ((3L, 2L, true)))  // 2/3 invalid ≥ 50% with ≥2 seen → alert
    assert(rows("u2") == ((1L, 0L, false)))
  }

  test("session windows group by gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "user")
    val sessions = StreamingValidate.sessionCounts(stream, "ts", "user", "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 00:00:00"), "u1"), (t("2024-01-01 00:02:00"), "u1"),
      (t("2024-01-01 00:30:00"), "u1"))
    q.processAllAvailable()
    val n = spark.table("sess_out").count()
    q.stop()
    assert(n == 2) // two sessions for u1 separated by >5min gap
  }

  test("append-mode session windows emit only watermark-closed sessions and DROP the tail") {
    // The production shape at 100 TB: an unbounded deployment runs append
    // + watermark (complete mode re-emits every session each trigger —
    // unbounded state AND unbounded sink traffic). The contract asserted
    // here, documented on q_stream_session: a session is emitted exactly
    // once, after the watermark passes its close (last event + gap), and
    // any session still open when the stream ends is NEVER emitted — the
    // tail drop that makes the bounded harness query use complete mode.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "user")
    val sessions = StreamingValidate.sessionCounts(stream, "ts", "user",
      gap = "5 minutes", watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_append")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: two early sessions; watermark still at epoch → nothing emits
    mem.addData(
      (t("2024-01-01 00:00:00"), "u1"), (t("2024-01-01 00:02:00"), "u1"),
      (t("2024-01-01 00:01:00"), "u2"))
    q.processAllAvailable()
    assert(spark.table("sess_append").isEmpty,
      "append mode must not emit sessions the watermark has not closed")
    // batch 2: a far-future event advances the watermark to 00:50 —
    // PAST both early sessions' close (+gap), but NOT past its own
    mem.addData((t("2024-01-01 01:00:00"), "u1"))
    q.processAllAvailable()
    // one more event keeps the tail session open while forcing another
    // microbatch (watermark moves to 00:51 — still before the tail close)
    mem.addData((t("2024-01-01 01:01:00"), "u1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_append").collect()
      .map(r => (r.getString(1), r.getTimestamp(0).toString, r.getLong(2))).toSet
    assert(rows == Set(
      ("u1", "2024-01-01 00:00:00.0", 2L),
      ("u2", "2024-01-01 00:01:00.0", 1L)),
      s"expected exactly the two watermark-closed sessions, got $rows")
    // the 01:00 tail session was open at stream end → dropped, by design
    assert(!rows.exists(_._2.startsWith("2024-01-01 01:")),
      "the still-open tail session must be dropped in append mode")
  }

  test("session windows run the SAME code path on a batch frame (no watermark)") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      (t("2024-01-01 00:00:00"), "u1"), (t("2024-01-01 00:02:00"), "u1"),
      (t("2024-01-01 00:30:00"), "u1"), (t("2024-01-01 00:01:00"), "u2"))
      .toDF("ts", "user")
    val out = StreamingValidate.sessionCounts(batch, "ts", "user", "5 minutes")
      .orderBy("user", "session_start")
      .collect().map(r => (r.getString(1), r.getTimestamp(0).toString, r.getLong(2)))
    assert(out.toSeq == Seq(
      ("u1", "2024-01-01 00:00:00.0", 2L),
      ("u1", "2024-01-01 00:30:00.0", 1L),
      ("u2", "2024-01-01 00:01:00.0", 1L)))
  }

  test("incremental near-dup runs stream-static: new docs match the persisted index") {
    // the daily-ingest operator reused unchanged on a stream: each
    // microbatch of new docs joins the STATIC signature index (re-planned
    // and broadcast by the stream-static planner); the index-side
    // identical-sig collapse still answers one pair per clique
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val sigOf = (c: org.apache.spark.sql.Column) => Dedup.minhashSignature(c, 32)
    val idx = Dedup.buildSignatureIndex(
      Seq((10L, "aaa bbb ccc ddd"), (11L, "aaa bbb ccc ddd"),
        (20L, "totally different words here"))
        .toDF("doc_id", "text").select(col("doc_id"), sigOf(col("text")).as("sig")),
      "doc_id", "sig")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), sigOf(col("text")).as("sig"))
    val out = Dedup.nearDupsAgainstIndex(idx, stream, "doc_id", "sig",
      numHashes = 32, threshold = 0.9)
    val q = out.writeStream.format("memory").queryName("incr_out")
      .outputMode("append").start()
    mem.addData((100L, "aaa bbb ccc ddd"), (101L, "unrelated brand new content"))
    q.processAllAvailable()
    mem.addData((102L, "aaa bbb ccc ddd")) // second microbatch re-hits the index
    q.processAllAvailable()
    val rows = spark.table("incr_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(rows == Set((100L, 10L), (102L, 10L)), s"got $rows")
  }

  test("bloom seen-keys probe runs map-only per microbatch (stream vs static corpus sketch)") {
    // the OTHER incremental-dedup shape on a stream: the corpus sketch is
    // driver-built once and rides into each microbatch as a literal — no
    // stream-static join at all, the probe is a pure codegen'd predicate
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = Seq((1L, "seen text alpha"), (2L, "seen text beta"))
      .toDF("doc_id", "text")
    val fp = md5(col("text").cast("binary"))
    val bytes = Dedup.seenFilter(corpus, fp, expectedItems = 1000)
    val mem = MemoryStream[(Long, String)]
    val fresh = mem.toDF().toDF("doc_id", "text")
      .filter(!Dedup.mightBeSeen(bytes, fp))
    val q = fresh.writeStream.format("memory").queryName("bloom_fresh")
      .outputMode("append").start()
    mem.addData((100L, "seen text alpha"), (101L, "genuinely new content"))
    q.processAllAvailable()
    mem.addData((102L, "seen text beta"), (103L, "another new one"))
    q.processAllAvailable()
    val got = spark.table("bloom_fresh").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(101L, 103L), s"got $got")
  }

  test("runBounded drives a true file-source pipeline to completion (validate → dedup → sink)") {
    // the q_stream_dedup harness shape end-to-end at sf0.001: a REAL
    // streaming query (file source, state store, watermark) whose result
    // must equal the batch DISTINCT over the same valid split
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry("q_stream_dedup").build(spark, dir)
      .as[Option[Long]].collect().toSeq
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id").isNotNull &&
        (col("event_type").isNull ||
          col("event_type").isin("signup", "purchase", "error")))
      .select("user_id").distinct()
      .orderBy(col("user_id").asc_nulls_first)
      .as[Option[Long]].collect().toSeq
    assert(out == batch, "streaming watermark-dedup must equal batch DISTINCT on the key")
    assert(out.nonEmpty)
    // a second invocation works (fresh sink table per run)
    val again = graft.SparkEntry("q_stream_dedup").build(spark, dir).count()
    assert(again == out.size)
  }

  test("ensureEventTime normalizes all three event-time shapes value-preservingly") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    // TIMESTAMP passes through untouched
    val tsDf = Seq(Tuple1(micros)).toDF("raw")
      .select(timestamp_micros(col("raw")).as("ts"))
    assert(StreamingValidate.ensureEventTime(tsDf, "ts").schema("ts").dataType == TimestampType)
    // TIMESTAMP_NTZ (current testdata / pandas default) casts; under the
    // pinned-UTC session the µs value is identical
    val ntzDf = tsDf.select(col("ts").cast(TimestampNTZType).as("ts"))
    assert(ntzDf.schema("ts").dataType == TimestampNTZType)
    val ntzOut = StreamingValidate.ensureEventTime(ntzDf, "ts")
    assert(ntzOut.schema("ts").dataType == TimestampType)
    assert(ntzOut.select(unix_micros(col("ts"))).head.getLong(0) == micros)
    // legacy nanosecond-as-long converts with exact integer math
    val nsDf = Seq(Tuple1(micros * 1000L + 789L)).toDF("ts")
    val nsOut = StreamingValidate.ensureEventTime(nsDf, "ts")
    assert(nsOut.schema("ts").dataType == TimestampType)
    assert(nsOut.select(unix_micros(col("ts"))).head.getLong(0) == micros)
    // anything else is a clear caller error, not an engine analysis failure
    val err = intercept[IllegalArgumentException] {
      StreamingValidate.ensureEventTime(Seq(Tuple1("x")).toDF("ts"), "ts")
    }
    assert(err.getMessage.contains("event-time column"))
  }

  test("ensureEventTime: explicit long units convert exactly; unit mismatch fails LOUDLY") {
    val micros = 1704067200123456L
    def us(df: org.apache.spark.sql.DataFrame) =
      df.select(unix_micros(col("ts"))).head.getLong(0)
    assert(us(StreamingValidate.ensureEventTime(
      Seq(Tuple1(micros)).toDF("ts"), "ts", longUnit = "us")) == micros)
    assert(us(StreamingValidate.ensureEventTime(
      Seq(Tuple1(micros / 1000L)).toDF("ts"), "ts", longUnit = "ms")) == micros / 1000L * 1000L)
    assert(us(StreamingValidate.ensureEventTime(
      Seq(Tuple1(micros / 1000000L)).toDF("ts"), "ts", longUnit = "s")) == micros / 1000000L * 1000000L)
    // a µs epoch fed through the ns default decodes to 1970+ε — outside
    // the plausibility bound, so the job FAILS with the unit named
    // instead of silently producing watermarks wrong by 10^3 (r10 ADVICE)
    val boom = intercept[Exception] {
      StreamingValidate.ensureEventTime(Seq(Tuple1(micros)).toDF("ts"), "ts").collect()
    }
    assert(boom.getMessage != null && boom.getMessage.contains("implausible"),
      s"expected the implausible-instant error, got: ${boom.getMessage}")
    // null event times stay null, not errors
    val nulls = StreamingValidate.ensureEventTime(
      Seq(Tuple1(null.asInstanceOf[java.lang.Long])).toDF("ts"), "ts")
    assert(nulls.select(col("ts")).head.isNullAt(0))
    val bad = intercept[IllegalArgumentException] {
      StreamingValidate.ensureEventTime(Seq(Tuple1(1L)).toDF("ts"), "ts", longUnit = "days")
    }
    assert(bad.getMessage.contains("longUnit"))
  }

  test("watermark dedup accepts an NTZ file source (the regenerated-testdata shape)") {
    // end-to-end guard for the r9 break: write a parquet whose ts is
    // TIMESTAMP_NTZ, stream it, watermark-dedup it — must not throw
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE and must dedup the key
    val dir = java.nio.file.Files.createTempDirectory("ntz_stream").toString
    try {
      import org.apache.spark.sql.types.TimestampNTZType
      Seq((1704067200000000L, 7L), (1704067201000000L, 7L), (1704067202000000L, 8L))
        .toDF("raw", "k")
        .select(timestamp_micros(col("raw")).cast(TimestampNTZType).as("ts"), col("k"))
        .coalesce(1).write.parquet(s"$dir/src")
      val schema = spark.read.parquet(s"$dir/src").schema
      assert(schema("ts").dataType == TimestampNTZType, "fixture must be NTZ on disk")
      val stream = spark.readStream.schema(schema).parquet(s"$dir/src")
      val deduped = StreamingValidate.dedupWithinWatermark(stream, Seq("k"), "ts", "1 hour")
      val out = StreamingValidate.runBounded(deduped.select("k"))
        .collect().map(_.getLong(0)).toSet
      assert(out == Set(7L, 8L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q_stream_session: true-streaming session windows equal the batch session assembly") {
    // the complete-mode bounded run must reproduce q_session_window's
    // batch result row for row — watermark + session state store through
    // the real engine, not batch parity
    val dir = "/root/testdata/sf0.001"
    // normalize session_start to epoch-µs: the streaming path carries
    // TIMESTAMP (ensureEventTime), the batch path keeps the source's NTZ —
    // same instants under the pinned-UTC session, different JVM classes
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(unix_micros(col("session_start").cast("timestamp")).as("us"),
        col("user_id"), col("n"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSeq
    val streamed = rows(graft.SparkEntry("q_stream_session").build(spark, dir))
    val batch = rows(graft.SparkEntry("q_session_window").build(spark, dir)
      .orderBy(col("user_id").asc_nulls_first, col("session_start")))
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming session windows must equal the batch gaps-and-islands result")
  }

  test("session window boundary: event at exactly prev+gap MERGES (gap is inclusive)") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq((t("2024-01-01 00:00:00"), "u1"), (t("2024-01-01 00:05:00"), "u1"))
      .toDF("ts", "user")
    val n = StreamingValidate.sessionCounts(batch, "ts", "user", "5 minutes").count()
    assert(n == 1, "Spark merges an event landing exactly on prev+gap into the session")
    // one tick past the gap -> two sessions
    val batch2 = Seq((t("2024-01-01 00:00:00"), "u1"), (t("2024-01-01 00:05:00.001"), "u1"))
      .toDF("ts", "user")
    assert(StreamingValidate.sessionCounts(batch2, "ts", "user", "5 minutes").count() == 2)
  }

  test("maintainRollup over a multi-batch changelog equals the recompute, no pin leak") {
    import graft.ops.{Cdc, Checkpoints}
    val base = Seq((1L, "x", 10.0), (2L, "x", 20.0), (3L, "y", 30.0),
      (4L, "y", 40.0)).toDF("k", "g", "v")
    // two change files with DISJOINT keys, so the two micro-batches
    // commute (the batch-split contract needs per-key seq order only)
    val chA = Seq((2L, "x", 25.0, "U", 1L), (4L, "y", 40.0, "D", 1L))
      .toDF("k", "g", "v", "__op", "__seq")
    val chB = Seq((5L, "z", 50.0, "I", 1L), (3L, "y", 33.0, "U", 1L))
      .toDF("k", "g", "v", "__op", "__seq")
    val dir = java.nio.file.Files.createTempDirectory("graft_chg").toString
    chA.coalesce(1).write.parquet(s"$dir/f1")
    chB.coalesce(1).write.parquet(s"$dir/f2")
    val schema = chA.schema
    val pinsBefore = spark.sparkContext.getPersistentRDDs.size
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    val got = StreamingValidate.maintainRollup(stream, base, Seq("k"),
      Seq("g"), "v", "__seq", "__op")
    val want = Cdc.rollupOf(
      Cdc.applyChangelog(base, chA.unionByName(chB), Seq("k"), "__seq", "__op"),
      Seq("g"), "v")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).stripTrailingZeros)).toSet
    assert(key(got) == key(want))
    // exactly one generation of state survives (the returned rollup pin)
    Checkpoints.release(got)
    assert(spark.sparkContext.getPersistentRDDs.size <= pinsBefore,
      "maintainRollup must release every superseded pin")
  }

  test("monitorDrift over multi-batch stream equals the batch PSI, no pin leak") {
    import graft.ops.{Checkpoints, Sketches}
    val rnd = new scala.util.Random(17)
    val baseline = (0 until 400).map(_ => rnd.nextDouble() * 100).toDF("v")
    // two stream files with different distributions (the second shifted)
    val sA = (0 until 150).map(_ => rnd.nextDouble() * 100).toDF("v")
    val sB = (0 until 150).map(_ => rnd.nextDouble() * 100 + 50).toDF("v")
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    sA.coalesce(1).write.parquet(s"$dir/f1")
    sB.coalesce(1).write.parquet(s"$dir/f2")
    val pinsBefore = spark.sparkContext.getPersistentRDDs.size
    val stream = spark.readStream.schema(sA.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    val got = StreamingValidate.monitorDrift(stream, baseline, "v", nBins = 10)
    val want = Sketches.scorePsi(baseline, sA.unionByName(sB), "v", nBins = 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(key(got) == key(want))
    // the shifted second batch must register as drift
    val psi = got.agg(org.apache.spark.sql.functions.sum("psi_term"))
      .head().getDouble(0)
    assert(psi > 0.1, s"expected visible drift, got $psi")
    Checkpoints.release(got)
    assert(spark.sparkContext.getPersistentRDDs.size <= pinsBefore,
      "monitorDrift must release every superseded pin")
  }
}
