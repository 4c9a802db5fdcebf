package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming state soak — the unbounded-run evidence SCALE.md's contract
  * sections argue on paper: drive the two stateful shapes the harness
  * oracles only as bounded AvailableNow runs (`q_stream_join`,
  * `q_stream_rollup`) through MANY microbatches with event time (and so
  * the watermark) advancing, and record state size per batch. The claim
  * under test: state PLATEAUS (watermark eviction for the join's store;
  * one released-per-generation checkpoint pin for the rollup), rather
  * than growing with batch count.
  *
  * Run: sbt "Test/runMain graft.tools.StreamSoak" — prints one
  * `batch,stateRows,stateBytes` line per microbatch plus a PLATEAU/GROWS
  * verdict; paste the table into SCALE.md.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val nBatches = 30
    val perBatch = 200 // events per side per batch
    val stepMin = 20   // event-time advance per batch (minutes)

    // ---- soak 1: stream-stream join state (the q_stream_join shape) ----
    // both sides watermarked 1h, range condition 1h: rows older than
    // watermark − 1h are evictable, so live state ≈ 2h of events per
    // side regardless of how many batches have flowed.
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val v = views.toDF().toDF("view_id", "v_user", "v_ts")
      .withWatermark("v_ts", "1 hour")
    val p = purchases.toDF().toDF("purchase_id", "p_user", "p_ts")
      .withWatermark("p_ts", "1 hour")
    val joined = v.join(p, col("v_user") === col("p_user") &&
      col("p_ts") >= col("v_ts") &&
      col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"))
    val q1 = joined.writeStream.format("memory").queryName("soak_join")
      .outputMode("append").start()

    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(batch: Int, i: Int) =
      new java.sql.Timestamp(base + batch.toLong * stepMin * 60000L + i * 50L)
    println("join_soak: batch,stateRows,stateBytes")
    val joinRows = (1 to nBatches).map { b =>
      views.addData((1 to perBatch).map(i =>
        (b.toLong * 10000 + i, (i % 50).toLong, ts(b, i))))
      purchases.addData((1 to perBatch).map(i =>
        (b.toLong * 20000 + i, (i % 50).toLong, ts(b, i))))
      q1.processAllAvailable()
      val so = q1.lastProgress.stateOperators
      val rows = so.map(_.numRowsTotal).sum
      val bytes = so.map(_.memoryUsedBytes).sum
      println(s"join_soak: $b,$rows,$bytes")
      rows
    }
    q1.stop()
    val mid = joinRows(nBatches / 2 - 1)
    val fin = joinRows.last
    val ingested = 2L * nBatches * perBatch
    println(s"join_soak: ingested=$ingested finalStateRows=$fin midStateRows=$mid " +
      s"verdict=${if (fin <= mid * 3 / 2 && fin < ingested / 3) "PLATEAU" else "GROWS"}")
    require(fin <= mid * 3 / 2 && fin < ingested / 3,
      s"join state grows: mid=$mid final=$fin ingested=$ingested")

    // ---- soak 2: rollup maintenance pins (the q_stream_rollup shape) ----
    // maintainRollup keeps base+rollup as ONE generation of local-
    // checkpoint pins, releasing each superseded generation. Feed N
    // single-file batches through the REAL library path (file source +
    // maxFilesPerTrigger=1) and record pinned-RDD storage per progress
    // event via a listener: pins and bytes must hold at one generation
    // (fixed key space), not accumulate per batch.
    val dir = java.nio.file.Files.createTempDirectory("soak_changes").toString
    val keySpace = 100
    (1 to nBatches).foreach { b =>
      (1 to keySpace).map(k => (k.toLong, s"g${k % 5}", b * 1.0, b.toLong, "U"))
        .toDF("k", "dim", "x", "seq", "op")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val pinLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val infos = spark.sparkContext.getRDDStorageInfo
        pinLog.add((e.progress.batchId,
          infos.map(i => i.memSize + i.diskSize).sum, infos.length))
      }
    }
    spark.streams.addListener(listener)
    val changes = spark.readStream
      .schema("k LONG, dim STRING, x DOUBLE, seq LONG, op STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val base0 = (1 to keySpace).map(k => (k.toLong, s"g${k % 5}", 0.0))
      .toDF("k", "dim", "x")
    val rollup = graft.streaming.StreamingValidate.maintainRollup(
      changes, base0, Seq("k"), Seq("dim"), "x", "seq", "op")
    val nOut = rollup.count()
    spark.streams.removeListener(listener)
    println("rollup_soak: batch,pinnedBytes,pinnedRdds")
    import scala.jdk.CollectionConverters._
    val log = pinLog.asScala.toSeq.sortBy(_._1)
    log.foreach { case (b, bytes, n) => println(s"rollup_soak: $b,$bytes,$n") }
    val maxPins = log.map(_._3).max
    val firstBytes = log.take(5).map(_._2).max
    val lastBytes = log.takeRight(5).map(_._2).max
    println(s"rollup_soak: batches=${log.size} rollupRows=$nOut maxPinnedRdds=$maxPins " +
      s"earlyMaxBytes=$firstBytes lateMaxBytes=$lastBytes " +
      s"verdict=${if (maxPins <= 6 && lastBytes <= firstBytes * 2) "PLATEAU" else "GROWS"}")
    require(maxPins <= 6 && lastBytes <= math.max(firstBytes, 1L) * 2,
      s"rollup pins grow: maxPins=$maxPins early=$firstBytes late=$lastBytes")

    // ---- soak 3: streaming near-dup index maintenance (q_stream_neardup) ----
    // streamNearDups holds index + match accumulator as ONE pin
    // generation each, released per batch: pinned-RDD count must hold
    // near-constant over many batches while the INDEX grows only with
    // distinct signatures ingested (here: each batch re-sends half its
    // docs as exact dups, so the index grows by half a batch per batch —
    // linear in novelty, NOT in stream history, and matches accumulate).
    val ndDir = java.nio.file.Files.createTempDirectory("soak_neardup").toString
    val ndBatches = 20
    val docsPer = 50
    val vocab = Seq("river", "stone", "market", "signal", "harbor", "lantern",
      "meadow", "cipher", "timber", "anchor")
    def text(seed: Long): String =
      (0 until 30).map(j => vocab(((seed * 31 + j * 7) % 10).toInt)).mkString(" ") +
        s" marker$seed"
    (0 until ndBatches).foreach { b =>
      val rows = (0 until docsPer).map { i =>
        // half novel content, half exact dup of an earlier batch's doc
        val seed = if (i % 2 == 0) (b * docsPer + i).toLong
                   else (math.max(b - 1, 0) * docsPer + i).toLong
        ((b * docsPer + i).toLong, text(seed))
      }
      val f = new java.io.File(s"$ndDir/b$b")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(f.toString)
      f.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + b * 60000L))
    }
    val ndPinLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    val ndListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val infos = spark.sparkContext.getRDDStorageInfo
        ndPinLog.add((e.progress.batchId,
          infos.map(i => i.memSize + i.diskSize).sum, infos.length))
      }
    }
    spark.streams.addListener(ndListener)
    val ndStream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(ndDir)
    val ndSigs = ndStream.select(col("doc_id"),
      graft.ops.Dedup.minhashSignature(col("text"), 64).as("sig"))
    val emptyIdx = graft.ops.Dedup.buildSignatureIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.ops.Dedup.minhashSignature(col("text"), 64).as("sig")),
      "doc_id", "sig")
    val matches = graft.streaming.StreamingValidate.streamNearDups(
      ndSigs, emptyIdx, "doc_id", "sig", numHashes = 64, threshold = 0.9)
    val nMatches = matches.count()
    spark.streams.removeListener(ndListener)
    println("neardup_soak: batch,pinnedBytes,pinnedRdds")
    val ndLog = ndPinLog.asScala.toSeq.sortBy(_._1)
    ndLog.foreach { case (b, bytes, n) => println(s"neardup_soak: $b,$bytes,$n") }
    val ndMaxPins = ndLog.map(_._3).max
    println(s"neardup_soak: batches=${ndLog.size} matches=$nMatches " +
      s"ingested=${ndBatches * docsPer} maxPinnedRdds=$ndMaxPins " +
      s"verdict=${if (ndMaxPins <= 8) "PLATEAU" else "GROWS"}")
    require(ndMaxPins <= 8,
      s"near-dup pins grow with batch count: maxPinnedRdds=$ndMaxPins")
    require(nMatches > 0, "soak corpus must produce cross-batch matches")
    spark.stop()
  }
}
