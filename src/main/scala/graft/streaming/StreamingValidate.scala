package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.{Validate, ValidationResult, Validator}

/** Streaming validation (SURVEY.md §2.6): because every validator is a pure
  * Column expression tree, the SAME validators run unchanged under
  * Structured Streaming — this module only adds the streaming-specific
  * wiring (watermarks, windows, within-watermark dedup, quarantine).
  *
  * Scale posture: validation stays map-only (no state); only windows/dedup
  * introduce state, bounded by the watermark.
  */
object StreamingValidate {

  /** Validate streaming rows — identical code path to batch. */
  def apply(stream: DataFrame, specs: (String, Validator)*): ValidationResult =
    Validate.columns(stream, specs: _*)

  /** Normalize an event-time column to TIMESTAMP, the only type
    * `withWatermark` accepts. Input shapes, in order of how a user hits
    * them:
    *  - TIMESTAMP — already fine, pass through;
    *  - TIMESTAMP_NTZ — what pandas/pyarrow write by default
    *    (`Timestamp(isAdjustedToUTC=false, µs)`); under this library's
    *    pinned-UTC sessions the cast is value-preserving (the naive local
    *    datetime is re-labelled as the same UTC instant);
    *  - epoch LONG in `longUnit` ∈ ns | us | ms | s (default `ns`, the
    *    legacy `spark.sql.legacy.parquet.nanosAsLong=true` shape) —
    *    exact integer arithmetic to µs, not double division (ns epochs
    *    overflow a double mantissa).
    * A long that decodes OUTSIDE [1990-01-01, 2200-01-01) fails the job
    * with a message naming the assumed unit (r10 ADVICE): every
    * wrong-unit misread lands outside that window (a µs/ms/s epoch fed
    * through the ns default decodes to early 1970; a ns epoch fed
    * through `s` to the year 56k) — silently-wrong watermarks are
    * strictly worse than a loud per-row error, and EVENT streams carry
    * no genuine pre-1990 instants (an epoch-0 placeholder fails too:
    * null is the missing-time marker, not zero). Anything else is a
    * caller error worth a
    * clear message rather than an `EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`
    * analysis failure deep in the engine. */
  def ensureEventTime(df: DataFrame, tsCol: String, longUnit: String = "ns"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(tsCol).dataType match {
      case TimestampType    => df
      case TimestampNTZType => df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case LongType =>
        val us = longUnit match {
          case "ns" => expr(s"`$tsCol` div 1000")
          case "us" => col(tsCol)
          case "ms" => col(tsCol) * lit(1000L)
          case "s"  => col(tsCol) * lit(1000000L)
          case other => throw new IllegalArgumentException(
            s"longUnit must be one of ns|us|ms|s, got `$other`")
        }
        // plausibility bound in µs: 1990-01-01 .. 2200-01-01 (tight enough
        // that every unit misread falls outside — see scaladoc)
        val (lo, hi) = (631152000000000L, 7258118400000000L)
        df.withColumn(tsCol,
          when(col(tsCol).isNull, lit(null).cast(TimestampType))
            .when(us >= lo && us < hi, timestamp_micros(us))
            .otherwise(raise_error(concat(
              lit(s"event-time long in `$tsCol` decoded (unit=$longUnit) to an " +
                "implausible instant from value "), col(tsCol).cast("string"),
              lit(s"; if the column is not a $longUnit epoch, pass the actual " +
                "unit via ensureEventTime(df, tsCol, longUnit)")))))
      case other => throw new IllegalArgumentException(
        s"event-time column `$tsCol` must be TIMESTAMP, TIMESTAMP_NTZ, or " +
          s"epoch LONG (see longUnit); got $other")
    }
  }

  /** Watermark only applies to streams; on a batch frame the same query
    * runs watermark-free — one code path for both (batch parity is how the
    * window oracles are checked). Streaming frames get their event-time
    * column normalized first (see [[ensureEventTime]]); batch frames are
    * left untouched so batch-parity results keep their input's exact type. */
  private def watermarked(df: DataFrame, tsCol: String, delay: String): DataFrame =
    if (df.isStreaming) ensureEventTime(df, tsCol).withWatermark(tsCol, delay) else df

  /** Tumbling (or sliding, if `slide` differs) window counts with a
    * watermark for state cleanup + late-data drop. */
  def windowedCounts(df: DataFrame, tsCol: String, windowDur: String,
                     slide: String = null, watermarkDelay: String = "10 minutes"): DataFrame = {
    val win =
      if (slide == null || slide == windowDur) window(col(tsCol), windowDur)
      else window(col(tsCol), windowDur, slide)
    watermarked(df, tsCol, watermarkDelay)
      .groupBy(win)
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
  }

  /** Session windows (gap-based) per key. A new session starts when an
    * event arrives STRICTLY more than `gap` after the previous one (an
    * event at exactly prev+gap merges); the window extends to last-event +
    * gap. Works on streams (watermark-bounded state) and batch frames
    * (plain aggregation) identically. */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String, gap: String,
                    watermarkDelay: String = "10 minutes"): DataFrame =
    watermarked(df, tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"), col(keyCol), col("n"))

  /** Exactly-once-ish dedup bounded by the watermark. The event-time
    * column is normalized first ([[ensureEventTime]]) so NTZ/legacy-long
    * sources get a defined contract instead of an analysis error. */
  def dedupWithinWatermark(df: DataFrame, keyCols: Seq[String], tsCol: String,
                           delay: String): DataFrame =
    ensureEventTime(df, tsCol)
      .withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Run a BOUNDED streaming query to completion and return its result:
    * `Trigger.AvailableNow` processes everything the source currently has
    * (respecting per-batch limits), then stops; rows land in an in-memory
    * sink. This is the harness/test entry point for TRUE streaming
    * pipelines — the query goes through the streaming engine (microbatches,
    * state stores, watermarks), not the batch-parity path. The sink is
    * driver-memory: bound the stream (validate → dedup → keys/aggregates)
    * before sinking, exactly as a production job would bound what it
    * collects. The rows are returned as a local frame; the sink's table and
    * the query's checkpoint directory are removed before returning, so
    * repeated runs leave nothing behind. */
  def runBounded(stream: DataFrame, outputMode: String = "append",
                 statePartitions: Option[Int] = None): DataFrame = {
    require(stream.isStreaming, "runBounded needs a streaming frame")
    val name = "graft_bounded_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val checkpoint = java.nio.file.Files.createTempDirectory(name).toFile
    // A stateful query PINS its state-store partition count to
    // spark.sql.shuffle.partitions at first start — and every microbatch
    // then pays one store commit PER partition PER stateful operator
    // (a stream-stream join keeps four stores per partition). Size it to
    // key cardinality/throughput, not to the batch shuffle default: a
    // bounded replay over a modest key space runs ~3× faster at 8 than at
    // 32 here, while an unbounded high-cardinality deploy sizes UP. The
    // session conf is restored after start (the running query keeps the
    // pinned value).
    val spark = stream.sparkSession
    val prev = statePartitions.map { n =>
      val p = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      p
    }
    try {
      val q =
        try stream.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", checkpoint.toString)
          .outputMode(outputMode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        finally prev.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
      q.awaitTermination()
      val sink = spark.table(name)
      spark.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteQuietly(checkpoint)
    }
  }

  /** Maintain a [[graft.ops.Cdc.rollupOf]] aggregate from a STREAMING
    * changelog: each micro-batch incrementally refreshes the rollup
    * ([[graft.ops.Cdc.incrementalRollup]] — changed-key-sized work) and
    * rolls the base snapshot forward ([[graft.ops.Cdc.applyChangelog]]),
    * via `foreachBatch` under `Trigger.AvailableNow`; returns the final
    * rollup once the bounded stream drains.
    *
    * Batch-split contract: per-key changes must arrive in sequence order
    * ACROSS batches (the standard CDC delivery guarantee — within a
    * batch any order is fine, the winner aggregate handles it); a
    * later-delivered lower-seq change would re-win against an
    * already-applied higher-seq one, because the applied base no longer
    * carries sequence numbers.
    *
    * Scale honesty: this helper keeps base and rollup as LOCAL-
    * checkpoint pins, releasing each superseded generation after its
    * successor materializes ([[graft.ops.Checkpoints.release]]) — lineage
    * stays truncated over any number of batches, storage holds exactly
    * one generation. That is the in-memory demo/test form; a production
    * deployment externalizes both as storage tables (the foreachBatch
    * body then MERGEs the same two delta-sized computations) so state
    * survives restarts. The semantics — what `q_stream_rollup` oracles —
    * are identical. */
  def maintainRollup(changes: DataFrame, base0: DataFrame,
      keyCols: Seq[String], dims: Seq[String], sumCol: String,
      seqCol: String, opCol: String): DataFrame = {
    require(changes.isStreaming, "maintainRollup needs a streaming changelog")
    import graft.ops.{Cdc, Checkpoints}
    var base = base0.localCheckpoint()
    var rollup = Cdc.rollupOf(base, dims, sumCol).localCheckpoint()
    val q = changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch frame is only valid inside this call — pin it so both
        // delta computations read one materialization
        val b = batch.localCheckpoint()
        val nextRollup = Cdc.incrementalRollup(rollup, base, b, keyCols,
          dims, sumCol, seqCol, opCol).localCheckpoint()
        val nextBase = Cdc.applyChangelog(base, b, keyCols, seqCol, opCol)
          .localCheckpoint()
        Seq(rollup, base, b).foreach(Checkpoints.release)
        rollup = nextRollup
        base = nextBase
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Checkpoints.release(base) // the rollup pin lives with the returned frame
    rollup
  }

  /** Streaming incremental near-dup — [[graft.ops.Dedup.nearDupsAgainstIndex]]
    * per micro-batch against a maintained signature index: the production
    * shape of "dedup the crawl as it lands". Each micro-batch of
    * `(idCol, sigCol)` rows (signatures computed upstream in the stream
    * select, e.g. [[graft.ops.Dedup.minhashSignature]] — map-only, no
    * stream state) probes the index of everything ingested BEFORE it;
    * afterwards (when `growIndex`) the batch's signatures fold into the
    * index with [[graft.ops.Dedup.buildSignatureIndex]] semantics
    * (GROUP BY signature, min-id representative — deterministic, not
    * arrival-order). Matches accumulate and return once the bounded
    * stream drains: `(id_new, id_index, jaccard_est)`.
    *
    * Semantics contract: within-batch pairs are NOT emitted (the
    * batch×index shape); across batches the result is EXACTLY the
    * sequential batch replay `m_i = nearDupsAgainstIndex(index_{i-1},
    * batch_i)` with `index_i = buildSignatureIndex(index_{i-1} ∪
    * batch_i)` — which is what `StreamingNearDupSpec` pins against a
    * batch replay and the single-batch `q_stream_neardup` oracles (≡ its
    * batch twin `q_dedup_incremental`).
    *
    * Scale honesty (the [[maintainRollup]] discipline): the streaming
    * query itself is STATELESS — no watermark state stores; ALL state is
    * the explicit index + match accumulator, held as ONE local-checkpoint
    * pin generation each with superseded generations released per batch.
    * State is therefore index-sized (distinct signatures ingested), never
    * stream-history-sized, and restart recovery is "re-read the index
    * table": a production deployment externalizes index and matches as
    * storage tables and the foreachBatch body MERGEs the same two
    * delta-sized computations. The band join inside each batch stays the
    * no-shuffle shape nearDupsAgainstIndex documents — the small batch
    * broadcasts, the index streams by. */
  def streamNearDups(stream: DataFrame, index0: DataFrame,
      idCol: String, sigCol: String, numHashes: Int,
      threshold: Double = 0.7, bands: Int = 0,
      growIndex: Boolean = true): DataFrame = {
    require(stream.isStreaming, "streamNearDups needs a streaming frame")
    import graft.ops.{Checkpoints, Dedup}
    var index = index0.select(col(idCol), col(sigCol)).localCheckpoint()
    // empty accumulator with the output schema (no scan: both sides empty)
    var acc = Dedup.nearDupsAgainstIndex(index.limit(0), index.limit(0),
      idCol, sigCol, numHashes, bands, threshold).localCheckpoint()
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch frame is only valid inside this call — pin it so the
        // match and the index fold read one materialization
        val b = batch.localCheckpoint()
        val nextAcc = acc.unionByName(
          Dedup.nearDupsAgainstIndex(index, b, idCol, sigCol,
            numHashes, bands, threshold)).localCheckpoint()
        val nextIndex =
          if (growIndex)
            Dedup.buildSignatureIndex(
              index.unionByName(b.select(col(idCol), col(sigCol))),
              idCol, sigCol).localCheckpoint()
          else index
        // superseded generations: both successors are materialized
        Seq(acc, b).foreach(Checkpoints.release)
        if (growIndex) Checkpoints.release(index)
        acc = nextAcc
        index = nextIndex
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Checkpoints.release(index) // the acc pin lives with the returned frame
    acc
  }

  /** Streaming drift monitor — maintain the AFTER side of a PSI check
    * from a STREAMING metric column, against a static baseline snapshot
    * ("alert when production scores drift from the training
    * distribution"). The baseline's quantile boundaries compute ONCE
    * (an nBins−1 array, broadcast into every micro-batch's map-only bin
    * assignment); per-batch bin counts accumulate by cell-wise addition
    * in one pinned generation of nBins-row state (the [[maintainRollup]]
    * discipline — bounded driver-side state, never the stream). Returns
    * the final per-bin PSI table, ≡ the batch [[graft.ops.Sketches
    * .scorePsi]] of everything ingested — which is what the oracle
    * checks. Unbounded deployments read the same accumulator each batch
    * and alert on `sum(psi_term)`. */
  def monitorDrift(stream: DataFrame, baseline: DataFrame, valueCol: String,
                   nBins: Int = 10, exact: Boolean = true): DataFrame = {
    require(stream.isStreaming, "monitorDrift needs a streaming frame")
    import graft.ops.{Checkpoints, Sketches}
    val bounds = Sketches.psiBounds(baseline, valueCol, nBins, exact)
      .localCheckpoint()
    var acc = Sketches.psiBinCounts(baseline.limit(0), valueCol, bounds)
      .localCheckpoint() // empty (bin, cnt) accumulator, schema-stable
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch frame is read exactly once into next's materialization
        val b = Sketches.psiBinCounts(batch.toDF(), valueCol, bounds)
        val next = acc.unionByName(b)
          .groupBy("bin").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
          .localCheckpoint()
        Checkpoints.release(acc)
        acc = next
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // materialize BEFORE releasing: the PSI plan reads bounds and acc
    val out = Sketches.psiOf(
      Sketches.psiBinCounts(baseline, valueCol, bounds), acc,
      baseline.sparkSession, nBins).localCheckpoint()
    Seq(bounds, acc).foreach(Checkpoints.release)
    out // this pin lives with the returned frame (per-query clearState)
  }

  /** `foreachBatch` handler that validates each micro-batch and routes the
    * valid/invalid splits to separate sinks — the streaming form of the
    * invalid-value handler policy (reference `filters/handlers.py`):
    * accumulate = quarantine sink. Usage:
    * `stream.writeStream.foreachBatch(quarantine("v" -> Required())(ok => …, bad => …))`. */
  def quarantine(specs: (String, Validator)*)(
      validSink: DataFrame => Unit, invalidSink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) => {
      // both sinks consume the same annotated batch: the micro-batch
      // source read + validator chain runs once, not twice
      val cached = Validate.columns(batch, specs: _*).persisted()
      try {
        validSink(cached.valid)
        invalidSink(cached.invalid)
      } finally cached.df.unpersist()
    }

  /** Running per-key validation-error stats. */
  case class KeyErrorStats(key: String, seen: Long, invalid: Long, alert: Boolean)

  /** Custom streaming state via `flatMapGroupsWithState`: track a running
    * invalid-rate per key and emit an updated stat row whenever the key
    * sees data; `alert` fires once the rate crosses `alertRate` with at
    * least `minSeen` observations. State is per-key and O(1) — the scale
    * path for millions of keys (state store shards by key). A processing-
    * time timeout evicts idle keys so state cannot grow unbounded. */
  def keyErrorStats(validated: DataFrame, keyCol: String,
                    alertRate: Double = 0.5, minSeen: Long = 10,
                    idleTimeout: Option[String] = None): Dataset[KeyErrorStats] = {
    val spark = validated.sparkSession
    import spark.implicits._
    val pairs = validated.select(
      col(keyCol).cast("string").as("k"),
      (size(col(Validate.ErrorsCol)) > 0).as("bad")).as[(String, Boolean)]
    // With a timeout the stream keeps triggering empty batches to check
    // timers (state eviction); without one, state lives for the query
    // lifetime — pick per deployment.
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (key: String, rows: Iterator[(String, Boolean)], state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (seen0, bad0) = state.getOption.getOrElse((0L, 0L))
            var seen = seen0
            var bad = bad0
            rows.foreach { r => seen += 1; if (r._2) bad += 1 }
            state.update((seen, bad))
            idleTimeout.foreach(state.setTimeoutDuration)
            val alert = seen >= minSeen && bad.toDouble / seen >= alertRate
            Iterator.single(KeyErrorStats(key, seen, bad, alert))
          }
        })
  }
}
