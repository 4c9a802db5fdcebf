package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry.T
import graft.{filters => F}
import graft.ops.Dedup
import graft.registry.Check.Oracle
import DedupCases.{DedupIncrementalMirrorSql, MinhashSigCtePrefix}
import TableCases.rollupRefreshOracleSql

/** True streaming: bounded `Trigger.AvailableNow` runs over file
  * sources, each checked against the batch result it must equal. */
private[graft] object StreamingCases {

  /** Mirror of the MULTI-batch streaming near-dup run (r16): batch k of
    * the stream (doc_id ranges [0,17)/[17,34)/[34,50)) probes the index
    * of everything ingested BEFORE it — the static corpus (doc_id ≥ 50)
    * plus earlier stream batches — and each sig's representative is the
    * MIN id among its visible members (buildSignatureIndex semantics:
    * reps migrate to smaller batch ids as the index folds forward). */
  private lazy val StreamNearDupMultiMirrorSql: String =
    MinhashSigCtePrefix + ", " +
      "bt AS (SELECT doc_id AS id_new, sig AS sgn, " +
      "CASE WHEN doc_id < 17 THEN 1 WHEN doc_id < 34 THEN 2 ELSE 3 END AS bj FROM sg WHERE doc_id < 50), " +
      "mem AS (SELECT doc_id, sig, CASE WHEN doc_id >= 50 THEN 0 WHEN doc_id < 17 THEN 1 " +
      "WHEN doc_id < 34 THEN 2 ELSE 3 END AS vis FROM sg), " +
      "pr AS (SELECT bt.id_new, m.sig, MIN(m.doc_id) AS id_index " +
      "FROM bt JOIN mem m ON m.vis < bt.bj GROUP BY 1, 2), " +
      "scored AS (SELECT pr.id_new, pr.id_index, " +
      "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN bt.sgn[i + 1] = pr.sig[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
      "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
      "r -> CASE WHEN bt.sgn[bb * 8 + r + 1] = pr.sig[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband " +
      "FROM pr JOIN bt USING (id_new)) " +
      "SELECT id_new, id_index, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9 " +
      "ORDER BY id_new, id_index"

  val cases: Seq[Case] = Seq(
    Case("q_stream_dedup", Oracle(
      // the bounded single-batch streaming run drops nothing at the
      // watermark, so streaming watermark-dedup == DISTINCT over the
      // q_choice-valid rows (see the queries entry for the argument)
      ("SELECT DISTINCT user_id FROM events WHERE event_id IS NOT NULL " +
        "AND (event_type IS NULL OR event_type IN ('signup','purchase','error')) " +
        "ORDER BY user_id NULLS FIRST")))((s, dir) => {
      // TRUE streaming run (not batch parity): file source → the SAME
      // validator chain as q_choice → watermark dedup → memory sink,
      // driven to completion with Trigger.AvailableNow. Deterministic and
      // oracle-able because (a) the output is only the dedup KEY (which
      // duplicate survives is engine-internal; the key set is not) and
      // (b) the bounded run ingests the single events file in one
      // microbatch, where the initial watermark (epoch 0) drops nothing —
      // so streaming dedup == batch DISTINCT on the valid split.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      // normalize all three observed testdata shapes (µs TIMESTAMP_NTZ is
      // the current one; ns-as-long the legacy one) to watermarkable TIMESTAMP
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val valid = graft.streaming.StreamingValidate(ev,
        "event_id" -> F.Required(),
        "event_type" -> F.Choice(Seq("signup", "purchase", "error"))).valid
      val deduped = graft.streaming.StreamingValidate.dedupWithinWatermark(
        valid, Seq("user_id"), "ts", "1 hour")
      graft.streaming.StreamingValidate.runBounded(deduped.select(col("user_id")))
        .orderBy(col("user_id").asc_nulls_first)
    }),
    Case("q_stream_session", Oracle(
      // identical gaps-and-islands form as q_session_window: the bounded
      // complete-mode streaming run emits every session, so the streaming
      // state-store assembly must reproduce the batch islands exactly
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE " +
        "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT MIN(t) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid " +
        "ORDER BY user_id NULLS FIRST, session_start NULLS FIRST")))((s, dir) => {
      // TRUE streaming session windows (file source → watermark → session
      // state store), driven to completion with Trigger.AvailableNow under
      // COMPLETE output mode. The bounded run ingests the single events
      // file in one microbatch where the initial watermark (epoch 0) drops
      // nothing, and complete mode emits ALL sessions — append mode would
      // emit only watermark-closed sessions, silently dropping every
      // session within (delay+gap) of max event time. So streaming session
      // assembly == the batch gaps-and-islands oracle (same argument as
      // q_stream_dedup, extended to windowed state).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val sess = graft.streaming.StreamingValidate.sessionCounts(
        raw, "ts", "user_id", "30 minutes")
      graft.streaming.StreamingValidate.runBounded(sess, outputMode = "complete")
        .orderBy(col("user_id").asc_nulls_first, col("session_start"))
    }),
    Case("q_stream_drift", Oracle {
      // the q_psi mirror over the streaming fixture: baseline = all
      // event values, after = the %3-doubled replay
      val bs = (1 to 9).map(i =>
        s"floor(quantile_cont(v, 0.$i)*1e6+0.5)/1e6 AS b$i").mkString(", ")
      val assign = (1 to 9).map(i =>
        s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      "WITH bef AS (SELECT value AS v FROM events WHERE value IS NOT NULL), " +
        "aft AS (SELECT CASE WHEN event_id % 3 = 0 THEN value*2 " +
        "ELSE value END AS v FROM events WHERE value IS NOT NULL), " +
        s"bs AS (SELECT $bs FROM bef), " +
        s"ca AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM bef, bs GROUP BY 1), " +
        s"cb AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM aft, bs GROUP BY 1), " +
        "spine AS (SELECT unnest(range(0, 10)) AS bin), " +
        "j AS (SELECT bin, CAST(coalesce(ca.cnt, 0) AS BIGINT) AS n_before, " +
        "CAST(coalesce(cb.cnt, 0) AS BIGINT) AS n_after " +
        "FROM spine LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)), " +
        "t AS (SELECT sum(n_before) AS ta, sum(n_after) AS tb FROM j) " +
        "SELECT bin, n_before, n_after, " +
        "floor((n_before+1.0)/(ta+10.0)*1e6)/1e6 AS p_before, " +
        "floor((n_after+1.0)/(tb+10.0)*1e6)/1e6 AS p_after, " +
        "floor(((n_before+1.0)/(ta+10.0) - (n_after+1.0)/(tb+10.0)) " +
        "* ln(((n_before+1.0)/(ta+10.0)) / ((n_after+1.0)/(tb+10.0))) * 1e9 + 0.5)/1e9 AS psi_term " +
        "FROM j, t ORDER BY bin"
    })((s, dir) => {
      // TRUE streaming PSI drift monitor: baseline = the static events
      // value column; the stream replays the same file with every %3
      // value doubled (×2 exact) — real mass leaves the baseline
      // deciles. foreachBatch accumulates nBins-row state per batch;
      // the final table ≡ the batch PSI the oracle states (the q_psi
      // arithmetic, same grids).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val baseline = T(s, dir, "events").select(col("value").as("v"))
      val shifted = raw.select(when(col("event_id") % 3 === 0,
          col("value") * 2).otherwise(col("value")).as("v"))
      graft.streaming.StreamingValidate.monitorDrift(shifted, baseline, "v")
        .orderBy("bin")
    }),
    Case("q_stream_rollup", Oracle(
      // the streaming foreachBatch maintenance lands on the SAME final
      // rollup — one oracle, batch and streaming plans
      rollupRefreshOracleSql))((s, dir) => {
      // TRUE streaming rollup maintenance: the q_cdc_apply changelog as a
      // file-source stream, applied batch-by-batch via foreachBatch
      // (incrementalRollup + applyChangelog, one pinned generation of
      // state) — final rollup ≡ the batch refresh, same oracle
      val schema = s.read.parquet(s"$dir/orders.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(raw.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(raw.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(raw.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(raw.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(raw.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      graft.streaming.StreamingValidate.maintainRollup(changes,
          T(s, dir, "orders"), Seq("o_orderkey"), Seq("o_orderstatus"),
          "o_totalprice", "__seq", "__op")
        .select(col("o_orderstatus"), col("n_rows"), col("n_vals"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),
    Case("q_stream_keystats", Oracle(
      // one microbatch → one emitted row per key with final counts; the
      // invalid predicate restates the synthesized null pattern; SUM cast
      // to BIGINT (DuckDB widens to HUGEINT otherwise — the r6 lesson)
      ("WITH v AS (SELECT CAST(user_id AS VARCHAR) AS key, " +
        "((event_id % 3 = 0 AND user_id % 5 = 0) OR event_id % 11 = 0) AS bad " +
        "FROM events) " +
        "SELECT key, COUNT(*) AS seen, " +
        "CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS invalid, " +
        "(COUNT(*) >= 10 AND SUM(CASE WHEN bad THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.3) AS alert " +
        "FROM v GROUP BY key ORDER BY key")))((s, dir) => {
      // TRUE streaming CUSTOM STATE (flatMapGroupsWithState — the
      // stateful-quarantine shape SURVEY §7 deferred, now oracled): a
      // synthesized per-user invalid pattern (event_id nulled when
      // (id%3==0 AND user%5==0) OR id%11==0 — %5 users run ~39% bad,
      // the rest ~9%) streams through the Required validator into
      // keyErrorStats, whose per-key running (seen, invalid) state emits
      // one stat row per key per microbatch. The bounded AvailableNow
      // run ingests the single events file in ONE microbatch, so each
      // key emits exactly one row carrying its final counts — the plain
      // grouped aggregate the oracle states, alert = rate ≥ 0.3 with
      // ≥ 10 seen (both engines compare the identical double division).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val dirty = ev.withColumn("event_id",
        when((col("event_id") % 3 === 0 && col("user_id") % 5 === 0) ||
          col("event_id") % 11 === 0, lit(null)).otherwise(col("event_id")))
      val validated = graft.streaming.StreamingValidate(dirty,
        "event_id" -> F.Required()).df
      val stats = graft.streaming.StreamingValidate.keyErrorStats(
        validated, "user_id", alertRate = 0.3, minSeen = 10)
      graft.streaming.StreamingValidate.runBounded(stats.toDF(),
          statePartitions = Some(8))
        .orderBy("key")
    }),
    Case("q_stream_join", Oracle(
      // single-microbatch stream-stream inner join == the batch self-join
      ("SELECT v.event_id AS view_id, p.event_id AS purchase_id " +
        "FROM events v JOIN events p ON v.event_type = 'view' " +
        "AND p.event_type = 'purchase' AND v.user_id = p.user_id " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR " +
        "ORDER BY view_id, purchase_id")))((s, dir) => {
      // TRUE stream-stream inner join (view→purchase attribution within
      // one hour): two file-source streams, both watermarked — the shape
      // Spark requires for state cleanup in an unbounded run — joined on
      // the key plus an event-time range condition. The bounded
      // AvailableNow run ingests one microbatch, where inner-join
      // matches emit regardless of the (epoch-0) watermark, so the
      // streaming result == the batch self-join the oracle states.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val views = graft.streaming.StreamingValidate.ensureEventTime(src, "ts")
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
        .withWatermark("view_ts", "1 hour")
      val purchases = graft.streaming.StreamingValidate.ensureEventTime(src, "ts")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      // statePartitions = 8: a stream-stream join commits FOUR state
      // stores per partition per batch; at this key cardinality 32 stores
      // is pure commit overhead (measured 3×) — an unbounded
      // high-throughput deploy sizes UP instead (runBounded scaladoc)
      graft.streaming.StreamingValidate.runBounded(
          joined.select(col("view_id"), col("purchase_id")),
          statePartitions = Some(8))
        .orderBy("view_id", "purchase_id")
    }),
    Case("q_stream_enrich", Oracle(
      // the bounded single-batch stream-static run ≡ the batch join:
      // nothing is stateful or watermark-dropped in an enrichment join,
      // and complete-mode aggregation emits every group
      ("SELECT c_mktsegment, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1 ORDER BY 1 NULLS FIRST")))((s, dir) => {
      // TRUE streaming stream-static enrichment: file-source events
      // stream joined to the static customer dimension (broadcast hash
      // join — no stream state for the dim), aggregated per market
      // segment under complete mode in a bounded AvailableNow run. The
      // value sum goes through DECIMAL so float addition order cannot
      // break the cross-engine hash.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val cust = broadcast(T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = ev.join(cust, ev("user_id") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      graft.streaming.StreamingValidate.runBounded(agg, "complete")
        .orderBy(col("c_mktsegment").asc_nulls_first)
    }),
    // the streaming form drains the SAME 50-doc batch through ONE
    // AvailableNow micro-batch against the SAME index — by the
    // sequential-replay contract its result is the batch twin's, so the
    // mirror is shared verbatim (StreamingNearDupSpec pins the
    // multi-batch replay equivalence the single-batch oracle can't see)
    Case("q_stream_neardup", Oracle(DedupIncrementalMirrorSql))((s, dir) => {
      // TRUE streaming incremental near-dup (the r14 "dedup the crawl as
      // it lands" ask): the documents file STREAMS through foreachBatch,
      // each micro-batch probing the persisted signature index built from
      // the established corpus (doc_id >= 50) via nearDupsAgainstIndex,
      // the index folding forward per batch (streamNearDups). A bounded
      // AvailableNow run over ONE file is ONE micro-batch, so by the
      // sequential-replay contract the result is EXACTLY the batch twin
      // q_dedup_incremental — whose HUGEINT mirror is the shared oracle.
      // The multi-batch replay equivalence and the one-pin-generation
      // state discipline are pinned in StreamingNearDupSpec; the state
      // soak lives in SCALE.md.
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      def clamp(d: DataFrame): DataFrame = d.filter(col("text").isNotNull &&
        octet_length(col("text")) === length(col("text")) &&
        length(trim(col("text"))) > 0)
      val batchSigs = clamp(raw).filter(col("doc_id") < 50)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      val idx = Dedup.buildSignatureIndex(
        clamp(T(s, dir, "documents")).filter(col("doc_id") >= 50)
          .select(col("doc_id"),
            Dedup.minhashSignature(col("text"), 64).as("sig")),
        "doc_id", "sig")
      graft.streaming.StreamingValidate.streamNearDups(batchSigs, idx,
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
    Case("q_stream_neardup_multi", Oracle(StreamNearDupMultiMirrorSql))((s, dir) => {
      // MULTI-batch streaming near-dup under the gate's hash check
      // (r16 — q_stream_neardup's single AvailableNow batch oracles only
      // the batch twin; here the SAME 50 docs stream as THREE
      // mtime-ordered files at maxFilesPerTrigger=1, so the index-FOLDING
      // path itself is oracled: batch k probes static ∪ batches < k, and
      // a sig's representative migrates to the smallest visible id, the
      // buildSignatureIndex semantics StreamingNearDupSpec pins). The
      // mirror adds a visible-from-batch membership table to the shared
      // HUGEINT machinery.
      def clamp(d: DataFrame): DataFrame = d.filter(col("text").isNotNull &&
        octet_length(col("text")) === length(col("text")) &&
        length(trim(col("text"))) > 0)
      val docs = T(s, dir, "documents")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_multi").toString
      Seq((0, 17), (17, 34), (34, 50)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          val f = new java.io.File(s"$tmp/b$i")
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
            .select(col("doc_id"), col("text"))
            .coalesce(1).write.parquet(f.toString)
          // file-source ordering is by modification time — pin it
          f.listFiles().filter(_.getName.endsWith(".parquet"))
            .foreach(_.setLastModified(1700000000000L + i * 60000L))
      }
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(tmp)
      val batchSigs = clamp(stream)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      val idx = Dedup.buildSignatureIndex(
        clamp(docs).filter(col("doc_id") >= 50)
          .select(col("doc_id"),
            Dedup.minhashSignature(col("text"), 64).as("sig")),
        "doc_id", "sig")
      graft.streaming.StreamingValidate.streamNearDups(batchSigs, idx,
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
  )
}
