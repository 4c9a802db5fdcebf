package graft.registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, scratchDir}
import graft.core.Validate
import graft.{filters => F}
import graft.ops.{Cdc, Layout, Rollups, Sketches}
import graft.registry.Check.Oracle

/** Tables: quality gates and integrity checks, CDC, snapshots and
  * rollups, file formats and layout, lookup joins and binary media. */
private[graft] object TableCases {

  /** Shared by q_rollup_refresh and q_stream_rollup — the incremental
    * batch refresh and the foreachBatch streaming maintenance must land
    * on the same final rollup (the from-scratch recompute over the
    * closed-form q_cdc_apply survivor set). */
  private[registry] val rollupRefreshOracleSql: String =
    "WITH s AS (SELECT o_orderstatus, " +
      "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS p " +
      "FROM orders WHERE o_orderkey % 10 NOT IN (0, 2) " +
      "UNION ALL SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 3) " +
      "SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(p) AS n_vals, " +
      "CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS total " +
      "FROM s GROUP BY o_orderstatus ORDER BY o_orderstatus"

  val cases: Seq[Case] = Seq(
    // ---- quality gates and integrity ------------------------------------
    Case("q_reject_reasons", Oracle(
      // the reasons in closed form: Required fails on the planted %7
      // nulls plus any originally-null/empty value; Max(100) fails on
      // user_id > 100 (nulls skip non-Required filters)
      ("SELECT * FROM (" +
        "SELECT 'event_type' AS field, 'empty' AS code, count(*) AS n FROM events " +
        "WHERE event_id % 7 = 0 OR event_type IS NULL OR event_type = '' " +
        "UNION ALL " +
        "SELECT 'user_id', 'too_big', count(*) FROM events WHERE user_id > 100) " +
        "WHERE n > 0 ORDER BY field, code")))((s, dir) => {
      // quarantine triage dashboard: WHY rows failed validation, by
      // (field, error code) — the first chart an ingest operator looks
      // at. Planted %7 nulls fail Required ("empty"); user_id > 100
      // fails Max ("too_big"); a row can contribute both.
      val dirty = T(s, dir, "events").withColumn("event_type",
        when(col("event_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")))
      val res = Validate.columns(dirty,
        "event_type" -> F.Required(), "user_id" -> F.Max(100L))
      res.invalid
        .select(explode(col("_errors")).as("e"))
        .groupBy(col("e.key").as("field"), col("e.code").as("code"))
        .agg(count(lit(1)).as("n"))
        .orderBy("field", "code")
    }),
    Case("q_fd_violations", Oracle(
      ("WITH p AS (SELECT o_orderkey % 1000 AS k, o_orderstatus AS s, count(*) AS n " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT k, CAST(count(*) AS BIGINT) AS n_distinct_rhs, " +
        "CAST(sum(n) AS BIGINT) AS n_rows FROM p GROUP BY k " +
        "HAVING count(*) > 1 ORDER BY k")))((s, dir) => {
      // functional-dependency audit: does k → status hold? The %1000
      // key collision manufactures genuine violations (one collided key
      // sees several statuses) — the merge-bug signature
      graft.ops.Integrity.fdViolations(
          T(s, dir, "orders").select((col("o_orderkey") % 1000).as("k"),
            col("o_orderstatus")),
          Seq("k"), Seq("o_orderstatus"))
        .orderBy("k")
    }),
    Case("q_manifest", Oracle {
      // 60-bit hex parse unrolled as a Horner chain (DuckDB has no conv());
      // the mod-prime sum is exact integer arithmetic in both engines
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      ("WITH r AS (SELECT doc_id % 13 AS shard, " +
        "md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM documents), " +
        s"v AS (SELECT shard, CAST($horner AS HUGEINT) AS v FROM r) " +
        "SELECT shard, COUNT(*) AS n_rows, " +
        "CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum " +
        "FROM v GROUP BY shard ORDER BY shard")
    })((s, dir) => {
      // publishing manifest: per-shard row count + order-free mod-prime
      // content checksum (portable: nothing but md5 + integer arithmetic)
      val d = T(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(13)).cast("long"))
      graft.ops.Layout.datasetManifest(d, "shard",
          Seq("doc_id", "lang", "n_chars"))
        .orderBy("shard")
    }),
    Case("q_lineage", Oracle(
      // fixture closed form (verified at every SF): file order == doc_id
      // order and one constant basename
      ("SELECT doc_id, 'documents.parquet' AS _source_file, " +
        "doc_id AS _source_row FROM documents ORDER BY doc_id")))((s, dir) => {
      // row provenance (r12): the parquet file index supplies basename +
      // in-file position for every row — the stable physical identity an
      // incremental pipeline keys reprocessing on. Fixture closed form:
      // the generator wrote documents in doc_id order, so row == doc_id
      // (verified at all three SFs) and the basename is constant.
      graft.sources.ValidatedIO
        .parquetWithLineage(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("_source_file"), col("_source_row"))
        .orderBy("doc_id")
    }),
    Case("q_fk_orphans", Oracle(
      ("SELECT l_orderkey, l_linenumber FROM (" +
        "SELECT CASE WHEN l_orderkey % 97 = 0 THEN l_orderkey + 1000000000 " +
        "ELSE l_orderkey END AS l_orderkey, l_linenumber FROM lineitem) c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.l_orderkey) " +
        "ORDER BY l_orderkey, l_linenumber")))((s, dir) => {
      // referential-integrity check over a synthesized violation pattern:
      // every %97 orderkey bumped out of the parent's key space
      val child = T(s, dir, "lineitem").withColumn("l_orderkey",
        when(col("l_orderkey") % 97 === 0, col("l_orderkey") + 1000000000L)
          .otherwise(col("l_orderkey")))
      graft.ops.Integrity.fkOrphans(child, T(s, dir, "orders"),
          Seq("l_orderkey"), Seq("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_manifest_verify", Oracle {
      // both manifests regrow from the same generated Horner chain as
      // q_manifest; the tamper pattern mirrors the Spark side exactly
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      def man(alias: String, src: String) =
        s"$alias AS (SELECT shard, COUNT(*) AS n, " +
          s"CAST(SUM(CAST($horner AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS c FROM " +
          s"(SELECT shard, md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM $src) GROUP BY shard)"
      ("WITH r AS (SELECT doc_id % 13 AS shard, doc_id, lang, n_chars FROM documents), " +
        "tamp AS (SELECT shard, doc_id, lang, " +
        "CASE WHEN doc_id = 5 THEN n_chars + 1 ELSE n_chars END AS n_chars " +
        "FROM r WHERE shard <> 7 AND doc_id <> 3 " +
        "UNION ALL SELECT 99 AS shard, doc_id, lang, n_chars FROM r WHERE doc_id = 1), " +
        man("want", "r") + ", " + man("got", "tamp") + ", " +
        "j AS (SELECT coalesce(want.shard, got.shard) AS shard, " +
        "want.n AS want_rows, got.n AS got_rows, want.c AS want_checksum, got.c AS got_checksum, " +
        "CASE WHEN got.n IS NULL THEN 'missing' WHEN want.n IS NULL THEN 'unexpected' " +
        "WHEN got.n <> want.n THEN 'count_mismatch' " +
        "WHEN got.c <> want.c THEN 'checksum_mismatch' END AS status " +
        "FROM want FULL OUTER JOIN got ON want.shard = got.shard) " +
        "SELECT shard, status, want_rows, got_rows, want_checksum, got_checksum " +
        "FROM j WHERE status IS NOT NULL ORDER BY shard")
    })((s, dir) => {
      // verification against a published manifest over a tampered copy:
      // doc 3 dropped (count_mismatch on shard 3), doc 5's n_chars bumped
      // (checksum_mismatch on shard 5 — counts still equal), shard 7
      // dropped wholesale (missing), shard 99 injected (unexpected).
      // Clean shards produce NO row.
      val keys = Seq("doc_id", "lang", "n_chars")
      val base = T(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(13)).cast("long"))
      val manifest = graft.ops.Layout.datasetManifest(base, "shard", keys)
      val tampered = base
        .filter(col("shard") =!= 7 && col("doc_id") =!= 3)
        .withColumn("n_chars",
          when(col("doc_id") === 5, col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(base.filter(col("doc_id") === 1).withColumn("shard", lit(99L)))
      graft.ops.Layout.verifyManifest(tampered, manifest, "shard", keys)
        .orderBy("shard")
    }),
    Case("q_wap_publish", Oracle("SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500 ORDER BY doc_id"))((s, dir) => {
      // write-audit-publish roundtrip: stage, audit (count + key
      // uniqueness over the STAGED bytes), swap into place, read back —
      // published data ≡ the source slice in closed form
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
        .select("doc_id", "lang", "n_chars")
      val path = scratchDir(s, "graft_wap_publish")
      val rep = graft.sources.ValidatedIO.writeAudited(docs, path, Seq(
        graft.sources.ValidatedIO.Expect.rowCountBetween(1),
        graft.sources.ValidatedIO.Expect.noNulls("doc_id"),
        graft.sources.ValidatedIO.Expect.unique("doc_id")))
      require(rep.published, s"audit failed: ${rep.failures}")
      s.read.parquet(path).orderBy("doc_id")
    }),
    Case("q_integrity", Oracle(
      ("WITH c AS (SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL " +
        "ELSE l_orderkey END AS k FROM lineitem) " +
        "SELECT (SELECT count(*) FROM c) AS n_rows, " +
        "(SELECT count(DISTINCT k) FROM c) AS n_distinct_keys, " +
        "(SELECT count(*) FROM c WHERE k IS NULL) AS n_null_keys, " +
        "(SELECT count(*) FROM c WHERE k IS NOT NULL AND NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = c.k)) AS n_orphans, " +
        "(SELECT count(*) FROM (SELECT k FROM c GROUP BY k HAVING count(*) > 1)) AS n_dup_keys")))((s, dir) => {
      // one-row integrity dashboard: %97 keys nulled so every counter is
      // exercised (null keys, distinct keys, dup groups, orphans)
      val child = T(s, dir, "lineitem").withColumn("l_orderkey",
        when(col("l_orderkey") % 97 === 0, lit(null)).otherwise(col("l_orderkey")))
      graft.ops.Integrity.summary(child, T(s, dir, "orders"),
        Seq("l_orderkey"), Seq("o_orderkey"))
    }),
    // ---- CDC, snapshots and rollups -------------------------------------
    Case("q_cdc_asof", Oracle(
      // the surviving snapshot one sequence number earlier: %10==0 gone,
      // %10==1 doubled, %10==2 STILL PRESENT (its delete is at seq 2),
      // %10==3 present twice
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM (" +
        "SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 = 3) ORDER BY o_orderkey")))((s, dir) => {
      // snapshot AS-OF reconstruction (time travel from the changelog):
      // the q_cdc_apply changelog replayed only through seq 1 — the
      // %10==2 delete at seq 2 has NOT happened yet, so those keys
      // survive with their seq-1 state. Closed-form oracle.
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      Cdc.applyChangelog(base, changes.filter(col("__seq") <= 1),
          Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    Case("q_rollup", Oracle(
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid " +
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) " +
        "ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST")))((s, dir) => {
      // grouping-sets subtotals: (priority, status), (priority), ()
      T(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),
    Case("q_rollup_refresh", Oracle(
      // recompute over the q_cdc_apply survivor set in closed form;
      // decimal sum, one double cast at the edge
      rollupRefreshOracleSql))((s, dir) => {
      // materialized-rollup maintenance: the q_cdc_apply changelog drives
      // an INCREMENTAL refresh (changed-key-sized work), oracled against
      // the from-scratch recompute over the closed-form survivor set
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      val oldAgg = Cdc.rollupOf(base, Seq("o_orderstatus"), "o_totalprice")
      Cdc.incrementalRollup(oldAgg, base, changes, Seq("o_orderkey"),
          Seq("o_orderstatus"), "o_totalprice", "__seq", "__op")
        .select(col("o_orderstatus"), col("n_rows"), col("n_vals"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),
    Case("q_scd_history", Oracle(
      // the interval table in closed form: seq-1 rows close at 2 exactly
      // when a seq-2 change exists; the %10==2 same-seq race resolves to
      // the delete, so no seq-2 row opens for it
      ("SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, " +
        "CAST(1 AS BIGINT) AS valid_from, " +
        "CAST(CASE WHEN o_orderkey % 10 IN (1, 2) THEN 2 END AS BIGINT) AS valid_to, " +
        "o_orderkey % 10 NOT IN (1, 2) AS is_current " +
        "FROM orders WHERE o_orderkey % 10 <= 2 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_totalprice * 2, " +
        "CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true " +
        "FROM orders WHERE o_orderkey % 10 = 1) " +
        "ORDER BY o_orderkey, valid_from")))((s, dir) => {
      // SCD-2 validity intervals from a changelog: %10==0 insert-only
      // (open interval), %10==1 insert+update (closed + open), %10==2
      // insert then a same-seq U/D race the delete must win (closed
      // interval, no current row)
      val base = T(s, dir, "orders").filter(col("o_orderkey") % 10 <= 2)
        .select(col("o_orderkey"), col("o_totalprice"))
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base, "I", 1L)
        .unionByName(tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 2L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 2L))
      // o_totalprice stays DOUBLE end-to-end (×2 is IEEE-exact): a
      // double→DECIMAL output cast rounds differently across engines
      // (the q_decimal hazard; r11 gate hash-fail), so neither side
      // casts.
      graft.ops.Cdc.scdHistory(changes, Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),
    Case("q_cdc_apply", Oracle(
      // the surviving snapshot in closed form: %10==0 deleted, %10==1
      // price-doubled, %10==2 deleted (U at seq 1 loses to D at seq 2),
      // %10==3 present twice — untouched original + inserted +10M copy
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM (" +
        "SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 NOT IN (0, 2) " +
        "UNION ALL " +
        "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 = 3) ORDER BY o_orderkey")))((s, dir) => {
      // CDC merge over orders with a synthesized changelog: %10==0
      // deletes, %10==1 upserts (price doubled), %10==2 gets an update
      // THEN a delete (the later seq must win), %10==3 additionally
      // INSERTS a new key (+10M). The oracle states the surviving
      // snapshot in closed form.
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      // DOUBLE output, no decimal cast — see q_scd_history's note on the
      // cross-engine double→DECIMAL rounding hazard (r11 gate red).
      Cdc.applyChangelog(base, changes, Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    Case("q_snapshot_diff", Oracle(
      // added/removed/changed in closed form; a null n_chars bump stays
      // null and is therefore NOT a change (null-safe compare)
      ("SELECT * FROM (" +
        "SELECT doc_id, 'removed' AS change, n_chars AS n_chars_before, CAST(NULL AS BIGINT) AS n_chars_after " +
        "FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, 'changed', n_chars, n_chars + 1 " +
        "FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0 AND n_chars IS NOT NULL " +
        "UNION ALL " +
        "SELECT doc_id + 10000000, 'added', CAST(NULL AS BIGINT), n_chars " +
        "FROM documents WHERE doc_id % 11 = 0) ORDER BY doc_id")))((s, dir) => {
      // snapshot diff: after = before minus %7 keys, %5 keys' n_chars
      // bumped, %11 keys re-added under new ids — added/removed/changed
      // stated in closed form by the oracle
      val before = T(s, dir, "documents")
      val after = before.filter(col("doc_id") % 7 =!= 0)
        .withColumn("n_chars", when(col("doc_id") % 5 === 0,
          col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(before.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      Cdc.snapshotDiff(before, after, Seq("doc_id"), Seq("n_chars"))
        .orderBy("doc_id")
    }),
    Case("q_topk_group", Oracle(
      ("SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rank FROM orders) " +
        "WHERE rank <= 3 ORDER BY o_orderpriority NULLS FIRST, rank")))((s, dir) => {
      // WindowGroupLimit-planned per-group top-k (map-side pre-prune)
      Rollups.topKPerGroup(T(s, dir, "orders"), Seq("o_orderpriority"),
          "o_totalprice", k = 3, tieCol = "o_orderkey")
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), col("rank").cast("long").as("rank"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("rank"))
    }),
    Case("q_pivot_counts", Oracle(
      ("SELECT lang, " +
        "CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_src1, " +
        "CAST(sum(CASE WHEN source = 'src6' THEN 1 ELSE 0 END) AS BIGINT) AS n_src6, " +
        "CAST(sum(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS n_src7, " +
        "CAST(sum(CASE WHEN source IS NULL OR source NOT IN ('src1','src6','src7') THEN 1 ELSE 0 END) AS BIGINT) AS n_other " +
        "FROM documents GROUP BY lang ORDER BY lang NULLS FIRST")))((s, dir) => {
      // explicit-value pivot: one partial-agg pass, stable schema
      Rollups.pivotCounts(T(s, dir, "documents"), "lang", "source",
          Seq("src1", "src6", "src7"))
        .orderBy(col("lang").asc_nulls_first)
    }),
    Case("q_cube", Oracle(
      // standard-SQL GROUPING bitmask disambiguates real-null dims from
      // subtotal rows; cents-snapped DECIMAL mass cast at the boundary
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS grouping_id, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(floor(o_totalprice*1e6 + 0.5)/1e6 AS DECIMAL(28,6))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus) " +
        "ORDER BY grouping_id, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST")))((s, dir) => {
      // every subtotal combination in one pass, grouping_id-labeled —
      // the CUBE complement of q_rollup's hierarchy
      graft.ops.Rollups.cubeCounts(T(s, dir, "orders"),
          "o_orderpriority", "o_orderstatus", "o_totalprice")
        .orderBy(col("grouping_id"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),
    Case("q_skyline", Oracle(
      // the SPEC form: quadratic NOT-EXISTS dominance (maximize price,
      // minimize date, one strict) — deliberately NOT the engine's
      // decomposition, so the oracle checks semantics, not structure
      ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders a " +
        "WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL AND NOT EXISTS (" +
        "SELECT 1 FROM orders b WHERE b.o_totalprice >= a.o_totalprice " +
        "AND b.o_orderdate <= a.o_orderdate " +
        "AND (b.o_totalprice > a.o_totalprice OR b.o_orderdate < a.o_orderdate)) " +
        "ORDER BY o_orderkey")))((s, dir) => {
      // Pareto frontier of (maximize total price, minimize order date):
      // the engine runs the bucketed suffix-max decomposition; the oracle
      // states the quadratic dominance SPEC — result sets must agree
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          (lit(0L) - unix_micros(col("o_orderdate").cast("timestamp")))
            .cast("double").as("__neg_t"))
      Sketches.skyline2D(o, "o_totalprice", "__neg_t")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // ---- formats and layout ---------------------------------------------
    Case("q_jsonl_roundtrip", Oracle(
      // the planted malformed shard quarantines; bigint/string fields
      // roundtrip JSON exactly, so valid == the parquet original
      ("SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, event_type NULLS FIRST")))((s, dir) => {
      // validated-source roundtrip: events → JSON lines on disk + a
      // planted malformed shard → PERMISSIVE schema read →
      // corrupt-record quarantine via the Empty() validator → the valid
      // split must equal the parquet original exactly
      val tmp = scratchDir(s, "graft_jsonl_roundtrip")
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(2).write.mode("overwrite").json(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-zzz-garbage.json"),
        ("{\"event_id\": \"not-a-number\", \"user_id\": 1}\n" +
          "this line is not json\n").getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, _corrupt_record STRING")
      graft.sources.ValidatedIO.json(s, tmp, schema)(
          "_corrupt_record" -> F.Empty())
        .valid.select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    Case("q_orc_roundtrip", Oracle(
      // all four field types roundtrip ORC exactly; Optional fills null
      // event_type with the default
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST")))((s, dir) => {
      // ORC roundtrip (r12): the second columnar format Spark ships
      // natively — write events as ORC, read back through the same
      // Required validation the parquet path gets, equality with the
      // original. (No planted-corruption variant: ORC's PERMISSIVE
      // corrupt-record column does not exist — a torn ORC file fails at
      // the stripe level, which is the format's own integrity story.)
      val tmp = scratchDir(s, "graft_orc_roundtrip")
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite").orc(tmp)
      Validate(s.read.orc(tmp), "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    Case("q_avro_roundtrip", Oracle(
      // same contract as the ORC mirror: all four field types roundtrip
      // exactly; Optional fills null event_type with the default
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST")))((s, dir) => {
      // Avro roundtrip (r12): the row-oriented interchange format —
      // write events as Avro (by implementation class; the shortname is
      // unregistered in this distribution), read back through the same
      // validation, equality with the original. Doubles roundtrip
      // bit-exactly (Avro stores IEEE doubles natively, not text).
      val tmp = scratchDir(s, "graft_avro_roundtrip")
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite")
        .format(graft.sources.ValidatedIO.AvroFormat).save(tmp)
      Validate(s.read.format(graft.sources.ValidatedIO.AvroFormat).load(tmp),
          "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    Case("q_xml_roundtrip", Oracle(
      // the text roundtrip is exact: longs render losslessly, doubles via
      // shortest-exact decimal, absent elements read back as null
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST")))((s, dir) => {
      // XML roundtrip (r12): the feed/dump ingest format — write events
      // as XML (one <event> element per row; the writer omits null
      // fields), read back with an EXPLICIT schema (absent elements →
      // null), same validation, equality with the original. Doubles
      // survive the text roundtrip because Spark renders the
      // shortest-exact decimal and the reader parses it back to the
      // identical IEEE value.
      val tmp = scratchDir(s, "graft_xml_roundtrip")
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite")
        .option("rootTag", "events").option("rowTag", "event")
        .format("xml").save(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      graft.sources.ValidatedIO.xml(s, tmp, "event", schema)(
          "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    Case("q_schema_evolution", Oracle(
      // gen-1 rows resurface with nulls in the added columns; gen-2 rows
      // carry their values — the union, under one total order
      ("SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type, " +
        "CAST(NULL AS DOUBLE) AS value FROM events " +
        "UNION ALL SELECT event_id, user_id, event_type, value FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST")))((s, dir) => {
      // schema-evolution merge read (r12): generation 1 wrote only
      // (event_id, user_id); generation 2 added event_type and value. A
      // mergeSchema read must union both generations under the evolved
      // schema with nulls backfilled for gen-1 rows — the
      // append-new-columns contract every long-lived dataset depends on.
      val tmp = scratchDir(s, "graft_schema_evo")
      val ev = T(s, dir, "events")
      ev.select(col("event_id"), col("user_id"))
        .coalesce(2).write.mode("overwrite").parquet(tmp + "/g1")
      ev.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite").parquet(tmp + "/g2")
      s.read.option("mergeSchema", "true").parquet(tmp + "/g1", tmp + "/g2")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    Case("q_csv_roundtrip", Oracle(
      // bigint/string fields roundtrip headerless CSV exactly; the
      // planted type-malformed shard quarantines wholesale
      ("SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, event_type NULLS FIRST")))((s, dir) => {
      // CSV validated-source roundtrip (r12 — the csv reader's oracle
      // twin of q_jsonl_roundtrip): events → headerless CSV + a planted
      // type-malformed shard → PERMISSIVE schema read with a
      // _corrupt_record column → Empty() quarantine → valid == original.
      // Both garbage lines fail BIGINT parses, the unambiguous malformed
      // class (token-count mismatches are version-sensitive; types are
      // not).
      val tmp = scratchDir(s, "graft_csv_roundtrip")
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(2).write.mode("overwrite")
        .option("header", "false").csv(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-zzz-garbage.csv"),
        ("not-a-number,1,signup\nx,y,z\n").getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, _corrupt_record STRING")
      graft.sources.ValidatedIO.csv(s, tmp, schema, Map("header" -> "false"))(
          "_corrupt_record" -> F.Empty())
        .valid.select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    Case("q_compaction_plan", Oracle(
      // offset-bin: bin = (cumulative end offset − own size) div target,
      // rolled up per (group, bin)
      ("WITH inv AS (SELECT o_orderpriority AS grp, o_orderkey AS fname, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS bytes FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL AND o_totalprice > 0), " +
        "o AS (SELECT grp, bytes, sum(bytes) OVER (PARTITION BY grp ORDER BY fname " +
        "ROWS UNBOUNDED PRECEDING) AS endoff FROM inv), " +
        "b AS (SELECT grp, bytes, CAST(floor((endoff - bytes) / 50000000.0) AS BIGINT) AS bin FROM o) " +
        "SELECT grp, bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes " +
        "FROM b GROUP BY grp, bin ORDER BY grp, bin")))((s, dir) => {
      // offset-bin compaction plan over a synthesized file inventory (one
      // "file" per order: group = priority, order = key, size = exact
      // price cents); floor(x*100+0.5) keeps the double→long conversion
      // identical across engines
      val inv = T(s, dir, "orders").select(
        col("o_orderpriority").as("grp"), col("o_orderkey").as("fname"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("bytes"))
      Layout.planCompaction(inv, "grp", "fname", "bytes",
          targetBytes = 50000000L)
        .orderBy("grp", "bin")
    }),
    Case("q_zonemap", Oracle(
      ("SELECT l_orderkey // 1000 AS zone, count(*) AS n_rows, " +
        "CAST(coalesce(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls, " +
        "min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax " +
        "FROM lineitem GROUP BY zone ORDER BY zone")))((s, dir) => {
      // data-skipping zone map: per-1000-key zone min/max/null stats on
      // the price column — the tiny index a reader prunes scans with
      val li = T(s, dir, "lineitem")
        .withColumn("zone", expr("l_orderkey div 1000"))
      Layout.zoneMap(li, "zone", "l_extendedprice").orderBy("zone")
    }),
    Case("q_zorder", Oracle(
      // magic-mask bit spread, one CTE per shift step (Kernels.zValue2)
      ("WITH s0 AS (SELECT l_orderkey, l_linenumber, CAST(l_partkey AS BIGINT) & 4294967295 AS x, CAST(l_suppkey AS BIGINT) & 4294967295 AS y FROM lineitem), " +
        "s1 AS (SELECT l_orderkey, l_linenumber, (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM s0), " +
        "s2 AS (SELECT l_orderkey, l_linenumber, (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM s1), " +
        "s3 AS (SELECT l_orderkey, l_linenumber, (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM s2), " +
        "s4 AS (SELECT l_orderkey, l_linenumber, (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM s3), " +
        "s5 AS (SELECT l_orderkey, l_linenumber, (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM s4) " +
        "SELECT l_orderkey, l_linenumber, x | (y << 1) AS z FROM s5 ORDER BY l_orderkey, l_linenumber")))((s, dir) => {
      // Morton codes for 2-D clustering — exact integer bit arithmetic,
      // mirrored in DuckDB by the same magic-mask spread
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_salted_join", Oracle(
      // the salted plan must produce EXACTLY the plain join's rows
      ("SELECT event_id, n_name FROM events JOIN nation " +
        "ON user_id % 5 = n_nationkey ORDER BY event_id")))((s, dir) => {
      // skew-mitigated join must equal the plain join bit-for-bit: fact
      // events (hot key universe user_id%5) x dim nation, salt=8
      val fact = T(s, dir, "events")
        .select(col("event_id"), (col("user_id") % 5).as("nk"))
      val dim = T(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))
      Layout.saltedJoin(fact, dim, Seq("nk"), "event_id", saltBuckets = 8)
        .select(col("event_id"), col("n_name")).orderBy("event_id")
    }),
    // ---- lookup joins ---------------------------------------------------
    Case("q_geo_join", Oracle {
      // haversine restated with radians as x/180*pi() — the exact JDK
      // Math.toRadians operand order Spark's radians() compiles to —
      // and the same sin/cos/asin/sqrt structure; 1e-6 floor-round
      // absorbs sub-ulp libm drift; blocking must be invisible
      def rad(x: String) = s"(($x)/180*pi())"
      val d =
        s"(2*CAST(6371.0088 AS DOUBLE))*asin(sqrt(" +
          s"sin(${rad("lat2 - lat")}/2)*sin(${rad("lat2 - lat")}/2) + " +
          s"cos(${rad("lat")})*cos(${rad("lat2")})*" +
          s"sin(${rad("lon2 - lon")}/2)*sin(${rad("lon2 - lon")}/2)))"
      "WITH c AS (SELECT c_custkey, CAST(30.0 AS DOUBLE) + CAST((c_custkey*37) % 2500 AS DOUBLE)/100.0 AS lat, " +
        "CAST(-10.0 AS DOUBLE) + CAST((c_custkey*73) % 2000 AS DOUBLE)/100.0 AS lon FROM customer), " +
        "s AS (SELECT s_suppkey, CAST(30.0 AS DOUBLE) + CAST((s_suppkey*41) % 2500 AS DOUBLE)/100.0 AS lat2, " +
        "CAST(-10.0 AS DOUBLE) + CAST((s_suppkey*79) % 2000 AS DOUBLE)/100.0 AS lon2 FROM supplier), " +
        s"p AS (SELECT c_custkey, s_suppkey, floor(($d)*1e6 + 0.5)/1e6 AS distance_km FROM c, s) " +
        "SELECT c_custkey, s_suppkey, distance_km FROM p WHERE distance_km <= 100.0 " +
        "ORDER BY c_custkey, s_suppkey"
    })((s, dir) => {
      // grid-blocked geo radius join: customers × suppliers at
      // synthesized coordinates in a 25°×20° band, pairs within 100 km.
      // The oracle is the plain cross-join SPEC with the haversine
      // written in the same operation order (radians as x/180*π — the
      // JDK toRadians order) so distances match on the 1e-6 grid.
      val cust = T(s, dir, "customer").select(col("c_custkey"),
        (lit(30.0) + (col("c_custkey") * 37 % 2500).cast("double") / 100.0).as("c_lat"),
        (lit(-10.0) + (col("c_custkey") * 73 % 2000).cast("double") / 100.0).as("c_lon"))
      val supp = T(s, dir, "supplier").select(col("s_suppkey"),
        (lit(30.0) + (col("s_suppkey") * 41 % 2500).cast("double") / 100.0).as("s_lat"),
        (lit(-10.0) + (col("s_suppkey") * 79 % 2000).cast("double") / 100.0).as("s_lon"))
      graft.ops.Geo.radiusJoin(cust, "c_lat", "c_lon",
          supp, "s_lat", "s_lon", radiusKm = 100.0)
        .select("c_custkey", "s_suppkey", "distance_km")
        .orderBy("c_custkey", "s_suppkey")
    }),
    Case("q_cidr_lookup", Oracle {
      // identical strict-octet regex + base-256 fold on both sides; LPM
      // stated as the masked-equality join with max-len QUALIFY — the
      // prefix-expansion blocking must be invisible in the result
      val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[0-9][0-9]?)"
      val full = s"^$oct\\.$oct\\.$oct\\.$oct$$"
      def ipLong(e: String): String =
        s"CASE WHEN regexp_matches($e, '$full') THEN " +
          s"CAST(string_split($e, '.')[1] AS BIGINT)*16777216 + " +
          s"CAST(string_split($e, '.')[2] AS BIGINT)*65536 + " +
          s"CAST(string_split($e, '.')[3] AS BIGINT)*256 + " +
          s"CAST(string_split($e, '.')[4] AS BIGINT) END"
      "WITH ev AS (SELECT event_id, CASE WHEN event_id % 11 = 0 THEN '999.1.2.3' " +
        "WHEN event_id % 5 = 0 THEN '172.16.' || CAST(user_id % 16 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) " +
        "ELSE '10.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST((user_id * 7) % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) END AS ip FROM events), " +
        "dim(cidr, zone) AS (VALUES ('10.0.0.0/8', 'corp'), ('10.3.21.0/24', 'rack3'), ('10.77.5.9/16', 'dc77'), ('172.16.0.0/12', 'guest')), " +
        "d AS (SELECT cidr, zone, CAST(regexp_extract(cidr, '/([0-9]{1,2})$', 1) AS INT) AS len, " +
        ipLong("regexp_extract(cidr, '^(.*)/[0-9]{1,2}$', 1)") + " AS net0 FROM dim), " +
        "dc AS (SELECT cidr, zone, len, net0 - (net0 % CAST(power(2, 32 - len) AS BIGINT)) AS net FROM d WHERE len BETWEEN 0 AND 32 AND net0 IS NOT NULL), " +
        "ipl AS (SELECT event_id, ip, " + ipLong("ip") + " AS v FROM ev), " +
        "m AS (SELECT i.event_id, dc.cidr, dc.zone, dc.len FROM ipl i JOIN dc " +
        "ON i.v IS NOT NULL AND i.v - (i.v % CAST(power(2, 32 - dc.len) AS BIGINT)) = dc.net), " +
        "b AS (SELECT event_id, cidr, zone FROM m QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY len DESC) = 1) " +
        "SELECT e.event_id, e.ip, b.cidr, b.zone FROM ev e LEFT JOIN b USING (event_id) ORDER BY e.event_id"
    })((s, dir) => {
      // longest-prefix-match network enrichment: deterministic dotted
      // quads from event keys (a 10/8 corp slice, a 172.16/12 guest
      // slice, an unparsable %11 slice) against a 4-row CIDR dim —
      // /24 beats /16 beats /8; one dim entry carries host bits to
      // exercise canonicalization; misses and bad addresses stay null
      import s.implicits._
      val ips = T(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 11 === 0, lit("999.1.2.3"))
          .when(col("event_id") % 5 === 0, concat(lit("172.16."),
            (col("user_id") % 16).cast("string"), lit("."),
            (col("event_id") % 256).cast("string")))
          .otherwise(concat(lit("10."),
            (col("user_id") % 256).cast("string"), lit("."),
            ((col("user_id") * 7) % 256).cast("string"), lit("."),
            (col("event_id") % 256).cast("string"))).as("ip"))
      val dim = Seq(("10.0.0.0/8", "corp"), ("10.3.21.0/24", "rack3"),
        ("10.77.5.9/16", "dc77"), ("172.16.0.0/12", "guest"))
        .toDF("cidr", "zone")
      graft.ops.Networks.cidrLookup(ips, "ip", dim, "cidr")
        .select("event_id", "ip", "cidr", "zone")
        .orderBy("event_id")
    }),
    // ---- binary media ---------------------------------------------------
    Case("q_binary_sniff", Oracle(
      // closed-form expected formats from the id pattern; byte length =
      // magic length + utf8 octet length of the text
      ("SELECT doc_id, CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' " +
        "WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'unknown' END AS format, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 6 " +
        "WHEN 3 THEN 12 ELSE 2 END + octet_length(encode(text)) AS BIGINT) AS n_bytes " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id")))((s, dir) => {
      // multimodal triage over a REAL binary column: payloads synthesized
      // with genuine magic bytes (PNG/JPEG/GIF89a/RIFF-WAVE + junk) ahead
      // of the text bytes; sniffFormat reads hex(substring(bin)) map-only.
      // The oracle states the expected format in closed form from the id
      // and the byte length as magic-length + octet_length(text).
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      val magic = when(col("doc_id") % 5 === 0, unhex(lit("89504E470D0A1A0A")))
        .when(col("doc_id") % 5 === 1, unhex(lit("FFD8FFE000104A46")))
        .when(col("doc_id") % 5 === 2, unhex(lit("474946383961")))
        .when(col("doc_id") % 5 === 3, unhex(lit("52494646DEADBEEF57415645")))
        .otherwise(unhex(lit("0BAD")))
      val payload = concat(magic, col("text").cast("binary"))
      d.select(col("doc_id"),
          graft.ops.Multimodal.sniffFormat(payload).as("format"),
          length(payload).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    Case("q_image_dims", Oracle(
      // the parsed fields in closed form from the id; junk rows null
      ("SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp' END AS format, " +
        "CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS width, " +
        "CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 200 + 1 AS BIGINT) END AS height " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // header-only dimension triage (no decode): synthesized PNG/GIF/BMP
      // headers carrying doc_id-derived dims — w = id%300+1, h = id%200+1
      // — plus junk rows that must yield nulls. The oracle states the
      // parsed fields in closed form from the id (the q_binary_sniff
      // pattern); the engine actually builds the bytes and parses them
      // back with fixed-offset arithmetic.
      val d = T(s, dir, "documents")
      val w = (col("doc_id") % 300 + 1).cast("long")
      val h = (col("doc_id") % 200 + 1).cast("long")
      def hex2(c: Column) = lpad(hex(c % 256), 2, "0")
      val wBE4 = unhex(lpad(hex(w), 8, "0"))
      val hBE4 = unhex(lpad(hex(h), 8, "0"))
      val wLE2 = unhex(concat(hex2(w), hex2(floor(w / 256).cast("long"))))
      val hLE2 = unhex(concat(hex2(h), hex2(floor(h / 256).cast("long"))))
      val wLE4 = unhex(concat(hex2(w), hex2(floor(w / 256).cast("long")),
        lit("0000")))
      val hLE4 = unhex(concat(hex2(h), hex2(floor(h / 256).cast("long")),
        lit("0000")))
      val payload = when(col("doc_id") % 4 === 0,
          concat(unhex(lit("89504E470D0A1A0A0000000D49484452")), wBE4, hBE4))
        .when(col("doc_id") % 4 === 1,
          concat(unhex(lit("474946383961")), wLE2, hLE2))
        .when(col("doc_id") % 4 === 2,
          // 16 filler bytes put the DIB width field at byte offset 18
          concat(unhex(lit("424D")), unhex(lit("00" * 16)), wLE4, hLE4))
        .otherwise(unhex(lit("0BAD")))
      d.select(col("doc_id"),
          graft.ops.Multimodal.imageDimsFromHeader(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"))
        .orderBy("doc_id")
    }),
    Case("q_image_dhash", Oracle(
      // hand-derived from the generating formulas (see the query's
      // comment): A bit i=y*8+x ⇔ (37(x+1)+11y)%256 > (37x+11y)%256;
      // B ⇔ 255−(53(x+1)+29y)%256 > 255−(53x+29y)%256; bits little-
      // endian into a signed 64-bit. Undecodable payload → NULL.
      ("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(-1161964026750582849 AS BIGINT)), " +
        "(CAST(1 AS BIGINT), CAST(2396553285575643152 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), CAST(NULL AS BIGINT))) AS t(img_id, dhash) " +
        "ORDER BY img_id")))((s, dir) => {
      // ORACLE-CHECKED real image decode (r12): two committed 9×8
      // grayscale PNGs whose dHash is CLOSED-FORM because the decode is
      // lossless and the 9×8→9×8 "resize" is a raster copy (same size,
      // same TYPE_BYTE_GRAY — no resampling), so sample(x,y) equals the
      // generating formula and bit i=y*8+x sets iff v(x+1,y) > v(x,y).
      // Image A: v=(37x+11y)%256; image B: v=255−((53x+29y)%256). The
      // expected 64-bit hashes in the oracle are derived BY HAND from
      // those inequalities (tools/GenDhash regenerates the fixtures and
      // re-proves hash==closed-form against the real ImageIO path). A
      // third undecodable payload pins the null contract.
      import s.implicits._
      val pngA = "89504e470d0a1a0a0000000d49484452000000090000000808000000000ea68a690000005b49444154785e015000afff0000254a6f94b9de0328000b30557a9fc4e90e3300163b6085aacff4193e0021466b90b5daff2449002c51769bc0e50a2f5400375c81a6cbf0153a5f0042678cb1d6fb20456a004d7297bce1062b5075b6e01f75b38690000000000049454e44ae426082"
      val pngB = "89504e470d0a1a0a0000000d49484452000000090000000808000000000ea68a690000005549444154785e63f87f6a6a82f6b7833de10c8fd65638f3dd5c926fc5707442b4dac73ded41b20c2b8aed38afcccf326560e80e537cb3bdc957e231439e25cbf959a906bf8f3104ca3cdf54eb217c6f258309cc1800bd0f248da758ca4a0000000049454e44ae426082"
      val df = Seq((0L, pngA), (1L, pngB), (2L, "deadbeef"))
        .toDF("img_id", "hex")
        .select(col("img_id"), unhex(col("hex")).as("payload"))
      graft.ops.Multimodal.withDHash(df, "payload")
        .select(col("img_id"), col("dhash"))
        .orderBy("img_id")
    }),
    Case("q_audio_features", Oracle(
      // closed-form expectations (see the query's comment): every value
      // is an exactly-representable float, so literals suffice
      ("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(0.5 AS FLOAT), CAST(0.1875 AS FLOAT), CAST(0.5 AS FLOAT), CAST(0.1875 AS FLOAT)), " +
        "(CAST(1 AS BIGINT), CAST(0.5 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.5 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "(CAST(2 AS BIGINT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "(CAST(3 AS BIGINT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT))" +
        ") AS t(clip_id, rms_1, zcr_1, rms_2, zcr_2) ORDER BY clip_id")))((s, dir) => {
      // ORACLE-CHECKED real audio decode (r12, the q_image_dhash pattern
      // for the WAV path): 16-bit PCM fixtures whose windowed RMS/ZCR are
      // CLOSED-FORM in exactly-representable floats — a ±16384 square
      // wave (mono = ±0.5 exactly; per 65-sample window rms = √0.25 =
      // 0.5, 12 sign changes / 64 = 0.1875), a DC clip (rms 0.5, zcr 0),
      // a STEREO clip with opposite channels (mono mix = 0 exactly →
      // rms 0, zcr 0 — pins the channel mixer), and an undecodable
      // payload pinning the null contract.
      import s.implicits._
      def wav(samples: Array[Short], channels: Int): Array[Byte] = {
        val dataLen = samples.length * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(channels.toShort).putInt(8000)
          .putInt(8000 * 2 * channels).putShort((2 * channels).toShort)
          .putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(dataLen)
        samples.foreach(bb.putShort)
        bb.array()
      }
      val sq = Array.tabulate(130)(i =>
        if (i % 10 < 5) 16384.toShort else (-16384).toShort)
      val dc = Array.fill(130)(16384.toShort)
      val stereo = Array.tabulate(260)(i =>
        if (i % 2 == 0) 16384.toShort else (-16384).toShort)
      val df = Seq((0L, wav(sq, 1)), (1L, wav(dc, 1)), (2L, wav(stereo, 2)),
        (3L, Array[Byte](1, 2, 3))).toDF("clip_id", "payload")
      graft.ops.Multimodal.audioFeatures(df, "payload", windows = 2)
        .select(col("clip_id"),
          element_at(col("features"), 1).as("rms_1"),
          element_at(col("features"), 2).as("zcr_1"),
          element_at(col("features"), 3).as("rms_2"),
          element_at(col("features"), 4).as("zcr_2"))
        .orderBy("clip_id")
    }),
  )
}
