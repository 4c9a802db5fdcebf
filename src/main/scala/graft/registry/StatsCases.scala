package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, TR}
import graft.ops.{Rollups, Sketches}
import graft.registry.Check.Oracle

/** Statistics: column profiles, sketches and drift measures, fitted
  * models and hypothesis tests, and basket co-occurrence. */
private[graft] object StatsCases {

  val cases: Seq[Case] = Seq(
    // ---- profiles, sketches and drift -----------------------------------
    Case("q_profile_drift", Oracle {
      // per-column metric mirror: the same planted after-snapshot, the
      // same exact aggregates, and the same flag rule, one UNION ALL
      // branch per column (generated — the rule lives once below)
      val bCols = Seq(("o_orderkey", "bigint", true), ("o_custkey", "bigint", true),
        ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
        ("o_orderdate", "timestamp_ntz", false), ("o_orderpriority", "string", false))
      val aCols = Seq(("o_orderkey", "bigint", true), ("o_custkey", "string", false),
        ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
        ("o_orderdate", "timestamp_ntz", false), ("o_channel", "string", false))
      def aggSql(src: String, cols: Seq[(String, String, Boolean)]) =
        "SELECT CAST(count(*) AS BIGINT) AS n, " + cols.map { case (c, _, num) =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c" +
            (if (num) s", CAST(min($c) AS DOUBLE) AS mn_$c, CAST(max($c) AS DOUBLE) AS mx_$c"
             else "")
        }.mkString(", ") + s" FROM $src"
      val bMap = bCols.map(c => c._1 -> c).toMap
      val aMap = aCols.map(c => c._1 -> c).toMap
      val rows = (bCols.map(_._1) ++ aCols.map(_._1)).distinct.sorted.map { c =>
        val b = bMap.get(c); val a = aMap.get(c)
        val status = (b, a) match {
          case (Some(_), None) => "removed"
          case (None, Some(_)) => "added"
          case (Some(x), Some(y)) if x._2 != y._2 => "type_changed"
          case _ => "common"
        }
        val tb = b.map(x => s"'${x._2}'").getOrElse("CAST(NULL AS VARCHAR)")
        val ta = a.map(x => s"'${x._2}'").getOrElse("CAST(NULL AS VARCHAR)")
        val nB = if (b.isDefined) "bp.n" else "CAST(NULL AS BIGINT)"
        val nA = if (a.isDefined) "ap.n" else "CAST(NULL AS BIGINT)"
        val nnB = if (b.isDefined) s"bp.nn_$c" else "CAST(NULL AS BIGINT)"
        val nnA = if (a.isDefined) s"ap.nn_$c" else "CAST(NULL AS BIGINT)"
        val ndB = if (b.isDefined) s"bp.nd_$c" else "CAST(NULL AS BIGINT)"
        val ndA = if (a.isDefined) s"ap.nd_$c" else "CAST(NULL AS BIGINT)"
        val mnB = if (b.exists(_._3)) s"bp.mn_$c" else "CAST(NULL AS DOUBLE)"
        val mxB = if (b.exists(_._3)) s"bp.mx_$c" else "CAST(NULL AS DOUBLE)"
        val mnA = if (a.exists(_._3)) s"ap.mn_$c" else "CAST(NULL AS DOUBLE)"
        val mxA = if (a.exists(_._3)) s"ap.mx_$c" else "CAST(NULL AS DOUBLE)"
        val delta = if (b.isDefined && a.isDefined)
          s"floor((CAST($nnA AS DOUBLE)/$nA - CAST($nnB AS DOUBLE)/$nB) * 1e6 + 0.5)/1e6"
        else "CAST(NULL AS DOUBLE)"
        val drifted = if (status != "common") "TRUE" else
          s"(abs($delta) > 0.01 OR (CASE WHEN least($ndB, $ndA) = 0 " +
            s"THEN greatest($ndB, $ndA) > 0 " +
            s"ELSE CAST(greatest($ndB, $ndA) AS DOUBLE) > CAST(least($ndB, $ndA) AS DOUBLE) * 2.0 END))"
        s"SELECT '$c' AS col_name, '$status' AS status, $tb AS type_before, " +
          s"$ta AS type_after, $nB AS n_before, $nA AS n_after, " +
          s"$nnB AS n_null_before, $nnA AS n_null_after, " +
          s"$delta AS null_rate_delta, $ndB AS distinct_before, $ndA AS distinct_after, " +
          s"$mnB AS min_before, $mxB AS max_before, $mnA AS min_after, $mxA AS max_after, " +
          s"$drifted AS drifted FROM bp, ap"
      }
      "WITH b AS (SELECT * FROM orders), " +
        "a AS (SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus, " +
        "o_totalprice * 1.1 AS o_totalprice, o_orderdate, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'app' END AS o_channel " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        s"bp AS (${aggSql("b", bCols)}), ap AS (${aggSql("a", aCols)}) " +
        rows.mkString(" UNION ALL ") + " ORDER BY col_name"
    })((s, dir) => {
      // snapshot profile drift (r12): today's orders vs a planted
      // tomorrow — 10% of rows gone, o_orderstatus nulled on %7,
      // o_totalprice rescaled, o_custkey re-typed to string,
      // o_orderpriority dropped, o_channel added. The report must flag
      // exactly the schema changes + the null-rate drift and leave the
      // benign columns unflagged; the oracle recomputes every metric
      // and the flag rule per column.
      val before = T(s, dir, "orders")
      val after = before.filter(col("o_orderkey") % 10 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("o_custkey", col("o_custkey").cast("string"))
        .drop("o_orderpriority")
        .withColumn("o_channel",
          when(col("o_orderkey") % 2 === 0, lit("web")).otherwise(lit("app")))
      Sketches.profileDrift(before, after, exact = true).orderBy("col_name")
    }),
    Case("q_approx_distinct", Oracle("SELECT COUNT(DISTINCT user_id) AS n FROM events"))((s, dir) => {
      T(s, dir, "events").agg(count_distinct(col("user_id")).as("n"))
    }),
    Case("q_quantiles", Oracle(
      "SELECT quantile_cont(l_quantity, 0.25) AS p25, quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.9) AS p90 FROM lineitem"))((s, dir) => {
      T(s, dir, "lineitem").agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"))
    }),
    Case("q_winsorize", Oracle(
      // quantile_cont matches Spark's exact `percentile` interpolation
      // (the q_quantiles precedent); bounds rounded with the shared
      // formula BEFORE clamping on both sides
      ("WITH b AS (SELECT l_returnflag AS g, " +
        "floor(quantile_cont(l_extendedprice, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS lo, " +
        "floor(quantile_cont(l_extendedprice, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS hi " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_orderkey, l_linenumber, " +
        "least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi) AS price_w " +
        "FROM lineitem JOIN b ON l_returnflag IS NOT DISTINCT FROM g " +
        "ORDER BY l_orderkey, l_linenumber")))((s, dir) => {
      // per-stratum [5%, 95%] clamp of price, exact percentiles
      Sketches.winsorize(T(s, dir, "lineitem"), "l_extendedprice",
        "l_returnflag", lo = 0.05, hi = 0.95, outCol = "price_w")
        .select(col("l_orderkey"), col("l_linenumber"), col("price_w"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_pct_norm", Oracle(
      // the plain per-stratum rank window the engine's bucketed
      // decomposition must equal bit-for-bit
      ("SELECT doc_id, lang, n_chars, floor(CAST(rn AS DOUBLE)/cnt*1e6)/1e6 AS pct FROM (" +
        "SELECT doc_id, lang, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM documents " +
        "WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL AND lang IS NOT NULL) " +
        "ORDER BY doc_id")))((s, dir) => {
      // within-stratum percentile normalization: each document's
      // n_chars mapped to its percentile INSIDE its language — the
      // cross-model score alignment before a single global cut. The
      // oracle replays the per-lang rank window; the engine never runs
      // a corpus-scale window (stratified globalRank decomposition).
      graft.ops.Sketches.percentileNormalize(
          T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "doc_id", Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("pct"))
        .orderBy("doc_id")
    }),
    Case("q_null_patterns", Oracle(
      ("WITH p AS (SELECT (CASE WHEN text IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN lang IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN source IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN n_chars IS NULL THEN '0' ELSE '1' END) AS pattern " +
        "FROM documents), " +
        "c AS (SELECT pattern, count(*) AS n FROM p GROUP BY pattern), " +
        "t AS (SELECT sum(n) AS tot FROM c) " +
        "SELECT pattern, n, floor(CAST(n AS DOUBLE)/tot*1e6)/1e6 AS share " +
        "FROM c, t ORDER BY pattern")))((s, dir) => {
      // missingness-pattern audit over the four nullable document
      // columns: which null COMBINATIONS occur ("text only drops with
      // n_chars" vs "lang drops alone" are different bugs)
      graft.ops.Integrity.nullPatterns(T(s, dir, "documents"),
          Seq("text", "lang", "source", "n_chars"))
        .orderBy("pattern")
    }),
    Case("q_chi_square", Oracle(
      // identical contingency/margin arithmetic, same grids, same
      // left-to-right expected-count expression
      ("WITH c AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents " +
        "WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2), " +
        "ma AS (SELECT a, sum(o) AS ra FROM c GROUP BY a), " +
        "mb AS (SELECT b, sum(o) AS rb FROM c GROUP BY b), " +
        "t AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM c), " +
        "terms AS (SELECT n, ka, kb, CAST(floor(" +
        "(o - ra*1.0*rb/n)*(o - ra*1.0*rb/n)/(ra*1.0*rb/n)*1e9 + 0.5)/1e9 AS DECIMAL(28,9)) AS tm " +
        "FROM c JOIN ma USING (a) JOIN mb USING (b), t) " +
        "SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS r_a, CAST(kb AS BIGINT) AS r_b, " +
        "CAST((ka-1)*(kb-1) AS BIGINT) AS dof, " +
        "floor(CAST(sum(tm) AS DOUBLE)*1e6 + 0.5)/1e6 AS chi2, " +
        "CASE WHEN ka > 1 AND kb > 1 THEN " +
        "floor(sqrt(CAST(sum(tm) AS DOUBLE)/(n*least(ka-1, kb-1)))*1e6 + 0.5)/1e6 END AS cramers_v " +
        "FROM terms GROUP BY n, ka, kb")))((s, dir) => {
      // categorical association audit: is lang independent of source?
      // (a skewed lang×source table is how a scraper outage or sampling
      // bug surfaces). Per-cell terms on the 1e-9 grid summed as
      // DECIMAL; chi2 + Cramér's V on the 1e-6 grid.
      graft.ops.Integrity.chiSquare(T(s, dir, "documents"), "lang", "source")
    }),
    Case("q_psi", Oracle {
      // identical decile grid from the BEFORE side (quantile_cont mirrors
      // the engine's exact percentile — the q_quantile_buckets precedent),
      // identical Laplace smoothing and 1e-9 term rounding
      val bs = (1 to 9).map(i =>
        s"floor(quantile_cont(v, 0.$i)*1e6+0.5)/1e6 AS b$i").mkString(", ")
      val assign = (1 to 9).map(i =>
        s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      "WITH bef AS (SELECT o_totalprice AS v FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_orderkey % 10 <> 0), " +
        "aft AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice*2 " +
        "ELSE o_totalprice END AS v FROM orders WHERE o_totalprice IS NOT NULL), " +
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
      // population-stability drift between two order-price snapshots:
      // baseline excludes %10 keys, the "after" snapshot doubles every
      // %3 price (×2 is IEEE-exact) — real mass leaves the baseline
      // deciles. Boundaries are BEFORE-side exact deciles on the 1e-6
      // grid; each PSI term rounds on the 1e-9 grid (the ln idiom).
      val o = T(s, dir, "orders").filter(col("o_totalprice").isNotNull)
      val before = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_totalprice").as("v"))
      val after = o.select(when(col("o_orderkey") % 3 === 0,
          col("o_totalprice") * 2).otherwise(col("o_totalprice")).as("v"))
      Sketches.scorePsi(before, after, "v", nBins = 10).orderBy("bin")
    }),
    Case("q_cms_freq", Oracle {
      // identical 4×64 count-min in HUGEINT: the same splitmix64-derived
      // (A_i, B_i) as literals, (A·k + B) mod 2^64 then the low 6 bits
      // (width 64 is a power of two, so signed pmod == unsigned residue).
      // A·k fits HUGEINT directly because the fixture's keys are < 2^8;
      // a general mirror would split A 32/32 like q_ngram_jaccard.
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val seeds = (0 until 4).map { i =>
        val (a, b) = Sketches.cmsSeeds(i)
        s"($i, CAST('${u(a)}' AS HUGEINT), CAST('${u(b)}' AS HUGEINT))"
      }.mkString(", ")
      val T64 = s"CAST('${BigInt(1) << 64}' AS HUGEINT)"
      "WITH seeds(i, a, b) AS (VALUES " + seeds + "), " +
        "src AS (SELECT user_id AS k FROM events WHERE user_id IS NOT NULL), " +
        s"cms AS (SELECT i, CAST((a*k + b) % $T64 % 64 AS BIGINT) AS bucket, " +
        "count(*) AS cnt FROM src, seeds GROUP BY 1, 2), " +
        "cand AS (SELECT unnest(range(0, 50)) AS key), " +
        s"cb AS (SELECT key, i, CAST((a*key + b) % $T64 % 64 AS BIGINT) AS bucket " +
        "FROM cand, seeds), " +
        "est AS (SELECT key, min(coalesce(cnt, 0)) AS est FROM cb " +
        "LEFT JOIN cms USING (i, bucket) GROUP BY key), " +
        "ex AS (SELECT k AS key, count(*) AS n_exact FROM src WHERE k < 50 GROUP BY k) " +
        "SELECT key AS user_id, CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact, " +
        "CAST(est AS BIGINT) AS est FROM est LEFT JOIN ex USING (key) ORDER BY user_id"
    })((s, dir) => {
      // count-min frequency estimates (the fixed-size frequency table
      // when a per-key groupBy is itself the problem): 4×64 sketch over
      // event user_ids — width 64 against 150 distinct keys FORCES
      // collisions, so the min-over-rows estimate and its ≥-exact bound
      // are both exercised, not vacuous. The oracle replays the affine
      // hashes in HUGEINT with the same splitmix64-derived constants and
      // states (key, exact, estimate) side by side.
      val ev = T(s, dir, "events").filter(col("user_id").isNotNull)
      val cms = Sketches.cmsBuild(ev, "user_id", depth = 4, width = 64)
      val cands = s.range(0, 50).select(col("id").as("user_id"))
      val est = Sketches.cmsEstimate(cms, cands, "user_id",
        depth = 4, width = 64)
      val exact = ev.filter(col("user_id") < 50)
        .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("user_id"), "left")
        .na.fill(0L, Seq("n_exact"))
        .select(col("user_id"), col("n_exact"), col("est"))
        .orderBy("user_id")
    }),
    Case("q_benford", Oracle {
      // per-digit mirror with the expected-frequency literals taken from
      // the SAME Integrity.benfordExpected map
      val expCase = (1 to 9).map(d =>
        s"WHEN $d THEN ${graft.ops.Integrity.benfordExpected(d)}")
        .mkString("CASE digit ", " ", " END")
      ("WITH digits AS (SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)*1e6 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit " +
        "FROM orders WHERE o_totalprice IS NOT NULL " +
        "AND CAST(floor(abs(o_totalprice)*1e6 + 0.5) AS BIGINT) > 0), " +
        "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit), " +
        "a AS (SELECT g.digit, coalesce(c.n, 0) AS n FROM (SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit) g LEFT JOIN c USING (digit)), " +
        "f AS (SELECT digit, n, " +
        "CASE WHEN SUM(n) OVER () = 0 THEN 0.0 ELSE floor(CAST(n AS DOUBLE) / SUM(n) OVER () * 1e6 + 0.5) / 1e6 END AS freq, " +
        s"$expCase AS expected FROM a) " +
        "SELECT digit, n, freq, expected, " +
        "floor(AVG(abs(freq - expected)) OVER () * 1e6 + 0.5) / 1e6 AS mad " +
        "FROM f ORDER BY digit")
    })((s, dir) => {
      // Benford first-digit audit (r12) over order totals: exact digit
      // extraction via grid-scaled BIGINT rendering (no log10 in the
      // data path — expected frequencies are literals from ONE Scala map
      // shared with the oracle), 1e-6-grid frequencies and Nigrini MAD
      graft.ops.Integrity.benfordCheck(T(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    }),
    Case("q_quantile_buckets", Oracle(
      ("WITH b AS (SELECT floor(quantile_cont(n_chars, 0.25) * 1e6 + 0.5) / 1e6 AS b1, " +
        "floor(quantile_cont(n_chars, 0.5) * 1e6 + 0.5) / 1e6 AS b2, " +
        "floor(quantile_cont(n_chars, 0.75) * 1e6 + 0.5) / 1e6 AS b3 FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN n_chars IS NULL THEN NULL ELSE " +
        "(CASE WHEN n_chars > b1 THEN 1 ELSE 0 END + CASE WHEN n_chars > b2 THEN 1 ELSE 0 END + " +
        "CASE WHEN n_chars > b3 THEN 1 ELSE 0 END) END AS INTEGER) AS bucket " +
        "FROM documents, b ORDER BY doc_id")))((s, dir) => {
      // 4-bucket length curriculum over n_chars: exact quantile
      // boundaries (DuckDB quantile_cont ≡ Spark percentile, the
      // q_winsorize-proven equivalence), map-only assignment
      Sketches.quantileBuckets(T(s, dir, "documents"), "n_chars", 4)
        .select(col("doc_id"), col("bucket").cast("integer").as("bucket"))
        .orderBy("doc_id")
    }),
    Case("q_global_rank", Oracle(
      // the oracle IS the single-window form the operator avoids; equal
      // by construction because (o_totalprice, o_orderkey) totally orders
      ("SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn " +
        "FROM orders ORDER BY rn")))((s, dir) => {
      // global row_number over (o_totalprice, o_orderkey) WITHOUT the
      // single-reducer window: quantile buckets + offsets + per-bucket
      // windows, exact-equal to the global sort by construction
      Sketches.globalRank(T(s, dir, "orders"), "o_totalprice", "o_orderkey",
          nBuckets = 8, rankCol = "rn")
        .select(col("o_orderkey"), col("rn"))
        .orderBy("rn")
    }),
    Case("q_corr_matrix", Oracle {
      // per-pair exact decimal moments then the IDENTICAL fixed double
      // arithmetic (num/den order, sqrt, 1e-9 floor) as the operator
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val selects = for { i <- cs.indices; j <- i until cs.size } yield {
        val (cx, cy) = (cs(i), cs(j))
        // LISTWISE deletion to mirror correlationMatrixComplete: every
        // pair conditions on the same all-columns-non-null row set
        val both = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
        def D(e: String) = s"CAST($e AS DOUBLE)"
        val num = s"(${D("n")} * ${D("sxy")} - ${D("sx")} * ${D("sy")})"
        val denx = s"(${D("n")} * ${D("sxx")} - ${D("sx")} * ${D("sx")})"
        val deny = s"(${D("n")} * ${D("syy")} - ${D("sy")} * ${D("sy")})"
        s"SELECT '$cx' AS col_x, '$cy' AS col_y, CAST(coalesce(n, 0) AS BIGINT) AS n, " +
          s"CASE WHEN coalesce(${D("n")}, 0) >= 2 AND $denx > 0 AND $deny > 0 " +
          s"THEN floor($num / sqrt($denx * $deny) * 1e9 + 0.5) / 1e9 END AS corr " +
          // left operand DECIMAL(19,6): forces DuckDB's INT128 multiply
          // (int64-width decimal products overflow on this data); the
          // VALUES are identical to the operator's (18,6) grid
          s"FROM (SELECT SUM(CASE WHEN $both THEN 1 END) AS n, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(18,6)) END) AS sx, " +
          s"SUM(CASE WHEN $both THEN CAST($cy AS DECIMAL(18,6)) END) AS sy, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(19,6)) * CAST($cy AS DECIMAL(12,6)) END) AS sxy, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(19,6)) * CAST($cx AS DECIMAL(12,6)) END) AS sxx, " +
          s"SUM(CASE WHEN $both THEN CAST($cy AS DECIMAL(19,6)) * CAST($cy AS DECIMAL(12,6)) END) AS syy " +
          "FROM lineitem)"
      }
      selects.mkString("SELECT col_x, col_y, n, corr FROM (",
        " UNION ALL ", ") ORDER BY col_x, col_y")
    })((s, dir) => {
      // one-pass complete-rows Pearson matrix over exact decimal moments —
      // partitioning-proof, closed-form mirrorable, and per-column moments
      // shared across pairs (15 un-branched aggregates, not 60 guarded
      // ones; listwise ≡ pairwise on this null-free fixture)
      Sketches.correlationMatrixComplete(TR(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_x", "col_y")
    }),
    Case("q_gini", Oracle(
      // identical decomposition: ascending (mass, key) ranks, exact decimal
      // rank-weighted sums, the identical fixed double closed form
      ("WITH m AS (SELECT o_custkey AS k, COUNT(*) AS mm FROM orders GROUP BY 1), " +
        "r AS (SELECT mm, ROW_NUMBER() OVER (ORDER BY mm, k) AS rk FROM m), " +
        "a AS (SELECT COUNT(*) AS n, SUM(CAST(mm AS DECIMAL(19,0))) AS s0, " +
        "SUM(CAST(rk AS DECIMAL(19,0)) * CAST(mm AS DECIMAL(19,0))) AS s1 FROM r) " +
        "SELECT CAST(n AS BIGINT) AS n_keys, CAST(s0 AS BIGINT) AS total, " +
        "CASE WHEN n >= 1 AND s0 > 0 THEN " +
        "floor((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE)) " +
        "/ (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) * 1e9 + 0.5) / 1e9 END AS gini FROM a")))((s, dir) => {
      // corpus-concentration audit: Gini index of order mass across
      // customers — ranks via the bucketed globalRank decomposition (no
      // global window), exact decimal rank-weighted sums, one output row
      Sketches.giniConcentration(T(s, dir, "orders"), "o_custkey", lit(1L))
    }),
    Case("q_skew_report", Oracle(
      // BIGINT/BIGINT division is float division in both engines; the
      // 1e-6 floor pins the share, (cnt desc, k) pins the top-10 cut
      ("WITH c AS (SELECT CASE WHEN l_orderkey % 7 = 0 THEN 0 ELSE l_orderkey % 500 END AS k, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c) " +
        "SELECT k, cnt, floor(cnt / tot * 1e6) / 1e6 AS share " +
        "FROM c, t ORDER BY cnt DESC, k LIMIT 10")))((s, dir) => {
      // pre-join skew diagnosis over a synthesized hot key (every %7
      // orderkey folds onto key 0 — ~14% of the corpus on one reducer)
      val d = T(s, dir, "lineitem").withColumn("k",
        when(col("l_orderkey") % 7 === 0, lit(0L))
          .otherwise(col("l_orderkey") % 500))
      graft.ops.Integrity.skewReport(d.select(col("k")), Seq("k"), topN = 10)
    }),
    Case("q_impute_median", Oracle(
      ("WITH v AS (SELECT event_id, event_type, " +
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events), " +
        "m AS (SELECT event_type AS g, floor(quantile_cont(v, 0.5) * 1e6 + 0.5) / 1e6 AS med " +
        "FROM v WHERE v IS NOT NULL GROUP BY 1) " +
        "SELECT event_id, coalesce(v, m.med) AS v_filled FROM v " +
        "LEFT JOIN m ON v.event_type IS NOT DISTINCT FROM m.g ORDER BY event_id")))((s, dir) => {
      // per-event-type median fill of a synthesized null pattern (every
      // %7 value nulled) — the oracle recomputes the same medians from
      // the same non-null set
      val ev = T(s, dir, "events").withColumn("v",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      Sketches.imputeMedian(ev, "v", "event_type")
        .select(col("event_id"), col("v_filled")).orderBy("event_id")
    }),
    Case("q_histogram", Oracle(
      ("WITH c AS (SELECT CAST(floor(l_extendedprice / 3000.0) AS BIGINT) AS bin, count(*) AS n " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL " +
        "AND l_extendedprice >= 0 AND l_extendedprice < 60000 GROUP BY 1) " +
        "SELECT r.range AS bin, r.range * 3000.0 AS lo, (r.range + 1) * 3000.0 AS hi, " +
        "CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM range(0, 20) r LEFT JOIN c ON r.range = c.bin ORDER BY bin")))((s, dir) => {
      // 20 equi-width price bins over [0, 60000); out-of-range drops,
      // empty bins emitted with n=0
      Rollups.equiWidthHistogram(T(s, dir, "lineitem"), "l_extendedprice",
          min = 0.0, max = 60000.0, bins = 20)
        .orderBy("bin")
    }),
    Case("q_mad_outliers", Oracle(
      // modified z-score mirror: quantile_cont medians ≡ Spark's exact
      // interpolated percentile (the q_winsorize-proven equivalence),
      // identical 1e-6 floor-rounds on median, MAD, and score
      ("WITH med AS (SELECT event_type AS g, floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS m " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "mad AS (SELECT e.event_type AS g, floor(quantile_cont(abs(e.value - med.m), 0.5) * 1e6 + 0.5) / 1e6 AS d " +
        "FROM events e JOIN med ON e.event_type IS NOT DISTINCT FROM med.g " +
        "WHERE e.value IS NOT NULL GROUP BY 1), " +
        "rz AS (SELECT e.event_id, CASE WHEN mad.d > 0 THEN " +
        "floor(0.6745 * (e.value - med.m) / mad.d * 1e6 + 0.5) / 1e6 END AS value_rz " +
        "FROM events e " +
        "LEFT JOIN med ON e.event_type IS NOT DISTINCT FROM med.g " +
        "LEFT JOIN mad ON e.event_type IS NOT DISTINCT FROM mad.g) " +
        "SELECT event_id, value_rz, coalesce(abs(value_rz) > 3.5, false) AS value_outlier " +
        "FROM rz ORDER BY event_id")))((s, dir) => {
      // robust modified z-score per event_type (median/MAD, Iglewicz &
      // Hoaglin) — exact interpolated percentiles mirror quantile_cont
      Sketches.madOutliers(T(s, dir, "events"), "value", "event_type")
        .select(col("event_id"), col("value_rz"), col("value_outlier"))
        .orderBy("event_id")
    }),
    Case("q_kl_divergence", Oracle(
      // full mirror of corpusDivergence: same tokenization, same shared
      // smoothed top-50 vocab (combined-count desc, token tiebreak), the
      // same 1e-9 floor-round per term summed as DECIMAL (exact,
      // order-free), same 1e-6 final rounds
      ("WITH ta AS (SELECT token, count(*) AS n_a FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang = 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "tb AS (SELECT token, count(*) AS n_b FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang IS DISTINCT FROM 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "v AS (SELECT coalesce(ta.token, tb.token) AS token, " +
        "coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b " +
        "FROM ta FULL JOIN tb ON ta.token = tb.token " +
        "ORDER BY coalesce(n_a, 0) + coalesce(n_b, 0) DESC, 1 LIMIT 50), " +
        "tot AS (SELECT sum(n_a) AS tta, sum(n_b) AS ttb, count(*) AS vv FROM v), " +
        "terms AS (SELECT vv, " +
        "CAST(floor((n_a+1)/(tta+vv) * ln(((n_a+1)/(tta+vv)) / ((n_b+1)/(ttb+vv))) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_pq, " +
        "CAST(floor((n_b+1)/(ttb+vv) * ln(((n_b+1)/(ttb+vv)) / ((n_a+1)/(tta+vv))) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_qp, " +
        "CAST(floor((n_a+1)/(tta+vv) * ln(((n_a+1)/(tta+vv)) / (((n_a+1)/(tta+vv) + (n_b+1)/(ttb+vv)) / 2)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_pm, " +
        "CAST(floor((n_b+1)/(ttb+vv) * ln(((n_b+1)/(ttb+vv)) / (((n_a+1)/(tta+vv) + (n_b+1)/(ttb+vv)) / 2)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_qm " +
        "FROM v, tot) " +
        "SELECT CAST(vv AS BIGINT) AS n_vocab, " +
        "floor(CAST(sum(t_pq) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl_pq, " +
        "floor(CAST(sum(t_qp) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl_qp, " +
        "floor(CAST((sum(t_pm) + sum(t_qm)) / 2 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS js " +
        "FROM terms GROUP BY vv")))((s, dir) => {
      // unigram-distribution drift between the en slice and the rest:
      // KL both ways + JS over a shared smoothed top-50 vocab; per-token
      // terms floor-rounded to 1e-9 and summed as DECIMAL so the result
      // is addition-order-free and exactly SQL-mirrorable
      val docs = T(s, dir, "documents")
      graft.ops.LmScore.corpusDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(!(col("lang") <=> "en")), "text", k = 50)
    }),
    Case("q_log_odds", Oracle(
      // identical Dirichlet log-odds arithmetic over the q_kl token split:
      // same tokenization, same α=0.01 prior, same 1e-6 z floor BEFORE the
      // two top-15 rankings, token tiebreak, final (side, token) order
      ("WITH ta AS (SELECT token, count(*) AS y_a FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang = 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "tb AS (SELECT token, count(*) AS y_b FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang IS DISTINCT FROM 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "v AS (SELECT coalesce(ta.token, tb.token) AS token, " +
        "CAST(coalesce(y_a, 0) AS BIGINT) AS y_a, CAST(coalesce(y_b, 0) AS BIGINT) AS y_b " +
        "FROM ta FULL JOIN tb ON ta.token = tb.token " +
        "WHERE coalesce(y_a, 0) + coalesce(y_b, 0) >= 5), " +
        "t AS (SELECT sum(y_a) AS na, sum(y_b) AS nb, count(*) AS vv FROM v), " +
        "s AS (SELECT token, y_a, y_b, floor(" +
        "(ln((y_a + 0.01)/(na + 0.01*vv - y_a - 0.01)) - ln((y_b + 0.01)/(nb + 0.01*vv - y_b - 0.01))) " +
        "/ sqrt(1.0/(y_a + 0.01) + 1.0/(y_b + 0.01)) * 1e6 + 0.5)/1e6 AS z FROM v, t) " +
        "SELECT * FROM (" +
        "SELECT * FROM (SELECT token, y_a, y_b, z, 'a' AS side FROM s ORDER BY z DESC, token LIMIT 15) " +
        "UNION ALL " +
        "SELECT * FROM (SELECT token, y_a, y_b, z, 'b' AS side FROM s ORDER BY z ASC, token LIMIT 15)) " +
        "ORDER BY side, token")))((s, dir) => {
      // WHERE two corpora differ (the token-level complement to q_kl's
      // how-much): Dirichlet-prior log-odds z-scores between the en
      // slice and the rest, 15 most-distinctive tokens each side,
      // z on the 1e-6 grid BEFORE ranking with a token tiebreak
      val docs = T(s, dir, "documents")
      graft.ops.LmScore.logOddsDiff(
          docs.filter(col("lang") === "en"),
          docs.filter(!(col("lang") <=> "en")), "text",
          k = 15, alpha = 0.01, minCount = 5L)
        .orderBy("side", "token")
    }),
    Case("q_ks_test", Oracle(
      // same $100 value grid, BIGINT per-cell counts, double ECDF gap
      // floor-rounded at 1e-9, max picked by (gap DESC, v ASC) LIMIT 1
      ("WITH c AS (SELECT floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "g AS (SELECT v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb FROM g), " +
        "d AS (SELECT v, floor(abs(CAST(sum(na) OVER w AS DOUBLE)/CAST(ta AS DOUBLE) - " +
        "CAST(sum(nb) OVER w AS DOUBLE)/CAST(tb AS DOUBLE))*1e9 + 0.5)/1e9 AS gap " +
        "FROM g, t WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)) " +
        "SELECT ta AS n_a, tb AS n_b, gap AS d_stat, v AS at_value FROM d, t " +
        "ORDER BY gap DESC, v LIMIT 1")))((s, dir) => {
      // two-sample KS drift test: order totals of finished vs open orders,
      // snapped to the $100 grid (the bounded-cell contract) — one row
      Sketches.ksStatistic(T(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O", grid = 100.0)
    }),
    Case("q_ks_by_group", Oracle(
      // q_ks_test's mirror with every window partitioned by the stratum;
      // empty-side strata emit null D (none exist in this data, but the
      // guard is mirrored for shape fidelity)
      ("WITH c AS (SELECT o_orderpriority AS g, floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "gc AS (SELECT g, v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM c GROUP BY 1, 2), " +
        "d AS (SELECT g, v, CAST(sum(na) OVER wa AS BIGINT) AS ta, CAST(sum(nb) OVER wa AS BIGINT) AS tb, " +
        "sum(na) OVER wc AS ca, sum(nb) OVER wc AS cb FROM gc " +
        "WINDOW wa AS (PARTITION BY g), wc AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)), " +
        "e AS (SELECT g, v, ta, tb, CASE WHEN ta > 0 AND tb > 0 THEN " +
        "floor(abs(CAST(ca AS DOUBLE)/CAST(ta AS DOUBLE) - CAST(cb AS DOUBLE)/CAST(tb AS DOUBLE))*1e9 + 0.5)/1e9 END AS gap FROM d) " +
        "SELECT g AS o_orderpriority, ta AS n_a, tb AS n_b, gap AS d_stat, " +
        "CASE WHEN gap IS NOT NULL THEN v END AS at_value FROM e " +
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY gap DESC NULLS LAST, v) = 1 " +
        "ORDER BY o_orderpriority")))((s, dir) => {
      // the per-stratum form of q_ks_test: which order priority actually
      // drifted between finished and open orders
      Sketches.ksStatisticBy(T(s, dir, "orders"), "o_orderpriority",
          "o_totalprice", col("o_orderstatus") === "F",
          col("o_orderstatus") === "O", grid = 100.0)
        .orderBy("o_orderpriority")
    }),
    Case("q_mutual_info", Oracle(
      // identical per-cell 1e-12 floor-rounded terms summed as DECIMAL;
      // marginal entropies via the same Σ_y p(x,y) = p(x) identity
      ("WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT nxy, sum(nxy) OVER (PARTITION BY x) AS nx, " +
        "sum(nxy) OVER (PARTITION BY y) AS ny, sum(nxy) OVER () AS n FROM j), " +
        "tm AS (SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells, " +
        "sum(CAST(floor((CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln((CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) / ((CAST(nx AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(ny AS DOUBLE)/CAST(n AS DOUBLE)))) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS mi, " +
        "sum(CAST(floor(-1.0 * (CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln(CAST(nx AS DOUBLE)/CAST(n AS DOUBLE)) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS hx, " +
        "sum(CAST(floor(-1.0 * (CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln(CAST(ny AS DOUBLE)/CAST(n AS DOUBLE)) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS hy FROM c) " +
        "SELECT n, n_cells, floor(CAST(mi AS DOUBLE)*1e9 + 0.5)/1e9 AS mi_nats, " +
        "CASE WHEN least(hx, hy) > 0 THEN floor(CAST(mi AS DOUBLE)/CAST(least(hx, hy) AS DOUBLE)*1e9 + 0.5)/1e9 END AS mi_normalized " +
        "FROM tm")))((s, dir) => {
      // dependence audit: how much do return flag and line status share —
      // the how-many-nats complement to q_chi_square's is-it-dependent
      Sketches.mutualInfo(T(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    }),
    Case("q_zipf", Oracle(
      // the q_unigram_ll tokenization mirror feeding the fitOLS2-style
      // centered decimal-moment regression (1e-6 snapped ln values,
      // snapped decimal-sum means, DECIMAL(19,6) centered moments —
      // the int128 lane)
      ("WITH toks AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "rk AS (SELECT floor(ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE))*1e6 + 0.5)/1e6 AS x, " +
        "floor(ln(CAST(n AS DOUBLE))*1e6 + 0.5)/1e6 AS y " +
        "FROM cnt ORDER BY n DESC, token LIMIT 100), " +
        "mn AS (SELECT floor(CAST(sum(CAST(x AS DECIMAL(19,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6 + 0.5)/1e6 AS mx, " +
        "floor(CAST(sum(CAST(y AS DECIMAL(19,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6 + 0.5)/1e6 AS my, " +
        "CAST(count(*) AS BIGINT) AS k FROM rk), " +
        "sh AS (SELECT k, mx, my, CAST(floor((x - mx)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) AS cx, " +
        "CAST(floor((y - my)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) AS cy FROM rk, mn), " +
        "m AS (SELECT k, mx, my, CAST(sum(cx*cx) AS DOUBLE) AS sxx, " +
        "CAST(sum(cx*cy) AS DOUBLE) AS sxy, CAST(sum(cy*cy) AS DOUBLE) AS syy " +
        "FROM sh GROUP BY 1, 2, 3) " +
        "SELECT k AS n_tokens_ranked, " +
        "CASE WHEN k >= 3 AND sxx > 0 THEN floor((sxy/sxx)*1e6 + 0.5)/1e6 END AS slope, " +
        "CASE WHEN k >= 3 AND sxx > 0 THEN floor((my - (sxy/sxx)*mx)*1e6 + 0.5)/1e6 END AS intercept, " +
        "CASE WHEN k >= 3 AND sxx > 0 AND syy > 0 THEN floor((1.0 - (syy - (sxy/sxx)*sxy)/syy)*1e6 + 0.5)/1e6 END AS r2 " +
        "FROM m")))((s, dir) => {
      // one-number corpus-health audit: OLS slope of ln(freq) on
      // ln(rank) over the top-100 tokens (natural text ≈ −1)
      graft.ops.LmScore.zipfFit(T(s, dir, "documents"), "text", topK = 100)
    }),
    // ---- models and tests -----------------------------------------------
    Case("q_logit_fit", Oracle(
      // three unrolled GD iterations, every gradient component and weight
      // snapped to the 1e-9 grid exactly as the engine does — the weights
      // that come out must agree float-for-float at 6dp
      ("WITH d AS (SELECT least(n_chars/500.0, 2.0) AS f1, " +
        "length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1) AS f2, " +
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "nn AS (SELECT count(*) AS n FROM d), " +
        "i1 AS (SELECT floor(sum(0.5 - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((0.5 - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, floor(sum((0.5 - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d), " +
        "w1 AS (SELECT floor((0 - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b, floor((0 - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa, " +
        "floor((0 - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb FROM i1, nn), " +
        "i2 AS (SELECT floor(sum(1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, " +
        "floor(sum((1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d, w1), " +
        "w2 AS (SELECT floor((b - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b2, floor((wa - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa2, " +
        "floor((wb - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb2 FROM i2, w1, nn), " +
        "i3 AS (SELECT floor(sum(1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, " +
        "floor(sum((1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d, w2), " +
        "w3 AS (SELECT floor((b2 - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b3, floor((wa2 - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa3, " +
        "floor((wb2 - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb3 FROM i3, w2, nn) " +
        "SELECT round(b3, 6) AS bias, round(wa3, 6) AS w_1, round(wb3, 6) AS w_2, " +
        "CAST(nn.n AS BIGINT) AS n FROM w3, nn")))((s, dir) => {
      // train the quality model IN the engine: 3 grid-quantized GD
      // iterations against the weak lang=='en' label; the oracle unrolls
      // the identical iterations in SQL
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull && col("n_chars").isNotNull)
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.fitLogistic(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)),
          length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))),
          "y", learningRate = 2.0, iterations = 3)
        .select(round(col("bias"), 6).as("bias"), round(col("w_1"), 6).as("w_1"),
          round(col("w_2"), 6).as("w_2"), col("n"))
    }),
    Case("q_auc", Oracle(
      // identical tie-corrected Mann–Whitney over the same 6dp scores:
      // per-distinct-score tallies, doubled average ranks (integral), the
      // final ratio floor-rounded on the 1e-9 grid
      ("WITH d AS (SELECT round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT s, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY s), " +
        "r AS (SELECT cnt, pos, coalesce(sum(cnt) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + cnt + 1 AS r2 FROM g), " +
        "a AS (SELECT sum(pos) AS np, sum(cnt - pos) AS nn, sum(pos*r2) AS r2p FROM r) " +
        "SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, " +
        "CASE WHEN np > 0 AND nn > 0 THEN " +
        "floor((r2p/2.0 - np*(np + 1.0)/2.0)/(np*1.0*nn)*1e9)/1e9 END AS auc FROM a")))((s, dir) => {
      // tie-correct ROC-AUC of the q_quality_score model against the weak
      // lang=='en' label — the eval loop of classifier filtering. The
      // score is round(σ, 6) (the proven q_quality_score 6dp-exp mirror),
      // so both engines rank the identical discrete values; rank sums run
      // integral/decimal (partitioning-proof) and the one-row ratio
      // floor-rounds on the 1e-9 grid.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.aucROC(scored, "score", "y")
    }),
    Case("q_auc_by_lang", Oracle(
      // the q_auc mirror with every window/aggregate partitioned by lang
      ("WITH d AS (SELECT lang, round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT lang, s, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY lang, s), " +
        "r AS (SELECT lang, cnt, pos, coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + cnt + 1 AS r2 FROM g), " +
        "a AS (SELECT lang, sum(pos) AS np, sum(cnt - pos) AS nn, sum(pos*r2) AS r2p " +
        "FROM r GROUP BY lang) " +
        "SELECT lang, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, " +
        "CASE WHEN np > 0 AND nn > 0 THEN " +
        "floor((r2p/2.0 - np*(np + 1.0)/2.0)/(np*1.0*nn)*1e9)/1e9 END AS auc " +
        "FROM a ORDER BY lang")))((s, dir) => {
      // per-stratum model evaluation: AUC of the quality score against
      // the n_chars >= 500 label WITHIN each language — the label leans
      // on a model feature, so every stratum's AUC is high but distinct.
      // Ranks are per-group over GLOBAL score buckets (one boundary
      // aggregate; the offsets table is |langs|×nBuckets and broadcasts).
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("n_chars") >= 500, 1.0).otherwise(0.0))
      graft.ops.Classifier.aucROCBy(scored, Seq("lang"), "score", "y")
        .orderBy("lang")
    }),
    Case("q_calibration", Oracle(
      // same bins, same 2^-20 long-sum mean arithmetic, same 1e-6 floors
      ("WITH d AS (SELECT round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "b AS (SELECT least(CAST(floor(least(greatest(s, 0), 1)*10) AS BIGINT), 9) AS bin, " +
        "CAST(floor(least(greatest(s, 0), 1)*1048576.0 + 0.5) AS BIGINT) AS s20, y FROM d) " +
        "SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "floor(sum(y)*1.0/count(*)*1e6)/1e6 AS pos_rate, " +
        "floor(sum(s20)*1.0/count(*)/1048576.0*1e6)/1e6 AS mean_score " +
        "FROM b GROUP BY bin ORDER BY bin")))((s, dir) => {
      // reliability table of the same model/label: 10 probability bins ×
      // (volume, positives, empirical rate, mean score). Mean score
      // accumulates as a LONG sum of 2^-20-snapped values (the
      // q_mean_pool idiom) — exact at any row count — and both means
      // floor-round on the 1e-6 grid.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.calibrationTable(scored, "score", "y")
        .orderBy("bin")
    }),
    Case("q_mannwhitney", Oracle(
      // exact-integer rank sums on the $100 grid (2×avg-rank stays
      // integral, summed as DECIMAL(38,0)); z in double with the standard
      // tie-corrected variance, identical operation order, 1e-9 floor
      ("WITH c AS (SELECT floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "g AS (SELECT v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb, " +
        "CAST(sum(a) + sum(b) AS BIGINT) AS t FROM c GROUP BY 1), " +
        "r AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM g), " +
        "s AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b, " +
        "CAST(sum(CAST(na AS DECIMAL(38,0)) * CAST(2*cb + t + 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ra2, " +
        "CAST(sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ties FROM r) " +
        "SELECT n_a, n_b, " +
        "CAST(ra2 - CAST(n_a AS DECIMAL(38,0)) * CAST(n_a + 1 AS DECIMAL(38,0)) AS DOUBLE)/2.0 AS u_stat, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND " +
        "CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 * ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)/(CAST(n_a + n_b AS DOUBLE)*(CAST(n_a + n_b AS DOUBLE) - 1.0))) > 0 THEN " +
        "floor((CAST(ra2 - CAST(n_a AS DECIMAL(38,0)) * CAST(n_a + 1 AS DECIMAL(38,0)) AS DOUBLE)/2.0 - CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/2.0) / " +
        "sqrt(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 * ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)/(CAST(n_a + n_b AS DOUBLE)*(CAST(n_a + n_b AS DOUBLE) - 1.0)))) * 1e9 + 0.5)/1e9 END AS z " +
        "FROM s")))((s, dir) => {
      // rank-sum location test on the same F-vs-O / $100-grid fixture as
      // q_ks_test: KS says IF the distributions differ, U says which way
      Sketches.mannWhitney(T(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O",
        grid = 100.0)
    }),
    Case("q_bh_fdr", Oracle(
      // identical p synthesis, total-order rank, 1e-12-floored step
      // thresholds, suffix-max step-up
      ("WITH h AS (SELECT doc_id AS hyp_id, CAST((doc_id*37)%97 AS DOUBLE)/97.0 AS p " +
        "FROM documents WHERE doc_id < 60), " +
        "r AS (SELECT hyp_id, p, CAST(row_number() OVER (ORDER BY p, hyp_id) AS INTEGER) AS rank, " +
        "count(*) OVER () AS m FROM h), " +
        "t AS (SELECT hyp_id, p, rank, floor(CAST(rank AS DOUBLE)/CAST(m AS DOUBLE)*0.2*1e12 + 0.5)/1e12 AS threshold FROM r) " +
        "SELECT hyp_id, p, rank, threshold, " +
        "max(CASE WHEN p <= threshold THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS rejected " +
        "FROM t ORDER BY rank")))((s, dir) => {
      // Benjamini-Hochberg over 60 deterministic synthetic p-values
      // ((doc_id*37)%97/97 — spans [0,1) with p=0 at doc_id 0, so both
      // the reject and accept branches are exercised at every SF)
      val hyp = T(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id").as("hyp_id"),
          ((col("doc_id") * 37 % 97).cast("double") / 97.0).as("p"))
      Sketches.bhFdr(hyp, "hyp_id", "p", alpha = 0.2).orderBy("rank")
    }),
    Case("q_kappa", Oracle(
      // marginals joined on the label (NOT diagonal cells — a label both
      // raters use but never agree on still feeds p_e); double math over
      // exact counts, 1e-9 floors at each published quantity
      ("WITH rt AS (SELECT lang AS r1, CASE WHEN doc_id % 7 = 0 THEN source ELSE lang END AS r2 FROM documents), " +
        "rr AS (SELECT r1, r2 FROM rt WHERE r1 IS NOT NULL AND r2 IS NOT NULL), " +
        "m1 AS (SELECT r1 AS c, count(*) AS n1 FROM rr GROUP BY 1), " +
        "m2 AS (SELECT r2 AS c, count(*) AS n2 FROM rr GROUP BY 1), " +
        "pe AS (SELECT coalesce(CAST(sum(CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))) AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS pe_num FROM m1 JOIN m2 USING (c)), " +
        "ob AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(coalesce(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS agree FROM rr) " +
        "SELECT n, floor(CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)*1e9 + 0.5)/1e9 AS p_o, " +
        "floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 AS p_e, " +
        "CASE WHEN n > 0 AND floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 < 1.0 THEN " +
        "floor((floor(CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)*1e9 + 0.5)/1e9 - floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9) / " +
        "(1.0 - floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9) * 1e9 + 0.5)/1e9 END AS kappa " +
        "FROM ob CROSS JOIN pe")))((s, dir) => {
      // chance-corrected agreement between two synthesized raters: rater 2
      // disagrees with rater 1 (lang) exactly on the doc_id%7 slice, where
      // it answers `source` instead — a deterministic confusion pattern
      val rated = T(s, dir, "documents").select(
        col("lang").as("r1"),
        when(col("doc_id") % 7 === 0, col("source"))
          .otherwise(col("lang")).as("r2"))
      graft.ops.Classifier.cohensKappa(rated, "r1", "r2")
    }),
    Case("q_wilcoxon", Oracle(
      // the MW exact-integer rank machinery over |d| cells of paired
      // integer half-month counts; W+ = exact-half double, z 1e-9
      ("WITH p AS (SELECT user_id, CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS h1, " +
        "CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS h2 " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "dd AS (SELECT floor((CAST(h2 AS DOUBLE) - CAST(h1 AS DOUBLE))/1.0 + 0.5)*1.0 AS d FROM p " +
        "WHERE h1 IS NOT NULL AND h2 IS NOT NULL), " +
        "c AS (SELECT abs(d) AS ad, CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
        "CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn, " +
        "CAST(count(*) AS BIGINT) AS t FROM dd WHERE d <> 0 GROUP BY 1), " +
        "r AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM c), " +
        "s AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n, " +
        "CAST(sum(CAST(np AS DECIMAL(38,0)) * CAST(2*cb + t + 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS w2, " +
        "CAST(sum(CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ties FROM r) " +
        "SELECT n, CASE WHEN n > 0 THEN CAST(w2 AS DOUBLE)/2.0 END AS w_plus, " +
        "CASE WHEN n > 0 AND CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0 - CAST(ties AS DOUBLE)/48.0 > 0 THEN " +
        "floor((CAST(w2 AS DOUBLE)/2.0 - CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/4.0) / " +
        "sqrt(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0 - CAST(ties AS DOUBLE)/48.0)*1e9 + 0.5)/1e9 END AS z " +
        "FROM s")))((s, dir) => {
      // paired signed-rank: did each user's activity shift between the
      // two halves of the month (integer paired counts, grid 1)
      val paired = T(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("h1"),
          sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("h2"))
      Sketches.wilcoxonSignedRank(paired, "h1", "h2", grid = 1.0)
    }),
    Case("q_cohens_d", Oracle(
      // two-pass mean-shifted decimal moments (the fitOLS2 discipline):
      // snapped decimal-sum means, centered DECIMAL(19,6) squares (the
      // int128 lane), pooled sd in double, 1e-6 floors
      ("WITH base AS (SELECT floor(value*1e6 + 0.5)/1e6 AS v, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b " +
        "FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')), " +
        "mn AS (SELECT CAST(coalesce(sum(a), 0) AS BIGINT) AS n_a, CAST(coalesce(sum(b), 0) AS BIGINT) AS n_b, " +
        "floor(CAST(sum(CASE WHEN a = 1 THEN CAST(v AS DECIMAL(19,6)) END) AS DOUBLE) / " +
        "CAST(CASE WHEN coalesce(sum(a), 0) > 0 THEN coalesce(sum(a), 0) END AS DOUBLE)*1e6 + 0.5)/1e6 AS ma, " +
        "floor(CAST(sum(CASE WHEN b = 1 THEN CAST(v AS DECIMAL(19,6)) END) AS DOUBLE) / " +
        "CAST(CASE WHEN coalesce(sum(b), 0) > 0 THEN coalesce(sum(b), 0) END AS DOUBLE)*1e6 + 0.5)/1e6 AS mb FROM base), " +
        "ct AS (SELECT n_a, n_b, ma, mb, " +
        "CASE WHEN a = 1 THEN CAST(floor((v - ma)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) END AS ca, " +
        "CASE WHEN b = 1 THEN CAST(floor((v - mb)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) END AS cb " +
        "FROM base, mn), " +
        "m AS (SELECT n_a, n_b, ma, mb, sum(ca*ca) AS saa, sum(cb*cb) AS sbb FROM ct GROUP BY 1, 2, 3, 4) " +
        "SELECT n_a, n_b, ma AS mean_a, mb AS mean_b, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND " +
        "(CAST(saa AS DOUBLE) + CAST(sbb AS DOUBLE))/CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b - 2 END AS DOUBLE) > 0 THEN " +
        "floor((ma - mb)/sqrt((CAST(saa AS DOUBLE) + CAST(sbb AS DOUBLE))/CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b - 2 END AS DOUBLE))*1e6 + 0.5)/1e6 END AS d " +
        "FROM m")))((s, dir) => {
      // effect size for the q_prop_ztest fixture: how far apart are
      // click vs view value distributions in pooled-sd units
      Sketches.cohensD(T(s, dir, "events"), "value",
        col("event_type") === "click", col("event_type") === "view")
    }),
    Case("q_theil_sen", Oracle(
      // median-of-pairwise-slopes with 1e-9 pre-snap; quantile_cont ≡
      // Spark percentile (the established interpolation parity)
      ("WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "p AS (SELECT a.k, floor((b.v - a.v)/CAST(date_diff('day', a.day, b.day) AS DOUBLE)*1e9 + 0.5)/1e9 AS s " +
        "FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day), " +
        "f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "floor(quantile_cont(s, 0.5)*1e9 + 0.5)/1e9 AS slope FROM p GROUP BY 1), " +
        "r AS (SELECT d.k, f.n_pairs, f.slope, " +
        "floor((d.v - f.slope*CAST(date_diff('day', DATE '1970-01-01', d.day) AS DOUBLE))*1e9 + 0.5)/1e9 AS res " +
        "FROM daily d JOIN f ON d.k = f.k) " +
        "SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_points, n_pairs, slope, " +
        "floor(quantile_cont(res, 0.5)*1e9 + 0.5)/1e9 AS intercept " +
        "FROM r GROUP BY 1, n_pairs, slope ORDER BY event_type")))((s, dir) => {
      // robust per-type daily trend — the outlier-proof OLS complement
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.theilSen(daily, "event_type", "day", "n")
        .orderBy("event_type")
    }),
    Case("q_isotonic", Oracle(
      // the minimax identity iso(i) = max_{j≤i} min_{k≥i} mean(j..k)
      // over prefix sums — bins² grid, suffix-min + group-max windows;
      // every mean is an exact-count division (0/1 labels sum exactly)
      ("WITH d AS (SELECT CAST((doc_id*13)%100 AS DOUBLE)/100.0 AS s, " +
        "CASE WHEN (doc_id*7)%100 < (doc_id*13)%100 THEN 1.0 ELSE 0.0 END AS y FROM documents), " +
        "b AS (SELECT CAST(least(floor(s*10), 9) AS INTEGER) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS DOUBLE) AS sy FROM d WHERE s IS NOT NULL AND y IS NOT NULL AND s >= 0 AND s <= 1 GROUP BY 1), " +
        "p AS (SELECT bin, n, sy, CAST(sum(n) OVER wo AS BIGINT) AS cn, CAST(sum(sy) OVER wo AS DOUBLE) AS cy FROM b " +
        "WINDOW wo AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)), " +
        "g AS (SELECT j.bin AS j, k.bin AS k, " +
        "(k.cy - (j.cy - j.sy)) / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a " +
        "FROM p j JOIN p k ON j.bin <= k.bin), " +
        "m AS (SELECT j, k AS i, min(a) OVER (PARTITION BY j ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS mji FROM g), " +
        "iso AS (SELECT i, max(mji) AS iso_raw FROM m GROUP BY 1) " +
        "SELECT b.bin, b.n, b.sy / CAST(b.n AS DOUBLE) AS rate, " +
        "floor(iso.iso_raw*1e9 + 0.5)/1e9 AS iso_rate " +
        "FROM b JOIN iso ON b.bin = iso.i ORDER BY bin")))((s, dir) => {
      // isotonic calibration over a deterministic synthetic scorer:
      // score s = (13·id%100)/100, label = 1 iff (7·id%100) < (13·id%100)
      // — P(label|s) increases in s, so the PAV actually pools something
      val d = T(s, dir, "documents").select(
        ((col("doc_id") * 13 % 100).cast("double") / 100.0).as("s"),
        when(col("doc_id") * 7 % 100 < col("doc_id") * 13 % 100, 1.0)
          .otherwise(0.0).as("y"))
      graft.ops.Classifier.isotonicCalibration(d, "s", "y", bins = 10)
        .orderBy("bin")
    }),
    Case("q_wilson", Oracle(
      // (1.96*1.96) as a runtime product on both sides; identical
      // center/half operation order, 1e-9 floors on the three outputs
      ("WITH g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS k " +
        "FROM orders GROUP BY 1), " +
        "e AS (SELECT o_orderpriority, n, k, CAST(k AS DOUBLE)/CAST(n AS DOUBLE) AS p, " +
        "1.0 + (1.96*1.96)/CAST(n AS DOUBLE) AS denom, " +
        "(CAST(k AS DOUBLE)/CAST(n AS DOUBLE) + (1.96*1.96)/(2.0*CAST(n AS DOUBLE))) / (1.0 + (1.96*1.96)/CAST(n AS DOUBLE)) AS center, " +
        "1.96 * sqrt(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)*(1.0 - CAST(k AS DOUBLE)/CAST(n AS DOUBLE))/CAST(n AS DOUBLE) + " +
        "(1.96*1.96)/(4.0*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) / (1.0 + (1.96*1.96)/CAST(n AS DOUBLE)) AS half FROM g) " +
        "SELECT o_orderpriority, n, k, floor(p*1e9 + 0.5)/1e9 AS rate, " +
        "floor((center - half)*1e9 + 0.5)/1e9 AS lo, " +
        "floor((center + half)*1e9 + 0.5)/1e9 AS hi " +
        "FROM e ORDER BY o_orderpriority")))((s, dir) => {
      // finished-rate per order priority with Wilson 95% bounds
      graft.ops.Classifier.wilsonInterval(T(s, dir, "orders"),
          Seq("o_orderpriority"), col("o_orderstatus") === "F", z = 1.96)
        .orderBy("o_orderpriority")
    }),
    Case("q_prop_ztest", Oracle(
      // pooled-variance two-proportion z; null-safe success predicate
      ("WITH c AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b, " +
        "CASE WHEN value >= 50 THEN 1 ELSE 0 END AS s " +
        "FROM events WHERE event_type IN ('click', 'view')), " +
        "g AS (SELECT CAST(coalesce(sum(a), 0) AS BIGINT) AS n_a, CAST(coalesce(sum(a*s), 0) AS BIGINT) AS k_a, " +
        "CAST(coalesce(sum(b), 0) AS BIGINT) AS n_b, CAST(coalesce(sum(b*s), 0) AS BIGINT) AS k_b FROM c), " +
        "e AS (SELECT *, CAST(k_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa, CAST(k_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb, " +
        "CAST(k_a + k_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE) AS pool FROM g) " +
        "SELECT n_a, k_a, n_b, k_b, " +
        "CASE WHEN n_a > 0 THEN floor(pa*1e9 + 0.5)/1e9 END AS rate_a, " +
        "CASE WHEN n_b > 0 THEN floor(pb*1e9 + 0.5)/1e9 END AS rate_b, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1 THEN " +
        "floor((pa - pb)/sqrt(pool*(1.0 - pool)*(1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE)))*1e9 + 0.5)/1e9 END AS z " +
        "FROM e")))((s, dir) => {
      // A/B: do click events carry high values (≥ 50) at a different
      // rate than view events
      Sketches.proportionZTest(T(s, dir, "events"),
        col("event_type") === "click", col("event_type") === "view",
        col("value") >= 50)
    }),
    Case("q_ols", Oracle {
      // mirror of the SHIFTED-data Cramer solve: snapped decimal-sum
      // means, near-centered moments (no catastrophic determinant
      // cancellation — the construct that made raw-moment coefficients
      // flip in the 9th decimal across engines), identical operand order,
      // outputs on the 1e-6 grid. Products go through DECIMAL(19,6) —
      // width > 18 forces DuckDB's int128 lane (int64 products overflow).
      def D(c: String) = s"CAST($c AS DOUBLE)"
      def det3(a: String, b: String, c: String, p: String, q: String,
               r: String, u: String, v: String, w: String) =
        s"($a*($q*$w - $r*$v) - $b*($p*$w - $r*$u) + $c*($p*$v - $q*$u))"
      val (n, s1, s2, sy) = (D("n"), D("s1"), D("s2"), D("sy"))
      val (s11, s12, s22) = (D("s11"), D("s12"), D("s22"))
      val (s1y, s2y, syy) = (D("s1y"), D("s2y"), D("syy"))
      val dA = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
      val d1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
      val d2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
      val b0 = s"($d0/$dA + my - $d1/$dA*m1 - $d2/$dA*m2)"
      val sse = s"($syy - $d0/$dA*$sy - $d1/$dA*$s1y - $d2/$dA*$s2y)"
      val sst = s"($syy - $sy*$sy/$n)"
      val ok = "n >= 3 AND s1 IS NOT NULL AND s2 IS NOT NULL AND sy IS NOT NULL " +
        "AND s11 IS NOT NULL AND s12 IS NOT NULL AND s22 IS NOT NULL " +
        "AND s1y IS NOT NULL AND s2y IS NOT NULL AND syy IS NOT NULL " +
        s"AND abs($dA) > 1e-9"
      def r6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"
      def snap6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"
      def meanOf(e: String) =
        snap6(s"CAST(sum(CAST(${snap6(e)} AS DECIMAL(18,6))) AS DOUBLE)/count(*)")
      "WITH li AS (SELECT " + snap6("l_extendedprice") + " AS y, " +
        snap6("l_quantity") + " AS x1, " + snap6("l_discount") + " AS x2 " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_discount IS NOT NULL), " +
        "mn AS (SELECT " + meanOf("x1") + " AS m1, " + meanOf("x2") + " AS m2, " +
        meanOf("y") + " AS my FROM li), " +
        "sh AS (SELECT " +
        s"CAST(${snap6("x1 - m1")} AS DECIMAL(19,6)) AS c1, " +
        s"CAST(${snap6("x2 - m2")} AS DECIMAL(19,6)) AS c2, " +
        s"CAST(${snap6("y - my")} AS DECIMAL(19,6)) AS cy, m1, m2, my FROM li, mn), " +
        "m AS (SELECT m1, m2, my, count(*) AS n, " +
        "sum(c1) AS s1, sum(c2) AS s2, sum(cy) AS sy, " +
        "sum(c1*c1) AS s11, sum(c1*c2) AS s12, sum(c2*c2) AS s22, " +
        "sum(c1*cy) AS s1y, sum(c2*cy) AS s2y, sum(cy*cy) AS syy " +
        "FROM sh GROUP BY 1, 2, 3) " +
        s"SELECT n, CASE WHEN $ok THEN ${r6(b0)} END AS b0, " +
        s"CASE WHEN $ok THEN ${r6(s"$d1/$dA")} END AS b1, " +
        s"CASE WHEN $ok THEN ${r6(s"$d2/$dA")} END AS b2, " +
        s"CASE WHEN ($ok) AND $sst > 0 THEN ${r6(s"1.0 - $sse/$sst")} END AS r2 FROM m"
    })((s, dir) => {
      // in-plan two-feature OLS: extended price regressed on quantity and
      // discount — coefficients via Cramer over exact decimal moments;
      // inputs pre-snapped to 1e-6 in DOUBLE so no engine's
      // double→decimal rounding rule decides a moment
      def snap6(c: Column) = floor(c * 1e6 + lit(0.5)) / 1e6
      val li = T(s, dir, "lineitem")
        .filter(col("l_extendedprice").isNotNull &&
          col("l_quantity").isNotNull && col("l_discount").isNotNull)
        .select(snap6(col("l_extendedprice")).as("y"),
          snap6(col("l_quantity")).as("x1"),
          snap6(col("l_discount")).as("x2"))
      graft.ops.Classifier.fitOLS2(li, "y", "x1", "x2")
    }),
    Case("q_kaplan_meier", Oracle(
      // identical at-risk arithmetic over the unfiltered cumulative,
      // identical 1e-12-floored ln terms decimal-summed, survival on the
      // 1e-9 grid; the exhausted-risk flag mirrors the exact-zero pin
      ("WITH s AS (SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1), " +
        "subj AS (SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS DOUBLE) AS dur, " +
        "CASE WHEN user_id % 4 <> 0 THEN 1 ELSE 0 END AS ev FROM s), " +
        "perT AS (SELECT dur AS t, CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_events, count(*) AS n_total FROM subj GROUP BY 1), " +
        "ar AS (SELECT t, n_events, CAST((SELECT sum(n_total) FROM perT) - coalesce(sum(n_total) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM perT), " +
        "e AS (SELECT t, n_risk, n_events, " +
        "max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w AS dead, " +
        "sum(CASE WHEN n_events < n_risk THEN CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE)/CAST(n_risk AS DOUBLE))*1e12 + 0.5)/1e12 AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END) OVER w AS lnsum " +
        "FROM ar WHERE n_events > 0 WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)) " +
        "SELECT t, n_risk, n_events, CASE WHEN dead = 1 THEN 0.0 ELSE floor(exp(CAST(lnsum AS DOUBLE))*1e9 + 0.5)/1e9 END AS survival FROM e ORDER BY t")))((s, dir) => {
      // survival curve over per-user event-log lifetimes: duration =
      // first→last event in days. Censoring is a deterministic user_id%4
      // flag (null → censored), NOT a date cutoff: the r13 date rule left
      // every subject censored at the verify scale, so the oracle compared
      // two EMPTY curves — this rule guarantees events (and a non-empty
      // curve) at every SF while the censored quarter still exercises the
      // at-risk arithmetic.
      val subj = T(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
        .select(datediff(to_date(col("l")), to_date(col("f")))
            .cast("double").as("dur"),
          when(col("user_id") % 4 =!= 0, 1).otherwise(0).as("ev"))
      graft.ops.TimeSeries.kaplanMeier(subj, "dur", "ev").orderBy("t")
    }),
    // ---- baskets --------------------------------------------------------
    Case("q_frequent_pairs", Oracle(
      // presence semantics (DISTINCT first), canonical a < b pairs,
      // HAVING the same support gate, lift in double floor-rounded 1e-9
      ("WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
        "nb AS (SELECT count(DISTINCT b) AS n FROM it), " +
        "ic AS (SELECT i, count(*) AS c FROM it GROUP BY 1), " +
        "p AS (SELECT a.i AS ia, b.i AS ib, count(*) AS np FROM it a JOIN it b " +
        "ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT ia AS item_a, ib AS item_b, np AS n_pair, ca.c AS n_a, cb.c AS n_b, " +
        "floor(CAST(np AS DOUBLE)*CAST(nb.n AS DOUBLE)/(CAST(ca.c AS DOUBLE)*CAST(cb.c AS DOUBLE))*1e9 + 0.5)/1e9 AS lift " +
        "FROM p JOIN ic ca ON ia = ca.i JOIN ic cb ON ib = cb.i CROSS JOIN nb " +
        "ORDER BY item_a, item_b")))((s, dir) => {
      // basket co-occurrence over order line parts: pairs in ≥ 2 orders
      // with support counts and independence lift
      graft.ops.Baskets.frequentPairs(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy("item_a", "item_b")
    }),
    Case("q_assoc_rules", Oracle(
      // the q_frequent_pairs mirror emitting BOTH rule directions with
      // confidence = n_pair/n_ante at the same 1e-9 floor
      ("WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL AND l_orderkey % 2 = 0), " +
        "nb AS (SELECT count(DISTINCT b) AS n FROM it), " +
        "ic AS (SELECT i, count(*) AS c FROM it GROUP BY 1), " +
        "p AS (SELECT a.i AS ia, b.i AS ib, count(*) AS np FROM it a JOIN it b " +
        "ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "fp AS (SELECT ia, ib, np, ca.c AS na, cb.c AS nbc, " +
        "floor(CAST(np AS DOUBLE)*CAST(nb.n AS DOUBLE)/(CAST(ca.c AS DOUBLE)*CAST(cb.c AS DOUBLE))*1e9 + 0.5)/1e9 AS lift " +
        "FROM p JOIN ic ca ON ia = ca.i JOIN ic cb ON ib = cb.i CROSS JOIN nb), " +
        "ru AS (SELECT ia AS antecedent, ib AS consequent, np AS n_pair, na AS n_ante, lift FROM fp " +
        "UNION ALL SELECT ib, ia, np, nbc, lift FROM fp) " +
        "SELECT antecedent, consequent, n_pair, n_ante, " +
        "floor(CAST(n_pair AS DOUBLE)/CAST(n_ante AS DOUBLE)*1e9 + 0.5)/1e9 AS confidence, lift " +
        "FROM ru WHERE floor(CAST(n_pair AS DOUBLE)/CAST(n_ante AS DOUBLE)*1e9 + 0.5)/1e9 >= 0.05 " +
        "ORDER BY antecedent, consequent")))((s, dir) => {
      // directional confidence over the frequent-pair table — both rule
      // orientations, confidence-gated. The even-orderkey clamp keeps
      // this entry from re-paying q_frequent_pairs' full pair build in
      // every bench pass (the rule layer itself is pair-table-sized)
      graft.ops.Baskets.associationRules(
          T(s, dir, "lineitem").filter(col("l_orderkey") % 2 === 0),
          "l_orderkey", "l_partkey", minSupport = 2, minConfidence = 0.05)
        .orderBy("antecedent", "consequent")
    }),
  )
}
