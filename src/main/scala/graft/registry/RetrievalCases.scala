package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, TR}
import graft.ops.{Retrieval, Similarity}
import graft.registry.Check.Oracle

/** Retrieval: BM25 and phrase search, rank fusion and reranking, and
  * exact, quantized and IVF vector search. */
private[graft] object RetrievalCases {

  /** Shared by q_bm25_topk and q_bm25_indexed — the two plans (live
    * tokenization vs persisted bucketed index) must score identically. */
  private val bm25OracleSql: String =
    "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
      "FROM documents WHERE text IS NOT NULL), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1), " +
      "st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl), " +
      "q(qid, qtext) AS (VALUES (1, 'fast hash join'), (2, 'window group query'), " +
      "(3, 'slow table scan'), (4, 'customer order line part'), (5, 'stream batch data')), " +
      "qt AS (SELECT CAST(qid AS BIGINT) AS qid, unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term FROM q), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1), " +
      "sc AS (SELECT qt.qid, tf.doc_id, " +
      "SUM(ln(1.0 + (CAST(st.n AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
      "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS raw " +
      "FROM tf JOIN qt USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st " +
      "GROUP BY 1, 2) " +
      "SELECT qid, doc_id, floor(raw * 1000000.0 + 0.5) / 1000000.0 AS score, " +
      "CAST(row_number() OVER (PARTITION BY qid ORDER BY floor(raw * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id) AS INTEGER) AS rk " +
      "FROM sc QUALIFY rk <= 10 ORDER BY qid, rk"

  /** The 16 centroid ids `Similarity.seedCentroids(emb, "vec_id",
    * "embedding", 16)` selects on the sf0.01 embeddings table (lowest
    * `xxhash64(vec_id)`, id tiebreak) — committed as the q_ivf_topk
    * oracle's centroid set (the BPE merge-table pattern: the engine
    * computes the model artifact, the oracle takes it as given). If the
    * testdata is ever regenerated, re-derive with the one-liner in
    * the q_ivf_topk oracle comment; a mismatch shows up as that one row
    * going red, never silently. */
  private val IvfSeedIds: String =
    "459, 411, 468, 199, 184, 241, 115, 465, 75, 8, 295, 388, 233, 239, 463, 308"

  /** Shared IVF mirror for q_ivf_oracle / q_ivf_topk: assignment = argmax
    * cosine over the centroid set (tiebreak: lowest centroid_id — mirrors
    * ivfAssign's max_by(sim, -id)); probe = top-4 centroids per query;
    * rank candidates in probed cells only. Cosine fragment is IDENTICAL
    * to q_ann_cosine's (bitwise parity). The queries differ ONLY in
    * `centroidPred` — the DuckDB-expressible `vec_id < 16` rule vs the
    * committed seedCentroids literals — and in `nprobe`
    * (q_ann_recall probes 2 cells so its recall is honestly < 1). */
  private def ivfMirrorSql(centroidPred: String, nprobe: Int = 4): String =
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
      s"c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE $centroidPred), " +
      "sc AS (SELECT v.vec_id, v.vec, c.centroid_id, " +
      "CASE WHEN sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(v.vec, c.cvec) / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) END AS csim " +
      "FROM v, c), " +
      "asn AS (SELECT vec_id, vec, centroid_id FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn FROM sc) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 5), " +
      "qc AS (SELECT q.q_id, q.q_vec, c.centroid_id, " +
      "CASE WHEN sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(q.q_vec, c.cvec) / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) END AS psim " +
      "FROM q, c), " +
      "pr AS (SELECT q_id, q_vec, centroid_id FROM " +
      s"(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY psim DESC, centroid_id) AS c_rk FROM qc) WHERE c_rk <= $nprobe), " +
      "scored AS (SELECT pr.q_id, a.vec_id AS cand_id, " +
      "CASE WHEN sqrt(list_dot_product(pr.q_vec, pr.q_vec)) * sqrt(list_dot_product(a.vec, a.vec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(pr.q_vec, a.vec) / (sqrt(list_dot_product(pr.q_vec, pr.q_vec)) * sqrt(list_dot_product(a.vec, a.vec))) END AS sim " +
      "FROM asn a JOIN pr ON a.centroid_id = pr.centroid_id WHERE a.vec_id <> pr.q_id) " +
      "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
      "FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk"

  /** q_ann_cosine mirror (also the exact side of q_ann_recall):
    * bitwise-comparable — both engines run the same sequential
    * double-accumulation dot product over float-widened vectors. */
  private val annCosineOracleSql: String =
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
      "q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 5), " +
      "pairs AS (SELECT q.q_id, v.vec_id AS cand_id, " +
      "CASE WHEN sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(v.vec, v.vec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(q.q_vec, v.vec) / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(v.vec, v.vec))) END AS sim " +
      "FROM v, q WHERE v.vec_id <> q.q_id) " +
      "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
      "FROM pairs QUALIFY rk <= 3 ORDER BY q_id, rk"

  /** q_mmr_rerank oracle: the BM25 mirror feeds five unrolled greedy MMR
    * selections — step i anti-joins the already-picked set, scores
    * `rel·0.7 − (1.0−0.7)·greatest(−1, max cos)` with the same 1e-9
    * floor-round, and picks per-query row_number 1 by (mmr DESC, id).
    * Cosines run over unit vectors via `list_dot_product` — the same
    * left-to-right double accumulation as the engine's zip_with fold
    * (the q_ann_cosine discipline), so scores match bitwise. */
  private val mmrOracleSql: String = {
    val steps = (2 to 5).map { i =>
      s"s$i AS (SELECT c.qid, c.id, c.rel, c.uv, " +
        "floor((c.rel*0.7 - (1.0-0.7)*greatest(-1.0, max(list_dot_product(c.uv, s.uv))))*1e9 + 0.5)/1e9 AS mmr, " +
        "max(CASE WHEN c.id = s.id THEN 1 ELSE 0 END) AS taken " +
        s"FROM cand c JOIN sel${i - 1} s ON c.qid = s.qid GROUP BY 1, 2, 3, 4), " +
        s"p$i AS (SELECT qid, id, mmr, uv, $i AS rk FROM s$i WHERE taken = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, id) = 1), " +
        s"sel$i AS (SELECT qid, id, uv FROM sel${i - 1} UNION ALL SELECT qid, id, uv FROM p$i)"
    }.mkString(", ")
    val unionAll = (1 to 5).map(i => s"SELECT qid, id, mmr, rk FROM p$i")
      .mkString(" UNION ALL ")
    "WITH bm AS (SELECT qid, doc_id, score FROM (" + bm25OracleSql + ")), " +
      "uv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS u FROM embeddings), " +
      "cand AS (SELECT bm.qid, bm.doc_id AS id, bm.score AS rel, uv.u AS uv FROM bm JOIN uv ON bm.doc_id = uv.vec_id), " +
      "p1 AS (SELECT qid, id, floor((rel*0.7)*1e9 + 0.5)/1e9 AS mmr, uv, 1 AS rk FROM cand " +
      "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY floor((rel*0.7)*1e9 + 0.5)/1e9 DESC, id) = 1), " +
      "sel1 AS (SELECT qid, id, uv FROM p1), " + steps +
      s" SELECT qid, id AS doc_id, mmr AS mmr_score, CAST(rk AS INTEGER) AS rk FROM ($unionAll) ORDER BY qid, rk"
  }

  /** q_embed_cov oracle: the [[Similarity.embeddingCovariance]] mirror
    * over the first 8 coordinates, generated pair-by-pair — identical
    * 1e-6 coordinate snap, DECIMAL(18,6) moment sums, closed-form double
    * covariance floor-rounded at 1e-9. */
  private val embedCovOracleSql: String = {
    val dims = 8
    val coords = (0 until dims).map(i =>
      s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS DECIMAL(18,6)) AS c_$i")
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val sums = (0 until dims).map(i => s"sum(c_$i) AS s_$i") ++
      pairs.map { case (i, j) => s"sum(c_$i*c_$j) AS sp_${i}_$j" }
    val arms = pairs.map { case (i, j) =>
      s"SELECT $i AS i, $j AS j, n, s_$i AS si, s_$j AS sj, sp_${i}_$j AS sp FROM m"
    }
    s"WITH ok AS (SELECT embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= $dims), " +
      s"c AS (SELECT ${coords.mkString(", ")} FROM ok), " +
      s"m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM c), " +
      s"u AS (${arms.mkString(" UNION ALL ")}) " +
      "SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, n, " +
      "CASE WHEN n >= 1 AND si IS NOT NULL AND sj IS NOT NULL AND sp IS NOT NULL THEN " +
      "floor((CAST(sp AS DOUBLE)/CAST(n AS DOUBLE) - (CAST(si AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(sj AS DOUBLE)/CAST(n AS DOUBLE)))*1e9 + 0.5)/1e9 " +
      "END AS cov FROM u ORDER BY i, j"
  }

  val cases: Seq[Case] = Seq(
    // ---- lexical retrieval ----------------------------------------------
    Case("q_bm25_topk", Oracle(
      // full BM25 mirror (k1=1.2, b=0.75, Lucene idf): identical term
      // extraction ([a-z0-9]+ over lower), identical per-term formula,
      // identical 1e-6 floor-rounding BEFORE ranking, doc_id tiebreak
      bm25OracleSql))((s, dir) => {
      // BM25 keyword retrieval: 5 literal queries over the documents
      // corpus, top-10 each. Scores rounded to 1e-6 BEFORE ranking in
      // both engines (see Retrieval.bm25TopK), ties break by doc_id.
      import s.implicits._
      val docs = T(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
        .orderBy("qid", "rk")
    }),
    Case("q_phrase_search", Oracle(
      // positional scan over the SAME [a-z0-9]+ token lists: count
      // starting positions where every phrase token matches (overlaps
      // count); generate_series(1, n<1) is [] in DuckDB so short docs
      // need no guard here (Spark's sequence() does — see phraseSearch)
      ("WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "occ AS (" +
        "SELECT 1 AS pid, doc_id, len(list_filter(generate_series(1, len(t)-2), " +
        "i -> t[i] = 'table' AND t[i+1] = 'value' AND t[i+2] = 'part')) AS n_occ FROM d " +
        "UNION ALL SELECT 2, doc_id, len(list_filter(generate_series(1, len(t)-1), " +
        "i -> t[i] = 'fast' AND t[i+1] = 'join')) FROM d " +
        "UNION ALL SELECT 3, doc_id, len(list_filter(generate_series(1, len(t)-2), " +
        "i -> t[i] = 'spark' AND t[i+1] = 'zz' AND t[i+2] = 'never')) FROM d " +
        "UNION ALL SELECT 4, doc_id, len(list_filter(t, x -> x = 'value')) FROM d) " +
        "SELECT CAST(pid AS BIGINT) AS pid, doc_id, CAST(n_occ AS BIGINT) AS n_occ " +
        "FROM occ WHERE n_occ >= 1 ORDER BY pid, doc_id")))((s, dir) => {
      // exact phrase search (r12): four literal phrases — a 3-gram, a
      // 2-gram through the tokenizer's case/punctuation folding, a
      // never-matching 3-gram (absent from the output), and a 1-gram
      // (occurrence count = plain term frequency). Overlap-counted
      // occurrences; oracle scans the same token lists positionally.
      import s.implicits._
      val docs = T(s, dir, "documents")
      val ps = Seq((1L, "table value part"), (2L, "Fast, JOIN!"),
        (3L, "spark zz never"), (4L, "value")).toDF("pid", "phrase")
      Retrieval.phraseSearch(docs, "doc_id", "text", ps, "pid", "phrase")
        .select(col("pid"), col("doc_id"), col("n_occ").cast("bigint").as("n_occ"))
        .orderBy("pid", "doc_id")
    }),
    Case("q_bm25_indexed", Oracle(
      // the indexed path scores IDENTICALLY — one oracle, two plans
      bm25OracleSql))((s, dir) => {
      // the SAME retrieval through the persisted index path: write the
      // term-bucketed inverted index, read it back, score over it —
      // identical output to q_bm25_topk (and the identical oracle), with
      // the df roll-up exchange-free on the bucketed read
      import s.implicits._
      val docs = T(s, dir, "documents")
      Retrieval.writeIndex(docs, "doc_id", "text", "graft_bm25_idx",
        buckets = 8)
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      Retrieval.bm25OverIndex(s.table("graft_bm25_idx"), "doc_id",
          qs, "qid", "qtext", k = 10)
        .orderBy("qid", "rk")
    }),
    Case("q_rrf_fusion", Oracle(
      // both input rankings restated in full (BM25 = the green
      // q_bm25_topk mirror as a nested subquery; coordination = distinct
      // term-overlap counts), fused with the same snapped 1/(60+rk) sum
      ("WITH bm AS (SELECT qid, doc_id, rk FROM (" + bm25OracleSql + ")), " +
        "dt AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "q(qid, qtext) AS (VALUES (1, 'fast hash join'), (2, 'window group query'), " +
        "(3, 'slow table scan'), (4, 'customer order line part'), (5, 'stream batch data')), " +
        "qt AS (SELECT CAST(qid AS BIGINT) AS qid, unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term FROM q), " +
        "ov AS (SELECT qt.qid, dt.doc_id, count(*) AS n_overlap FROM dt JOIN qt USING (term) GROUP BY 1, 2), " +
        "co AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid ORDER BY n_overlap DESC, doc_id) AS INTEGER) AS rk " +
        "FROM ov QUALIFY rk <= 10), " +
        "u AS (SELECT qid, doc_id, rk FROM bm UNION ALL SELECT qid, doc_id, rk FROM co), " +
        "f AS (SELECT qid, doc_id, floor(sum(1.0/(60.0 + rk))/1e-12 + 0.5)*1e-12 AS rrf_score FROM u GROUP BY 1, 2) " +
        "SELECT qid, doc_id, rrf_score, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rk " +
        "FROM f QUALIFY rk <= 10 ORDER BY qid, rk")))((s, dir) => {
      // hybrid retrieval: BM25 (precision) fused with coordination-level
      // term overlap (recall) by reciprocal-rank fusion over the same 5
      // literal queries as q_bm25_topk; both input rankings and the fused
      // scores are fully SQL-mirrorable
      import s.implicits._
      val docs = T(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      val co = Retrieval.coordinationTopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      Retrieval.rrfFusion(Seq(bm, co), "qid", "doc_id", kRrf = 60, topN = 10)
        .orderBy("qid", "rk")
    }),
    Case("q_mmr_rerank", Oracle(mmrOracleSql))((s, dir) => {
      // MMR diversified rerank of the BM25 top-10 (k=5, λ=0.7) with
      // cosine redundancy over the embeddings table — the RAG
      // context-packing step; greedy selection is k unrolled projections
      // of higher-order array expressions, mirrored step-by-step in SQL
      import s.implicits._
      val docs = TR(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      Similarity.mmrRerank(bm.select("qid", "doc_id", "score"),
          "qid", "doc_id", "score", T(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5, lambda = 0.7)
        .orderBy("qid", "rk")
    }),
    // ---- vector search --------------------------------------------------
    Case("q_mean_pool", Oracle(
      // grid-rounded elements make the group sums exact (order-free); the
      // mean division and 1e-6 rounding then mirror deterministically
      ("WITH e AS (SELECT label, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) / 1048576.0) AS emb FROM embeddings), " +
        "u AS (SELECT label, t.i AS pos, emb[t.i] AS val FROM e, UNNEST(generate_series(1, len(emb))) AS t(i)), " +
        "s AS (SELECT label, pos, sum(val) AS sv FROM u GROUP BY label, pos), " +
        "nn AS (SELECT label, count(*) AS nrows FROM e GROUP BY label) " +
        "SELECT s.label, CAST(pos AS BIGINT) AS pos, floor(sv / nrows * 1000000.0 + 0.5) / 1000000.0 AS val, nrows AS n " +
        "FROM s JOIN nn ON s.label = nn.label ORDER BY s.label, pos")))((s, dir) => {
      // per-label centroids via the partial-aggregable array_sum agg.
      // Elements are pre-rounded to the 2^-20 grid, making every partial
      // sum EXACTLY representable -> the sum is identical under ANY
      // addition order (Spark partial-agg order is nondeterministic),
      // which is what lets an aggregate over floats be hash-oracled
      val emb = T(s, dir, "embeddings").withColumn("e",
        transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0 + 0.5) / 1048576.0))
      Similarity.meanPool(emb, Seq("label"), "e")
        .select(col("label"), col("n"),
          posexplode(transform(col("mean"), x => floor(x * 1e6 + 0.5) / 1e6))
            .as(Seq("pos", "val")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          col("val"), col("n"))
        .orderBy("label", "pos")
    }),
    Case("q_quantized_topk", Oracle(
      // codes as in q_quantize; dots of ≤127² × dim values are exactly
      // representable doubles, so summation order cannot matter
      ("WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS ma FROM d), " +
        "qz AS (SELECT vec_id, CASE WHEN ma > 0 THEN list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x * 127.0 / ma + 0.5))) AS DOUBLE)) " +
        "ELSE list_transform(v, x -> 0.0) END AS q FROM m), " +
        "n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM qz), " +
        "qs AS (SELECT vec_id AS q_id, q AS qv, nn AS qn FROM n WHERE vec_id < 5), " +
        "scored AS (SELECT qs.q_id, n.vec_id AS cand_id, " +
        "CASE WHEN sqrt(qs.qn) * sqrt(n.nn) = 0 THEN 0.0 ELSE list_dot_product(qs.qv, n.q) / (sqrt(qs.qn) * sqrt(n.nn)) END AS sim " +
        "FROM n, qs WHERE n.vec_id <> qs.q_id) " +
        "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
        "FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk")))((s, dir) => {
      // two-phase search's prune stage scored entirely on int8 codes:
      // scales cancel in cosine, integer dots are exact, so the full
      // RANKING has a bitwise oracle (unlike float-sum scoring)
      val emb = T(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
        .orderBy("q_id", "rk")
    }),
    Case("q_knn_join", Oracle(
      // full probe == brute force: the q_ann_cosine double-accumulation
      // mirror over a left id clamp
      ("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "l AS (SELECT vec_id AS left_id, vec AS l_vec FROM v WHERE vec_id < 40), " +
        "pairs AS (SELECT l.left_id, v.vec_id AS right_id, " +
        "CASE WHEN sqrt(list_dot_product(l.l_vec, l.l_vec)) * sqrt(list_dot_product(v.vec, v.vec)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(l.l_vec, v.vec) / (sqrt(list_dot_product(l.l_vec, l.l_vec)) * sqrt(list_dot_product(v.vec, v.vec))) END AS sim " +
        "FROM v, l WHERE v.vec_id <> l.left_id) " +
        "SELECT left_id, right_id, sim, CAST(row_number() OVER (PARTITION BY left_id ORDER BY sim DESC, right_id) AS INTEGER) AS rk " +
        "FROM pairs QUALIFY rk <= 3 ORDER BY left_id, rk")))((s, dir) => {
      // corpus×corpus kNN join at FULL probe (nprobe = #centroids), which
      // is exactly brute force — the oracle-able setting; production runs
      // lower nprobe for the IVF recall/cost trade (spec-pinned subset)
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 4)
      Similarity.knnJoin(emb.filter(col("vec_id") < 40), emb, cents,
          "vec_id", "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("left_id", "rk")
    }),
    Case("q_pq_topk", Oracle(
      // the codebook regrows from its closed form; every squared-diff
      // term is bit-identical double arithmetic (float widening exact,
      // centroids on the 1/8 grid), floor'd onto a 1e-9 integer grid and
      // summed as BIGINT — order-free, so encode argmin and ADC ranking
      // mirror exactly
      ("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
        "cb AS (SELECT j.j, i.i, d.d, CAST(((i.i*31 + d.d*7 + j.j*13) % 17) - 8 AS DOUBLE)/8.0 AS c " +
        "FROM generate_series(0,7) j(j) CROSS JOIN generate_series(0,15) i(i) CROSS JOIN generate_series(0,7) d(d)), " +
        "dist AS (SELECT v.vec_id, cb.j, cb.i, " +
        "SUM(CAST(floor((v.e[cb.j*8 + cb.d + 1] - cb.c) * (v.e[cb.j*8 + cb.d + 1] - cb.c) * 1e9) AS BIGINT)) AS d9 " +
        "FROM v CROSS JOIN cb GROUP BY 1, 2, 3), " +
        "code AS (SELECT vec_id, j, i AS code FROM (SELECT vec_id, j, i, " +
        "row_number() OVER (PARTITION BY vec_id, j ORDER BY d9, i) AS rn FROM dist) WHERE rn = 1), " +
        "qd AS (SELECT vec_id AS q_id, j, i, d9 FROM dist WHERE vec_id < 3), " +
        "adc AS (SELECT qd.q_id, c.vec_id AS cand_id, CAST(SUM(qd.d9) AS BIGINT) AS dist9 " +
        "FROM code c JOIN qd ON qd.j = c.j AND qd.i = c.code AND c.vec_id <> qd.q_id " +
        "GROUP BY 1, 2) " +
        "SELECT q_id, cand_id, dist9, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist9, cand_id) AS INTEGER) AS rk " +
        "FROM adc QUALIFY rk <= 5 ORDER BY q_id, rk")))((s, dir) => {
      // product-quantization ADC search over the deterministic synthetic
      // codebook (8 subspaces × 16 centroids × 8 dims): encode, per-query
      // LUT, integer asymmetric distances — every step on the 1e-9 grid,
      // so the full ranking mirrors bitwise in SQL (the oracle regrows
      // the same codebook from its closed form via generate_series)
      val emb = T(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", Similarity.pqSyntheticCodebook(8, 16, 8),
          m = 8, k = 16, topK = 5)
        .orderBy("q_id", "rk")
    }),
    Case("q_quantize", Oracle(
      // same left-to-right arithmetic as Kernels.quantizeI8D; CAST to
      // DOUBLE first (float32 widening is exact)
      ("WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS ma FROM d) " +
        "SELECT vec_id, ma / 127.0 AS scale, " +
        "array_to_string(CASE WHEN ma > 0 THEN list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x * 127.0 / ma + 0.5))) AS INTEGER)) " +
        "ELSE list_transform(v, x -> 0) END, ',') AS q " +
        "FROM m ORDER BY vec_id")))((s, dir) => {
      // int8 embedding quantization — IEEE-exact formula, bitwise oracle
      // (scale + every code); DuckDB mirrors with list_transform
      T(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), col("qs.scale").as("scale"),
          // comma-joined codes: the comparer hashes scalar cells, not arrays
          array_join(col("qs.q"), ",").as("q"))
        .orderBy("vec_id")
    }),
    Case("q_topk_similar", Oracle(
      ("WITH iv AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000, 0)) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, v AS qv FROM iv WHERE vec_id < 10), " +
        "pairs AS (SELECT q.q_id, iv.vec_id AS cand_id, CAST(list_dot_product(q.qv, iv.v) AS BIGINT) AS dot FROM iv, q WHERE iv.vec_id <> q.q_id) " +
        "SELECT q_id, cand_id, dot, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, cand_id) AS INTEGER) AS rk " +
        "FROM pairs QUALIFY rk <= 5 ORDER BY q_id, rk")))((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val iv = emb.select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0)).as("v"))
      val q = iv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pairs = iv.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      // exact-integer dot in double, sequential kernel — DuckDB-comparable
      val dotCol = graft.expressions.native.dotD(col("qv"), col("v"))
      val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("cand_id"))
      pairs.select(col("q_id"), col("vec_id").as("cand_id"), dotCol.cast("long").as("dot"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("cand_id"), col("dot"), col("rk"))
        .orderBy("q_id", "rk")
    }),
    Case("q_ann_cosine", Oracle(annCosineOracleSql))((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy("q_id", "rk")
    }),
    Case("q_ivf_topk", Oracle(
      // the SAME full IVF mirror, with the centroid set = the 16 ids
      // seedCentroids actually picks at the verify scale, committed as
      // literals (the BPE merge-table precedent: Spark computes the
      // model artifact, the oracle takes it as given). Re-derive with
      //   emb.orderBy(xxhash64($"vec_id"), $"vec_id").limit(16)
      // on sf0.01 embeddings. This upgrades q_ivf_topk from rows-only to
      // a full hash compare; xxhash64 ORDER itself stays covered by
      // SimilaritySpec's seedCentroids determinism tests.
      ivfMirrorSql(s"vec_id IN ($IvfSeedIds)")))((s, dir) => {
      // full IVF path: seed centroids -> assign corpus -> probe queries.
      // ORACLE-CHECKED since r14: the oracle takes seedCentroids' 16
      // picks at the verify scale as committed literals (IvfSeedIds — the
      // BPE merge-table pattern) and mirrors the rest of the path exactly
      // like q_ivf_oracle.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 16)
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5), cents,
        "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("q_id", "rk")
    }),
    Case("q_ivf_oracle", Oracle(ivfMirrorSql("vec_id < 16")))((s, dir) => {
      // ORACLE-CHECKED IVF twin: the same ivfAssign → ivfTopK path as
      // q_ivf_topk, but with centroids picked by a DuckDB-expressible rule
      // (vec_id < 16) instead of seedCentroids' xxhash64 order, so the full
      // assignment + probe semantics get a bitwise float-cosine oracle
      // (like q_ann_cosine) that is independent of the IvfSeedIds literal
      // pin q_ivf_topk's oracle relies on.
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5), cents,
        "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("q_id", "rk")
    }),
    Case("q_ann_recall", Oracle(
      // both sides are existing proven mirrors (IVF at nprobe=2, the
      // q_ann_cosine brute force); recall = exact-count division
      (s"WITH ap AS (SELECT q_id, cand_id FROM (${ivfMirrorSql("vec_id < 16", nprobe = 2)})), " +
        s"ex AS (SELECT q_id, cand_id FROM ($annCosineOracleSql)) " +
        "SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact, " +
        "CAST(coalesce(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit, " +
        "CAST(coalesce(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.cand_id = ap.cand_id " +
        "GROUP BY 1 ORDER BY ex.q_id")))((s, dir) => {
      // the ANN quality gate measured in-engine: IVF at nprobe=2 (so
      // recall is honestly < 1 somewhere) against brute-force truth
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      val approx = Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5),
        cents, "vec_id", "embedding", k = 3, nprobe = 2)
      val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
      Similarity.recallAtK(approx.select(col("q_id"), col("cand_id")),
          exact.select(col("q_id"), col("cand_id")), "q_id", "cand_id")
        .orderBy("q_id")
    }),
    Case("q_embed_cov", Oracle(embedCovOracleSql))((s, dir) => {
      // covariance matrix of the first 8 embedding coordinates — the
      // PCA-whitening statistics pass; pcaComponents/pcaProject consume
      // this (PcaSpec), the matrix itself is the oracled stage
      Similarity.embeddingCovariance(T(s, dir, "embeddings"), "embedding", dims = 8)
        .orderBy("i", "j")
    }),
  )
}
