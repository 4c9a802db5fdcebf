package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, scratchDir}
import graft.ops.{Dedup, Layout}
import graft.registry.Check.TimedOnly

/** Timed-only bench entries: surfaces with no DuckDB-oracle form that
  * still deserve a wall-clock row. `Bench` runs them with every other
  * case; `Verify` skips them, and ScalaTest covers their correctness
  * (MultimodalSpec, LayoutSpec, OpsSpec, RowsOnlyPinSpec). */
private[graft] object TimedOnlyCases {

  val cases: Seq[Case] = Seq(
    Case("q_dedup_minhash", TimedOnly)((s, dir) => {
      // corpus-scale word-token LSH timing series (rows-only until r15,
      // now a bench-only entry — the path's correctness home is the
      // oracle-checked q_minhash_oracle clamp, plus the sf0.01 content
      // pin in RowsOnlyPinSpec that keeps the HOT-BUCKET GUARD honest:
      // this 31-word-vocabulary corpus is pathologically self-similar,
      // so the guard actually fires here, which no bounded clamp can
      // mirror in SQL). Recall target: bandsForThreshold(64, 0.9) = 8
      // bands (S-curve (1/8)^(1/8) ≈ 0.77 ≤ 0.9); the exhaustive join
      // would yield ~987k pairs at sf0.1, the guarded path ~25k that
      // keep every clique CONNECTED for cluster-level dedup.
      Dedup.minhashNearDups(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    Case("b_deflate_ratio", TimedOnly)((s, dir) => {
      // compression-ratio quality gate under timing: whole-corpus deflate
      // (level 6) + the standard keep-band filter. No SQL engine can
      // replay deflate, so correctness lives in KernelPropsSpec's
      // invariants; this row keeps the wall-clock series
      T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.expressions.native.deflateRatio(col("text")).as("ratio"))
        .filter(col("ratio") >= 0.25 && col("ratio") <= 0.95)
    }),
    Case("b_dedup_ngram_full", TimedOnly)((s, dir) => {
      // full-corpus char-shingle LSH — the former q_dedup_ngram body; its
      // correctness home is now the oracle-checked q_ngram_jaccard clamp,
      // and this keeps the full-corpus timing series going round-over-round
      Dedup.ngramNearDups(T(s, dir, "documents"), "doc_id", "text",
        ngram = 5, numHashes = 64, threshold = 0.95)
    }),
    Case("b_hashed_score", TimedOnly)((s, dir) => {
      // fastText-style hashed-bigram scoring wall-clock: a 2^14-bucket
      // deterministic weight table through the map-only aggregate fold
      // (murmur3 bucketing isn't SQL-portable, so its correctness home is
      // ClassifierSpec's engine-hash closed form; this keeps a timing row)
      val weights = Array.tabulate(1 << 14)(i => ((i * 2654435761L >>> 18) % 17).toDouble / 8.0 - 1.0)
      graft.ops.Classifier.hashedNgramScore(
        T(s, dir, "documents").filter(col("text").isNotNull),
        "text", weights, bias = -0.2)
        .filter(col("score") > 0.5)
    }),
    Case("b_multimodal_decode", TimedOnly)((s, _) => {
      // REAL ImageIO decode under timing: 256 deterministic in-process
      // PNGs (seeded pixel pattern, ~64x48) through header decode + a
      // histogram-feature extraction + a join — the executor-side batch
      // plumbing MultimodalSpec pins functionally, now with a wall-clock
      // row (decode work dominates; generation is driver-side and tiny)
      val imgs = (0 until 256).map { i =>
        val img = new java.awt.image.BufferedImage(
          64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 48) {
          var x = 0
          while (x < 64) { img.setRGB(x, y, (x * 31 + y * 17 + i * 101) & 0xffffff); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        org.apache.spark.sql.Row(i.toLong, bos.toByteArray)
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(imgs, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.withImageMeta(df, "payload")
        .join(graft.ops.Multimodal.imageHistogramFeatures(df, "payload", bins = 8)
          .select(col("id"), col("features")), Seq("id"))
        .select(col("id"), col("image_meta.width").as("w"), col("features"))
    }),
    Case("b_audio_decode", TimedOnly)((s, _) => {
      // REAL javax.sound WAV decode under timing: 256 in-process PCM
      // tones (seeded freq/amp) through header decode + windowed
      // RMS/ZCR feature extraction + a join — the audio counterpart of
      // b_multimodal_decode
      val wavs = (0 until 256).map { i =>
        val sr = 8000f
        val n = 4000
        val freq = 200.0 + (i % 17) * 50.0
        val amp = 0.2 + (i % 5) * 0.15
        val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
        val data = new Array[Byte](n * 2)
        var j = 0
        while (j < n) {
          val v = (amp * math.sin(2 * math.Pi * freq * j / sr) * 32767).toInt.toShort
          data(2 * j) = (v & 0xff).toByte
          data(2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        org.apache.spark.sql.Row(i.toLong, bos.toByteArray)
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(wavs, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.withAudioMeta(df, "payload")
        .join(graft.ops.Multimodal.audioFeatures(df, "payload", windows = 8)
          .select(col("id"), col("features")), Seq("id"))
        .select(col("id"), col("audio_meta.duration_s").as("dur"), col("features"))
    }),
    Case("b_image_neardup", TimedOnly)((s, _) => {
      // perceptual dedup under timing: 128 base images + a resized copy
      // of each (the dHash-stable transform) -> imageNearDups must pair
      // every (base, copy) through decode + banding + popcount verify
      def png(w: Int, h: Int, seed: Int): Array[Byte] = {
        // seed-dependent 2-D sinusoid FREQUENCIES — dHash is gradient-
        // based, so distinct images must differ in gradient structure,
        // not just constant offsets
        val fx = 1.0 + (seed % 11) * 0.7
        val fy = 0.5 + (seed % 13) * 0.9
        val ph = seed * 0.37
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (128 + 120 * math.sin(
              fx * x * 2 * math.Pi / w + fy * y * 2 * math.Pi / h + ph)).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val rows = (0 until 128).flatMap { i =>
        Seq(org.apache.spark.sql.Row(2L * i, png(64, 48, i)),
          org.apache.spark.sql.Row(2L * i + 1, png(128, 96, i)))
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.imageNearDups(df, "id", "payload", maxDist = 10)
    }),
    Case("b_layout_bucketed", TimedOnly)((s, dir) => {
      // bucketed write + SHUFFLE-FREE bucketed join read-back: both sides
      // bucketed on the join key with the same bucket count, so the timed
      // read plan contains no Exchange (LayoutSpec plan-asserts this
      // property; here it gets a wall-clock row). Tables land in the
      // session warehouse and are overwritten per pass.
      Layout.writeBucketed(T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice")),
        "bench_orders_bucketed", 8, Seq("o_orderkey"))
      Layout.writeBucketed(T(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
        "bench_lineitem_bucketed", 8, Seq("o_orderkey"))
      s.table("bench_lineitem_bucketed")
        .join(s.table("bench_orders_bucketed"), Seq("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice")).as("rev"), max(col("o_totalprice")).as("tp"))
    }),
    Case("b_layout_rangesorted", TimedOnly)((s, dir) => {
      // range-sorted write (disjoint per-file min/max) + a range-predicate
      // read-back that prunes at file/row-group granularity — the timed
      // 1-D layout row next to bucketing's join row
      val tmp = scratchDir(s, "graft_rangesorted")
      graft.ops.Layout.writeRangeSorted(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
        tmp, numFiles = 8, Seq("l_orderkey"))
      s.read.parquet(tmp)
        .filter(col("l_orderkey").between(1000, 2000))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
    }),
  )
}
