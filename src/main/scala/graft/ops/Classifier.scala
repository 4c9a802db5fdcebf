package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring (SURVEY.md §2.6 extension): the
  * classifier step of a curation pipeline — a linear scorer over
  * engineered signal columns, a fastText-style hashed bag-of-n-grams
  * scorer for text, and a fixed-iteration logistic trainer so the
  * weights can be FIT in the engine against weak labels (the
  * CCNet/fastText quality-filter recipe: label a seed corpus, train a
  * cheap linear model, score the crawl).
  *
  * Execution shape: scoring is MAP-ONLY Column arithmetic (zero
  * shuffles, whole-stage codegen; the hashed variant keeps its weight
  * table as a broadcast array literal and folds grams with
  * `aggregate`, never exploding rows). Training is batch gradient
  * descent: each iteration is ONE partial-aggregable gradient sum over
  * the corpus; the weight vector is a handful of scalars on the driver
  * (model-state class, like the k-means centroids in
  * [[Similarity.kmeansRefine]]).
  */
object Classifier {

  /** σ(bias + Σ wᵢ·fᵢ) appended as `scoreCol` — `features` are
    * (column, weight) pairs; any numeric Column works (raw signals,
    * [[TextAnalysis]] outputs, upstream model scores). */
  def scoreLinear(df: DataFrame, features: Seq[(Column, Double)],
                  bias: Double, scoreCol: String = "score"): DataFrame = {
    val z = features.foldLeft(lit(bias)) { case (acc, (c, w)) =>
      acc + c.cast("double") * lit(w)
    }
    df.withColumn(scoreCol, lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** fastText-style text score: whitespace tokens plus adjacent-token
    * bigrams, each hashed (Murmur3, Spark's `hash`) into
    * `weights.length` buckets; the score is σ(bias + mean over grams of
    * w[bucket(gram)]). The weight table rides into the plan as ONE
    * array literal (broadcast with the task binary — keep it
    * model-sized, e.g. 2^12–2^20 buckets); gram folding is an
    * `aggregate` over the in-row gram array, so the whole thing is one
    * codegen'd projection. Empty/null text scores σ(bias). */
  def hashedNgramScore(df: DataFrame, textCol: String,
                       weights: Array[Double], bias: Double,
                       scoreCol: String = "score"): DataFrame = {
    require(weights.nonEmpty)
    val b = weights.length
    val toks = split(trim(col(textCol)), "\\s+")
    val unigrams = when(col(textCol).isNull || trim(col(textCol)) === "",
      array().cast("array<string>")).otherwise(toks)
    // zip_with pads the shorter side with null; the null-right pair must
    // yield null (not a concat_ws-skipped unigram echo) so filter drops it
    val bigrams = filter(
      zip_with(unigrams, slice(unigrams, lit(2), size(unigrams)),
        (a, bb) => when(bb.isNull, lit(null)).otherwise(concat(a, lit(" "), bb))),
      g => g.isNotNull)
    val grams = concat(unigrams, bigrams)
    val wArr = lit(weights)
    val total = aggregate(grams, lit(0.0),
      (acc, g) => acc + element_at(wArr, (pmod(hash(g), lit(b)) + 1).cast("int")))
    // bigrams is empty whenever unigrams is, so this tests size(grams) > 0
    // without building the gram array (and its bigram lambdas) again —
    // a filter on the score inlines this expression, uneliminated
    val z = lit(bias) +
      when(size(unigrams) > 0, total / size(grams)).otherwise(lit(0.0))
    df.withColumn(scoreCol, lit(1.0) / (lit(1.0) + exp(-z)))
  }

  /** Batch-gradient-descent logistic regression over feature columns:
    * minimizes mean log-loss of σ(w₀ + Σ wⱼ·fⱼ) against the 0/1
    * `labelCol` for a FIXED `iterations` count (the curation use wants
    * a calibrated linear ranker after a few sweeps, not convergence
    * machinery). Returns one row: `(bias, w_1 … w_k, n)`.
    *
    * Each iteration aggregates the full gradient in one
    * map-side-combined pass (`k+1` sums — nothing is collected but the
    * gradient itself); the weight update happens on the driver, and the
    * new weights re-enter the plan as literals. `quantum` > 0 snaps
    * each gradient component and weight to that grid, making the fit
    * bit-reproducible across plans/partitionings (summation noise
    * ~1e-16 relative cannot survive a 1e-9 grid). Rows with any null
    * feature or label drop. */
  def fitLogistic(df: DataFrame, features: Seq[Column], labelCol: String,
                  learningRate: Double = 1.0, iterations: Int = 5,
                  quantum: Double = 1e-9): DataFrame = {
    require(iterations >= 1 && learningRate > 0)
    val k = features.size
    def snap(x: Double) = if (quantum > 0) math.floor(x / quantum + 0.5) * quantum else x
    val cols = features.zipWithIndex.map { case (c, i) => c.cast("double").as(s"f_$i") }
    val base = df.select(cols :+ col(labelCol).cast("double").as("y"): _*)
      .na.drop()
    var w = Array.fill(k + 1)(0.0) // w(0) = bias
    var n = 0L
    for (_ <- 1 to iterations) {
      val z = (1 to k).foldLeft(lit(w(0))) { (acc, j) =>
        acc + col(s"f_${j - 1}") * lit(w(j))
      }
      val err = (lit(1.0) / (lit(1.0) + exp(-z))) - col("y")
      val aggs = sum(err).as("g_0") +:
        (1 to k).map(j => sum(err * col(s"f_${j - 1}")).as(s"g_$j")) :+
        count(lit(1)).as("n")
      val row = base.agg(aggs.head, aggs.tail: _*).head()
      n = row.getAs[Long]("n")
      require(n > 0, "fitLogistic: no complete rows to fit on")
      w = w.zipWithIndex.map { case (wj, j) =>
        snap(wj - learningRate * snap(row.getAs[Double](s"g_$j")) / n)
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val out = Seq((w(0), w.drop(1).toSeq, n)).toDF("bias", "w", "n")
    out.select(col("bias") +:
      (1 to k).map(j => col("w").getItem(j - 1).as(s"w_$j")) :+ col("n"): _*)
  }

  /** Exact ROC-AUC of a score against a 0/1 label — the evaluation loop
    * of classifier-based filtering ("did retraining the quality model
    * actually rank good documents higher?"). Tie-correct Mann–Whitney
    * form: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ sums the AVERAGE
    * ascending rank of the positives (tied scores share their tie
    * group's mean rank — the standard trapezoidal-ROC value).
    *
    * Scale shape: one partial-aggregable exchange collapses the corpus
    * to a per-DISTINCT-score tally `(score, n, n_pos)`; cumulative
    * counts over that table use the [[Sketches.globalRank]] bucketed
    * decomposition (score quantile-buckets, an nBuckets-row offset
    * window, per-bucket running sums — no corpus-scale single-reducer
    * window even when every score is distinct). All rank arithmetic is
    * integral (average ranks ride DOUBLED, so `.5` ties stay exact) and
    * sums run in DECIMAL(38,0) — addition-order-free, identical under
    * any partitioning; only the final one-row ratio runs in doubles,
    * floor-rounded on the 1e-9 grid. Pre-round the score (e.g.
    * `round(σ, 6)`) when a second engine must replay the ranking.
    *
    * Returns one row `(n_pos, n_neg, auc)`; auc null when either class
    * is empty. Rows with null score/label or a label outside {0,1} drop. */
  def aucROC(df: DataFrame, scoreCol: String, labelCol: String,
             nBuckets: Int = 64, exact: Boolean = true): DataFrame =
    aucROCBy(df, Nil, scoreCol, labelCol, nBuckets, exact)

  /** [[aucROC]] per stratum — one AUC row per distinct `groupCols`
    * combination (per-language / per-source model evaluation). Ranks are
    * computed WITHIN each group, but the quantile boundaries stay global
    * (one boundary aggregate; bucket order respects score order inside
    * every group, so within-group ranks are still exact). The offsets
    * table grows to |groups|×nBuckets rows and broadcasts — keep the
    * stratum count model-sized (languages, sources), not corpus-sized.
    * Groups whose rows all carry one class emit a null AUC. */
  def aucROCBy(df: DataFrame, groupCols: Seq[String],
               scoreCol: String, labelCol: String,
               nBuckets: Int = 64, exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val g = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull &&
        groupCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .select(gcols ++ Seq(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("double").as("__y")): _*)
      .filter(col("__y") === 0.0 || col("__y") === 1.0)
      .groupBy(gcols :+ col("__s"): _*)
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).cast("long").as("__pos"))
    // bucketed ascending cumulative count: pinned so the bucket-size and
    // rank passes read one materialization (the globalRank contract)
    val bucketed = Checkpoints.pinned(
      Sketches.quantileBuckets(g, "__s", nBuckets, "__b", exact))
    val offs = bucketed.groupBy(gcols :+ col("__b"): _*)
      .agg(sum(col("__cnt")).as("__bn"))
      .withColumn("__off", coalesce(
        sum(col("__bn")).over(Window.partitionBy(gcols: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = bucketed
      .join(broadcast(offs.select(gcols ++ Seq(col("__b"), col("__off")): _*)),
        groupCols :+ "__b")
      .withColumn("__run", sum(col("__cnt")).over(
        Window.partitionBy(gcols :+ col("__b"): _*).orderBy(col("__s"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      // doubled average 1-based rank of the tie group: rows strictly
      // before it ×2, plus (cnt + 1) — integral, so decimal sums are exact
      .withColumn("__r2",
        (col("__off") + col("__run") - col("__cnt")) * 2 + col("__cnt") + 1)
    val agg = ranked.groupBy(gcols: _*).agg(
      sum(col("__pos")).as("__np"),
      sum(col("__cnt") - col("__pos")).as("__nn"),
      sum((col("__pos") * col("__r2")).cast("decimal(38,0)")).as("__r2p"))
    agg.select(gcols ++ Seq(
      coalesce(col("__np"), lit(0L)).as("n_pos"),
      coalesce(col("__nn"), lit(0L)).as("n_neg"),
      when(col("__np") > 0 && col("__nn") > 0,
        floor((col("__r2p").cast("double") / 2.0
            - col("__np").cast("double") * (col("__np").cast("double") + 1.0) / 2.0)
          / (col("__np").cast("double") * col("__nn").cast("double")) * 1e9) / 1e9)
        .as("auc")): _*)
  }

  /** Calibration / reliability table of a [0, 1] score against a 0/1
    * label: `nBins` equal-width probability bins, each reporting volume,
    * positive count, empirical positive rate, and mean predicted score —
    * the "does score 0.8 mean 80%?" audit behind every
    * threshold-at-a-probability curation rule. Bins with no rows are
    * absent (a corpus-stats consumer left-joins a bin spine if it needs
    * zeros).
    *
    * Scale shape: MAP-ONLY bin assignment + one partial-aggregable
    * `nBins`-group exchange. The mean score accumulates as a LONG sum of
    * 2^-20-grid-snapped values (the `q_mean_pool` idiom) — exact at any
    * row count and addition-order-free — and both means emit
    * floor-rounded on the 1e-6 grid, so a second engine replays them
    * bit-for-bit. Null score/label and labels outside {0,1} drop;
    * scores clamp into [0, 1]. */
  def calibrationTable(df: DataFrame, scoreCol: String, labelCol: String,
                       nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val s = least(greatest(col(scoreCol).cast("double"), lit(0.0)), lit(1.0))
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .filter(col(labelCol).cast("double") === 0.0 ||
        col(labelCol).cast("double") === 1.0)
      .select(
        least(floor(s * nBins).cast("long"), lit(nBins - 1L)).as("bin"),
        floor(s * 1048576.0 + 0.5).cast("long").as("__s20"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__s20")).as("__ssum"))
      .select(col("bin"), col("n"), col("n_pos"),
        (floor(col("n_pos").cast("double") / col("n") * 1e6) / 1e6)
          .as("pos_rate"),
        (floor(col("__ssum").cast("double") / col("n") / 1048576.0 * 1e6) / 1e6)
          .as("mean_score"))
  }

  /** Two-feature ordinary-least-squares fit, ENTIRELY in-plan: the
    * baseline every learned quality scorer is judged against ("does a
    * linear model on two cheap features already explain it"), and the
    * effect-size readout χ²/MI can't give. Returns ONE row
    * `(n, b0, b1, b2, r2)` for `y = b0 + b1·x1 + b2·x2`.
    *
    * The normal equations of a 3-parameter model are a 3×3 symmetric
    * system whose entries are plain moment sums — so the solve is
    * CRAMER'S RULE as fixed double arithmetic over exact DECIMAL
    * moments (the [[Sketches.correlationMatrix]] discipline: inputs
    * snapped to 1e-6, sums order-free, closed form floor-rounded at
    * 1e-9). No driver collect, no iteration, ONE partial-aggregable
    * exchange carrying a single row; exactly SQL-mirrorable. Singular
    * (collinear) designs emit null coefficients; R² is null when
    * SST = 0. Rows with a null y/x drop (listwise). For p > 2 features
    * use [[fitLogistic]]-style iteration or solve the collected moment
    * matrix — Cramer past 4×4 loses both stability and readability. */
  def fitOLS2(df: DataFrame, yCol: String, x1Col: String,
              x2Col: String): DataFrame = {
    val ok = df.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
      col(x2Col).isNotNull)
    // pass 1: 1e-6-snapped means. Shifting by ANY constants leaves the
    // slopes of an intercept-bearing fit invariant, and NEAR-centered
    // data is what makes the Cramer solve numerically reproducible: on
    // raw moments the determinant cancels catastrophically (≈1000×
    // amplification of the decimal→double cast's last-ulp drift — a
    // measured cross-engine 9th-decimal flip); on shifted moments the
    // first-order sums are ~0 and det(A) ≈ n·(S11·S22 − S12²) with no
    // cancellation, so both engines land on the same 1e-6-grid outputs.
    def snap6(c: Column) = floor(c * 1e6 + lit(0.5)) / 1e6
    def dec(c: Column) = snap6(c).cast("decimal(18,6)")
    // means from EXACT decimal sums (a plain double avg is
    // addition-order-dependent), snapped to the 1e-6 grid
    def mean(c: String) =
      snap6(sum(dec(col(c))).cast("double") / count(lit(1)))
    val means = ok.agg(mean(x1Col).as("m1"), mean(x2Col).as("m2"),
      mean(yCol).as("my"))
    val shifted = ok.crossJoin(broadcast(means))
      .select((col(x1Col) - col("m1")).as("c1"),
        (col(x2Col) - col("m2")).as("c2"),
        (col(yCol) - col("my")).as("cy"),
        col("m1"), col("m2"), col("my"))
    val m = shifted.groupBy(col("m1"), col("m2"), col("my")).agg(
      count(lit(1)).as("n"),
      sum(dec(col("c1"))).as("s1"), sum(dec(col("c2"))).as("s2"),
      sum(dec(col("cy"))).as("sy"),
      sum(dec(col("c1")) * dec(col("c1"))).as("s11"),
      sum(dec(col("c1")) * dec(col("c2"))).as("s12"),
      sum(dec(col("c2")) * dec(col("c2"))).as("s22"),
      sum(dec(col("c1")) * dec(col("cy"))).as("s1y"),
      sum(dec(col("c2")) * dec(col("cy"))).as("s2y"),
      sum(dec(col("cy")) * dec(col("cy"))).as("syy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    // det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] and the three
    // right-hand-side substitutions — all 2-level minors, fixed order
    def det3(a: Column, b: Column, c: Column, p: Column, q: Column, r: Column,
             u: Column, v: Column, w: Column): Column =
      a * (q * w - r * v) - b * (p * w - r * u) + c * (p * v - q * u)
    val dA = det3(n, d("s1"), d("s2"), d("s1"), d("s11"), d("s12"),
      d("s2"), d("s12"), d("s22"))
    val d0 = det3(d("sy"), d("s1"), d("s2"), d("s1y"), d("s11"), d("s12"),
      d("s2y"), d("s12"), d("s22"))
    val d1 = det3(n, d("sy"), d("s2"), d("s1"), d("s1y"), d("s12"),
      d("s2"), d("s2y"), d("s22"))
    val d2 = det3(n, d("s1"), d("sy"), d("s1"), d("s11"), d("s1y"),
      d("s2"), d("s12"), d("s2y"))
    val b1 = d1 / dA; val b2 = d2 / dA
    // back-transform the intercept to original coordinates
    val b0 = d0 / dA + col("my") - b1 * col("m1") - b2 * col("m2")
    // normal-equation identity on the shifted frame
    val sse = d("syy") - (d0 / dA) * d("sy") - b1 * d("s1y") - b2 * d("s2y")
    val sst = d("syy") - d("sy") * d("sy") / n
    def r6(c: Column) = floor(c * 1e6 + lit(0.5)) / 1e6
    val allPresent = Seq("s1", "s2", "sy", "s11", "s12", "s22", "s1y",
      "s2y", "syy").map(col(_).isNotNull).reduce(_ && _)
    val solvable = col("n") >= 3 && allPresent && abs(dA) > lit(1e-9)
    m.select(col("n"),
      when(solvable, r6(b0)).as("b0"),
      when(solvable, r6(b1)).as("b1"),
      when(solvable, r6(b2)).as("b2"),
      when(solvable && sst > 0, r6(lit(1.0) - sse / sst)).as("r2"))
  }

  /** Isotonic calibration of a [0,1] score against a binary label via
    * pool-adjacent-violators, BINNED: the monotone-nondecreasing step
    * function closest (weighted least squares) to the per-bin observed
    * rates — the standard post-hoc calibrator for quality/relevance
    * classifiers when Platt's sigmoid shape is wrong. Scores bin into
    * `bins` equal-width buckets first, so the fit is over MODEL-SIZED
    * state (≤ bins rows) no matter the corpus.
    *
    * PAV is solved IN-PLAN via the minimax closed form
    * `iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k)` — the
    * textbook identity for weighted isotonic regression. Pooled means
    * come from prefix sums over the bin table; the j×k grid is a
    * bins²-row self-join (≤ 1024 rows at the default 32-cap) with two
    * bounded windows (suffix min over k, prefix max over j) — every
    * stage after the one corpus aggregation is model-sized, nothing
    * collects to the driver, and the whole computation mirrors in SQL
    * with identical windows. Rates are exact-count divisions (identical
    * doubles on any engine); `iso_rate` is floor-rounded at 1e-9.
    *
    * Output: one row per NON-EMPTY bin —
    * `(bin, n, rate, iso_rate)`, `bin` 0-based, rates in [0,1];
    * `iso_rate` is nondecreasing in `bin` by construction. Rows with a
    * null score/label, or a score outside [0,1], drop (scores are
    * probabilities — out-of-range input is a caller bug surfaced by the
    * count, not silently clamped). */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
                          bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 32, s"bins must be in [2, 32], got $bins")
    val s = col(scoreCol).cast("double")
    val binned = df
      .filter(s.isNotNull && col(labelCol).isNotNull && s >= 0 && s <= 1)
      .select(least(floor(s * bins), lit(bins - 1)).cast("int").as("bin"),
        col(labelCol).cast("double").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("double").as("sy"))
    // prefix sums over the ≤bins-row table (single-partition window over
    // model-sized state — the ksStatistic cell-table class)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pref = binned
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cy", sum(col("sy")).over(w))
    val j = pref.select(col("bin").as("j"), (col("cn") - col("n")).as("cnj"),
      (col("cy") - col("sy")).as("cyj"))
    val k = pref.select(col("bin").as("k"), col("cn").as("cnk"),
      col("cy").as("cyk"))
    // pooled mean A(j,k) over bins j..k for every j ≤ k (bins² rows)
    val grid = j.join(k, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cyk") - col("cyj")) / (col("cnk") - col("cnj")).cast("double"))
          .as("a"))
    // M(j,i) = min_{k≥i} A(j,k): suffix min per j; evaluated at i = k
    val wSuf = org.apache.spark.sql.expressions.Window.partitionBy(col("j"))
      .orderBy(col("k").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val m = grid.withColumn("mji", min(col("a")).over(wSuf))
      .select(col("j"), col("k").as("i"), col("mji"))
    // iso(i) = max_{j≤i} M(j,i): prefix max per i (j ≤ i holds by grid)
    val iso = m.groupBy(col("i")).agg(max(col("mji")).as("iso_raw"))
    binned.join(iso, binned("bin") === iso("i"))
      .select(col("bin"), col("n"),
        (col("sy") / col("n").cast("double")).as("rate"),
        (floor(col("iso_raw") * 1e9 + lit(0.5)) / 1e9).as("iso_rate"))
  }

  /** Wilson score interval for per-group binomial rates — the
    * small-sample-honest confidence interval ("is this source's 92%
    * keep-rate on 13 documents actually better than that one's 85% on
    * 40,000"): unlike the normal (Wald) interval it never exits [0,1]
    * and stays calibrated at small n. One partial-aggregable pass;
    * interval arithmetic in double over exact counts with a pinned
    * operation order, floor-rounded at 1e-9.
    *
    * Output: one row per group — `(groupCols…, n, k, rate, lo, hi)`. */
  def wilsonInterval(df: DataFrame, groupCols: Seq[String], successCol: Column,
                     z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(successCol, 1L).otherwise(0L)), lit(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    def r9(c: Column) = floor(c * 1e9 + lit(0.5)) / 1e9
    agg.select(groupCols.map(col) ++ Seq(col("n"), col("k"),
      r9(p).as("rate"), r9(center - half).as("lo"),
      r9(center + half).as("hi")): _*)
  }

  /** Cohen's kappa between two categorical label columns — the
    * chance-corrected agreement score behind every labeling-pipeline
    * audit: "do the two annotators (or the model and the human rater, or
    * yesterday's classifier and today's) actually agree beyond what
    * label-frequency luck predicts". Raw accuracy rewards agreeing on the
    * majority class; κ = (p_o − p_e)/(1 − p_e) discounts it, where p_o is
    * observed agreement and p_e = Σ_c p₁(c)·p₂(c) the chance agreement of
    * the two marginal distributions.
    *
    * Rows where either label is null drop (no rating to compare). The
    * computation is three partial-aggregable passes (the two marginal
    * count tables plus the observed-agreement scalar), every intermediate
    * bounded by the label VOCABULARY (model-sized, the chi-square class);
    * p_o/p_e/κ run in double over exact integer counts with identical
    * operation order on any engine, floor-rounded at 1e-9. κ is null when
    * p_e = 1 (both raters constant — agreement is undefined, not
    * perfect).
    *
    * Returns ONE row: `(n, p_o, p_e, kappa)`. */
  def cohensKappa(df: DataFrame, label1Col: String,
                  label2Col: String): DataFrame = {
    val rated = df
      .filter(col(label1Col).isNotNull && col(label2Col).isNotNull)
    // p_e needs BOTH marginals joined on the label — summing n₁·n₂ over
    // diagonal CELLS would miss a label both raters use but never agree
    // on (cell (c,c) absent while n₁(c)·n₂(c) > 0)
    val m1 = rated.groupBy(col(label1Col).as("c")).agg(count(lit(1)).as("n1"))
    val m2 = rated.groupBy(col(label2Col).as("c")).agg(count(lit(1)).as("n2"))
    val peNum = m1.join(m2, Seq("c"))
      .agg(coalesce(sum(col("n1").cast("decimal(38,0)") *
          col("n2").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("pe_num"))
    val obs = rated.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col(label1Col) === col(label2Col), 1L).otherwise(0L)),
        lit(0L)).as("agree"))
    def r9(c: Column) = floor(c * 1e9 + lit(0.5)) / 1e9
    // null-guarded divisor: n = 0 would ANSI-throw on the CSE-hoisted
    // division even though every published column is n > 0-guarded
    val nD = when(col("n") > 0, col("n").cast("double"))
    val po = col("agree").cast("double") / nD
    val pe = col("pe_num").cast("double") / (nD * nD)
    // one-row × one-row broadcast cross join (the established pattern)
    obs.crossJoin(broadcast(peNum))
      .select(col("n"),
        when(col("n") > 0, r9(po)).as("p_o"),
        when(col("n") > 0, r9(pe)).as("p_e"),
        when(col("n") > 0 && r9(pe) < 1.0,
          r9((r9(po) - r9(pe)) / (lit(1.0) - r9(pe)))).as("kappa"))
  }
}
