package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.native

/** Deduplication operators for LLM-pipeline data (BASELINE.json mandate,
  * SURVEY.md §2.6). All shapes chosen for 100 TB scale: exact dedup is a
  * single hash shuffle on the key; near-dup variants avoid all-pairs joins
  * by bucketing (band-hash for MinHash, hamming-prefix for SimHash) so the
  * candidate join is equi-join-shaped and AQE can handle skew.
  */
object Dedup {

  /** Exact dedup on a key subset — one shuffle, map-side combine via
    * first(). Keeps an arbitrary-but-deterministic representative (min id). */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val keys = keyCols.map(col)
    df.groupBy(keys: _*)
      .agg(min(col(idCol)).as(idCol))
  }

  /** [[exact]] that PRESERVES multiplicity: one representative (min id)
    * per key group plus `n_dups` (group size) and, when `weightCol` is
    * given, `weight` (the group's weight sum; null weights count 0) —
    * the "dedup but upweight" form. Published dedup studies deduplicate
    * then REWEIGHT so the corpus distribution is preserved while the
    * redundant bytes are not; dropping multiplicity at dedup time makes
    * that impossible downstream ([[graft.ops.Sampling.temperatureWeights]]
    * and loss-weighting both consume `n_dups`/`weight` directly).
    * Same single partial-aggregable exchange as [[exact]]. */
  def exactWithMultiplicity(df: DataFrame, keyCols: Seq[String], idCol: String,
                            weightCol: Option[String] = None): DataFrame = {
    val keys = keyCols.map(col)
    val aggs = min(col(idCol)).as(idCol) +: count(lit(1)).as("n_dups") +:
      weightCol.map(w =>
        sum(coalesce(col(w).cast("double"), lit(0.0))).as("weight")).toSeq
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct key combinations (pure dropDuplicates shape). */
  def distinctKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(keyCols.map(col): _*).dropDuplicates()

  /** Content fingerprint for exact-text dedup at scale: dedup on a 128-bit
    * digest instead of shuffling full document text. (Single definition —
    * delegates to TextAnalysis so the two surfaces cannot diverge.) */
  def fingerprint(text: Column): Column = TextAnalysis.fingerprintMd5(text)

  /** Corpus-wide UNIT-level exact dedup, keep-first (the C4-style pass:
    * a paragraph/line appearing anywhere earlier in the corpus is deleted
    * from every later document; the first occurrence — smallest
    * `(idCol, position)` — survives in place). Complements
    * [[Boilerplate.removeFrequentLines]]: that drops units frequent
    * across MANY documents from ALL of them; this keeps exactly one copy
    * of every unit regardless of frequency. Documents reassemble in
    * original order; documents left with no surviving units drop (same
    * contract as Boilerplate). Units shorter than `minUnitLength` are
    * exempt — never deduplicated — so empty segments from consecutive
    * delimiters (and, at higher settings, one-word lines) keep their
    * structural role instead of surviving only at their corpus-first
    * position.
    *
    * Scale shape — two exchanges, like Boilerplate: (1) winner selection,
    * a window keyed by the unit's 128-bit md5 whose `row_number ≤ 1`
    * compiles to `WindowGroupLimit` — every map task pre-prunes to one
    * row per unit hash before the shuffle, so a million-fold repeated
    * unit ships ≤ #map-partitions rows, never a million (md5-collision
    * identification, the project-wide convention for unit keys);
    * (2) order-preserving reassembly keyed by doc id (`array_sort` on
    * collected (pos, unit) structs keeps the aggregate partial-able). */
  def dedupUnitsKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          delim: String = "\n", joinSep: String = "\n",
                          minUnitLength: Int = 1,
                          cleanCol: String = "text_clean"): DataFrame = {
    // ONE pass: an exempt unit gets a PER-OCCURRENCE-unique window key
    // ((id, pos) is unique), so it always wins its singleton group and
    // survives in place — a separate exempt branch would union a second
    // filter over the same explode and re-scan the corpus text
    val unitKey = when(length(col("__u")) >= minUnitLength,
        md5(col("__u").cast("binary")))
      .otherwise(md5(concat(col(idCol).cast("string"), lit(":"),
        col("__pos").cast("string"), lit(":"), col("__u")).cast("binary")))
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), delim)).as(Seq("__pos", "__u")))
      .withColumn("__h", unitKey)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__u")))),
        x => x.getField("__u")), joinSep).as(cleanCol))
  }

  /** Corpus-wide duplicated k-token SPAN excision, keep-first — the
    * windowed form of exact-substring dedup (Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" /
    * RefinedWeb's repeated-span scrub): every k-consecutive-token window
    * that occurred EARLIER in the corpus (global `(idCol, position)`
    * order) has its k tokens removed from the later document; the first
    * occurrence survives in place. Complements
    * [[dedupUnitsKeepFirst]] at sub-unit granularity: a sentence
    * syndicated into otherwise-unique paragraphs is excised without
    * touching the rest of the line, and a duplicated run of m ≥ k tokens
    * is fully covered by its overlapping windows.
    *
    * Output is whitespace-NORMALIZED (tokens rejoin with single spaces
    * — the usual contract after token-level surgery); documents left
    * with no surviving tokens drop (the [[dedupUnitsKeepFirst]] /
    * Boilerplate emptied-doc contract); null-text rows drop. Docs
    * shorter than k tokens carry no windows and pass through (modulo
    * whitespace normalization).
    *
    * Scale shape — the honest cost of exact-substring dedup, linear in
    * corpus tokens: (1) winner selection by the partial-aggregable
    * `min(struct(doc, position))` per span key — a hot span (legal
    * boilerplate embedded mid-line, a syndicated lede occurring tens of
    * millions of times post-unit-dedup) is combined MAP-SIDE, so no
    * single reducer ever ranks all its occurrences (the skew guard a
    * `row_number` window over the key cannot have); span keys occurring
    * once — the vast majority after unit dedup — drop at this step, so
    * (2) the non-winner mark is an equi-join of the window table against
    * only the genuinely-duplicated keys: AQE broadcasts that side when
    * small and skew-splits the sort-merge when not, either way hot keys
    * are subdivided, not serialized; (3) removal positions are
    * span-starts exploded ×k anti-joined against the token table;
    * (4) order-preserving reassembly keyed by doc id, partial-able
    * `array_sort(collect_list)` like every reassembly in this file. The
    * shared tokenized `base` feeds both the token and the window table
    * and is pinned (eager checkpoint — never a leaked cacheManager
    * entry; see [[Checkpoints]]) so the corpus is scanned + split
    * exactly once.
    * At 100 TB, run AFTER unit-level dedup so syndication-heavy mass
    * dies at unit granularity first and only residual spans pay the
    * token-level exchange. */
  def dedupSpansKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, cleanCol: String = "text_clean"): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val toksArr = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    // feeds BOTH the token table and the window table — PINNED (eager
    // checkpoint, Checkpoints scaladoc), or the corpus text is read and
    // re-tokenized once per branch. Pinned rather than persisted so the
    // function leaks nothing into the session cacheManager (r10 verdict:
    // a bare persist here is unreleasable — the caller never gets a
    // handle); the pin's storage lives exactly as long as the returned
    // frame does.
    val base = Checkpoints.pin(df.filter(col(textCol).isNotNull)
      .select(col(idCol), toksArr.as("__toks"))).df
    val toks = base.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    // one window key per start position (1-based slice i covers 0-based
    // token positions i-1 .. i+k-2; posexplode re-0-bases the starts)
    // ALSO pinned: the window table feeds winner selection AND the
    // non-winner mark join — without materialization the per-window md5
    // pass (the expensive map work) runs twice
    val wins = Checkpoints.pin(base.filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(
          transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
            i => md5(array_join(slice(col("__toks"), i, lit(k)), " ").cast("binary"))))
        .as(Seq("__wpos", "__wkey")))).df
    // keep-first winner per span key: struct ordering is (doc, position) —
    // identical semantics to the old `row_number` window's orderBy, minus
    // its all-occurrences-on-one-reducer skew hazard
    val dupWinners = wins.groupBy(col("__wkey"))
      .agg(min(struct(col(idCol), col("__wpos"))).as("__w1"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__wkey"), col("__w1"))
    val removed = wins.join(dupWinners, Seq("__wkey"))
      .filter(struct(col(idCol), col("__wpos")) =!= col("__w1"))
      .select(col(idCol).as("__rid"),
        explode(sequence(col("__wpos"), col("__wpos") + (k - 1))).as("__rpos"))
      .distinct()
    toks
      .join(removed,
        col(idCol) === col("__rid") && col("__pos") === col("__rpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        x => x.getField("__tok")), " ").as(cleanCol))
  }

  /** Character k-shingles of a normalized document — a map-only expression
    * (sequence + transform), no explode/shuffle. */
  def shingles(text: Column, k: Int = 5): Column = {
    val norm = lower(text)
    array_distinct(transform(
      sequence(lit(0), greatest(length(norm) - k, lit(0))),
      i => norm.substr(i + 1, lit(k))))
  }

  /** MinHash signature (n hashes) over whitespace tokens — a single native
    * kernel pass (see `Kernels.minhashSig`); deterministic across the
    * cluster, no per-element interpreted lambdas. */
  def minhashSignature(text: Column, numHashes: Int = 16): Column =
    native.minhashSig(text, numHashes)

  /** Pick the band count whose LSH S-curve threshold `(1/b)^(1/r)` sits
    * closest to (at or below) the requested Jaccard threshold: pairs AT the
    * threshold collide in ≥1 band with probability ≥ 1-1/e ≈ 63%, and
    * recall climbs steeply above it. More bands = higher recall + more
    * candidates; this helper picks the cheapest banding that doesn't
    * undercut recall at the caller's threshold. */
  def bandsForThreshold(numHashes: Int, threshold: Double): Int = {
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val ok = divisors.filter { b =>
      math.pow(1.0 / b, b.toDouble / numHashes) <= threshold
    }
    if (ok.nonEmpty) ok.min else numHashes
  }

  /** Probability that a pair with TRUE Jaccard `s` collides in ≥ 1 LSH
    * band under `(bands, numHashes/bands)` banding — the S-curve
    * `1 − (1 − s^r)^b`. Closed-form, shared by [[bandsForRecall]] and
    * callers sizing a run; BAND recall only — the estimate-threshold
    * filter sheds additionally near the threshold (see
    * [[lshRecallAudit]], which measures the combined effect). */
  def bandCollisionProb(numHashes: Int, bands: Int, s: Double): Double = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    1.0 - math.pow(1.0 - math.pow(s, r), bands)
  }

  /** Inverse S-curve banding: the CHEAPEST band count (fewest bands =
    * fewest candidate pairs = cheapest join) whose band-collision
    * probability AT `threshold` reaches `targetRecall` — the knob
    * [[bandsForThreshold]] doesn't give you: that helper guarantees only
    * the 1−1/e ≈ 0.63 floor at the threshold, which [[lshRecallAudit]]
    * honestly measures; when the audit says the floor is not enough,
    * re-band with this and re-audit. Recall at fixed `numHashes` rises
    * monotonically with bands (shorter bands collide more), so the first
    * divisor that clears the target is optimal.
    *
    * Throws — with the smallest sufficient `numHashes` in the message —
    * when no divisor reaches the target: more bands of length 1 are the
    * ceiling `1−(1−s)^n`, and past it only more hashes help. NOTE the
    * returned banding raises BAND recall only; pairs whose ESTIMATE
    * falls below `threshold` are still filtered after the band join
    * (±1/√numHashes noise — at-threshold pairs pass ~50%), so a target
    * recall for pairs AT the threshold also needs more hashes, not just
    * more bands. Audit the result: the knob and the measurement
    * ([[lshRecallAudit]]) are two halves of one loop. */
  def bandsForRecall(numHashes: Int, threshold: Double,
                     targetRecall: Double): Int = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.find(b =>
      bandCollisionProb(numHashes, b, threshold) >= targetRecall)
      .getOrElse {
        val enough = Iterator.iterate(numHashes * 2)(_ * 2)
          .take(16)
          .find(n => 1.0 - math.pow(1.0 - threshold, n) >= targetRecall)
        throw new IllegalArgumentException(
          s"bandsForRecall: targetRecall=$targetRecall at threshold=" +
            s"$threshold is unreachable with numHashes=$numHashes " +
            s"(ceiling ${1.0 - math.pow(1.0 - threshold, numHashes)})" +
            enough.map(n => s" — raise numHashes to ≥ $n").getOrElse(""))
      }
  }

  /** LSH band hashes for a MinHash signature: split the signature into
    * bands and hash each (element i = hash of band i). Documents sharing
    * any band hash are candidates; join on (band_idx, band_hash) — an
    * equi-join, no cross product. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** `posexplode` of a [[minhashBands]] array, which is never null or
    * empty, so the `_outer` form yields the same rows. An inner generate
    * would make the optimizer infer `size(bands) > 0` and push it below the
    * projection that builds the array: every band re-hashed per row in a
    * filter (and, over a signature computed in the same stage, the MinHash
    * kernel run again). */
  private def explodeBands(bands: Column): Column = posexplode_outer(bands)

  /** Near-duplicate candidate pairs via MinHash LSH: band-bucket equi-join,
    * then exact Jaccard on the signatures to filter false positives.
    * Never materializes an all-pairs product. `bands = 0` (the default)
    * auto-selects via [[bandsForThreshold]] — the cheapest banding whose
    * S-curve clears `threshold`, so pairs at the threshold collide with
    * ≥ 1-1/e probability. The default path collapses IDENTICAL-signature
    * groups to linear min-id star pairs (certain candidates, never shed)
    * and guards the remaining band buckets at `maxBucket` width (see
    * [[nearDupsBySignature]]). NOTE on pair-level semantics: identical-sig
    * groups of 3+ emit a star, not all pairs, and buckets wider than
    * `maxBucket` SHED distinct-sig pair recall inside the split
    * (cluster-level dedup via [[Clusters]] is preserved — cliques stay
    * connected); a consumer that needs the exhaustive pair list
    * (reporting, threshold sweeps) must pass `maxBucket = Int.MaxValue`,
    * which disables BOTH the collapse and the guard and accepts the
    * quadratic hot-bucket cost. On a corpus of distinct signatures with
    * no over-cap bucket the two paths are bit-identical. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, bands: Int = 0,
                      threshold: Double = 0.7,
                      maxBucket: Int = 64): DataFrame =
    nearDupsBySignature(df.filter(col(textCol).isNotNull), idCol,
      minhashSignature(col(textCol), numHashes),
      numHashes, resolveBands(numHashes, bands, threshold), threshold, maxBucket)

  /** n-gram (character shingle) Jaccard near-dups — same LSH pipeline over
    * shingle MinHash signatures; estimates shingle-set Jaccard.
    * `bands = 0` auto-selects like [[minhashNearDups]]. */
  def ngramNearDups(df: DataFrame, idCol: String, textCol: String,
                    ngram: Int = 5, numHashes: Int = 16, bands: Int = 0,
                    threshold: Double = 0.7,
                    maxBucket: Int = 64): DataFrame =
    nearDupsBySignature(df.filter(col(textCol).isNotNull), idCol,
      native.minhashSigShingles(lower(col(textCol)), ngram, numHashes),
      numHashes, resolveBands(numHashes, bands, threshold), threshold, maxBucket)

  /** Near-dups from a PRECOMPUTED signature column (`array<long>` of
    * length `numHashes`, e.g. [[minhashSignature]] written to storage) —
    * the index-reuse path a 100 TB deployment actually runs: signatures
    * are computed and persisted ONCE (the expensive text pass), then
    * candidate generation re-runs cheaply per threshold/banding sweep
    * from the stored table. Rows with a null signature are dropped (they
    * would otherwise clique on constant band keys). */
  def nearDupsFromSignatures(df: DataFrame, idCol: String, sigCol: String,
                             numHashes: Int, bands: Int = 0,
                             threshold: Double = 0.7,
                             maxBucket: Int = 64): DataFrame =
    nearDupsBySignature(df.filter(col(sigCol).isNotNull), idCol, col(sigCol),
      numHashes, resolveBands(numHashes, bands, threshold), threshold, maxBucket)

  private def resolveBands(numHashes: Int, bands: Int, threshold: Double): Int =
    if (bands == 0) bandsForThreshold(numHashes, threshold) else bands

  /** Build the persisted signature index [[nearDupsAgainstIndex]] queries:
    * one `(idCol, sigCol)` row per DISTINCT signature, keeping the min-id
    * representative of each identical-signature group. Run ONCE at ingest
    * (one sig-keyed exchange) and write to storage — incremental queries
    * then stream the index with no shuffle at all, and a batch doc
    * matching a w-wide identical clique answers with ONE pair (its rep).
    *
    * Shape note (r10): a straight partial-aggregable `groupBy(sig).min(id)`
    * — a mirror-heavy corpus's million-row identical group combines
    * MAP-SIDE instead of shipping every copy (sig array payload and all)
    * to one reducer, the hazard the earlier per-sig window had. */
  def buildSignatureIndex(df: DataFrame, idCol: String, sigCol: String): DataFrame =
    df.filter(col(sigCol).isNotNull)
      .groupBy(col(sigCol)).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(sigCol))

  /** Incremental near-dup: candidates of a NEW batch against a PERSISTED
    * signature index — the daily-ingest shape. A 100 TB corpus is deduped
    * once; every increment afterwards must answer "is this new document a
    * near-dup of anything already ingested?" WITHOUT the corpus
    * re-joining itself: the (small) batch builds the hash side of the
    * band equi-join and the index STREAMS by — no shuffle, no window,
    * nothing corpus-sized moves.
    *
    * Both frames supply `(idCol, sigCol)` with `array<long>` signatures
    * of length `numHashes` (e.g. [[minhashSignature]] persisted at
    * ingest). Build the index with [[buildSignatureIndex]] (distinct
    * signatures, min-id reps) so identical-sig cliques answer with one
    * pair; a raw uncollapsed index also works but emits one pair per
    * matching index ROW. Output: `(id_new, id_index, jaccard_est ≥
    * threshold)`; a pair sharing several bands emits once (first-match,
    * as in the self-join path). Null signatures on either side drop.
    *
    * `broadcastBatch = false` removes the broadcast hint for batches too
    * big for a hashed relation (Spark caps broadcasts at 8 GB) — the
    * join then falls back to the planner's choice, typically a shuffled
    * hash join keyed on (band, h). A STREAMING batch never hints: the
    * stream-static planner re-plans (and auto-broadcasts, when small)
    * the static index per microbatch instead. */
  def nearDupsAgainstIndex(index: DataFrame, batch: DataFrame,
                           idCol: String, sigCol: String,
                           numHashes: Int, bands: Int = 0,
                           threshold: Double = 0.7,
                           broadcastBatch: Boolean = true): DataFrame = {
    val b = resolveBands(numHashes, bands, threshold)
    require(numHashes % b == 0,
      s"numHashes ($numHashes) must be divisible by bands ($b)")
    val rpb = numHashes / b
    val idxE = index.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("id_index"), col(sigCol).as("sig_i"))
      .withColumn("bhs_i", minhashBands(col("sig_i"), b, rpb))
      .select(col("id_index"), col("sig_i"), col("bhs_i"),
        explodeBands(col("bhs_i")).as(Seq("band", "h")))
    val btE = batch.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("id_new"), col(sigCol).as("sig_n"))
      .withColumn("bhs_n", minhashBands(col("sig_n"), b, rpb))
      .select(col("id_new"), col("sig_n"), col("bhs_n"),
        explodeBands(col("bhs_n")).as(Seq("band", "h")))
    val dupEarlier =
      if (b == 1) lit(false)
      else (1 until b).foldLeft(when(col("band") === 0, lit(false))) {
        case (acc, bIdx) => acc.when(col("band") === bIdx,
          (0 until bIdx).map(j =>
            col("bhs_n").getItem(j) === col("bhs_i").getItem(j)).reduce(_ || _))
      }
    // a STREAMING batch side cannot be a broadcast build side — the
    // stream-static planner re-plans the static index per microbatch and
    // broadcasts it when small, which is the right shape there
    val btSide = if (batch.isStreaming || !broadcastBatch) btE else broadcast(btE)
    btSide.join(idxE, Seq("band", "h"))
      .filter(!dupEarlier)
      .select(col("id_new"), col("id_index"),
        native.sigAgreement(col("sig_n"), col("sig_i")).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
  }

  /** LSH candidate generation with an EXACT-SIGNATURE COLLAPSE and a
    * HOT-BUCKET GUARD (the default path; `maxBucket = Int.MaxValue`
    * selects the exhaustive unguarded join below).
    *
    * Step 1 — collapse identical signatures. Docs sharing a signature are
    * CERTAIN candidates (estimate 1.0): emitting their w²/2 pairs through
    * the band join is pure waste, and a clique of identical docs is
    * exactly how a band bucket goes quadratic (the r4 bench regression,
    * and a genuine 100 TB scale-killer: one hot key can stall a
    * 1000-executor join). Instead each sig-group emits a linear STAR —
    * (min-id rep, member) pairs — which is precisely what cluster
    * resolution needs, and only the group REPRESENTATIVES (distinct
    * signatures) enter the banding. One sig-keyed window exchange buys
    * this; on a duplicate-free corpus the collapse is an identity and the
    * star side is empty.
    *
    * Step 2 — guard the remaining buckets. Near-identical-but-distinct
    * signatures still share band hashes; buckets wider than `maxBucket`
    * are sub-split by a band-dependent hash OF THE SIGNATURE, bounding a
    * width-w bucket to ~w·maxBucket/2 candidates instead of w²/2 — linear
    * in w, like AQE's skew-join splitting (which cannot help here: it
    * rebalances partitions, not the join's output cardinality). Hashing
    * the signature, not the id, makes the whole candidate graph a pure
    * function of corpus CONTENT: re-ingesting the same documents under
    * different ids yields the same clusters — the reproducibility a
    * 100 TB pipeline needs across ingestion runs (spec: the 1×/10×
    * replication smoke curates to an identical document set).
    *
    * Recall under the guard: the sub-split is band-dependent, so a pair
    * split apart at one band still collides at another with independent
    * probability — a pair of DISTINCT sigs in a split bucket survives
    * with p = 1-(1-1/s)^bands for s subs (identical sigs are never shed —
    * they ride the star). Surviving pairs keep split cliques CONNECTED
    * (random graph, p ≫ log w / w), so [[Clusters]] still merges them:
    * cluster-level dedup is preserved even where pair-level recall is
    * shed. Buckets at or under `maxBucket` are untouched, and on a corpus
    * of distinct signatures with no over-cap bucket the output is
    * bit-identical to the exhaustive join (spec-verified).
    *
    * Execution shape: the collapsed table pins once (the signature kernel
    * runs exactly ONCE — the iterative-reuse pattern; at cluster scale
    * this is the "persist your signatures" step every real LSH run
    * performs), the guarded rep table pins once more, and the guard's
    * stats are an aggregate on the exploded (band, h) projection — no
    * driver-side collect, no literal-map plan bloat; on a healthy corpus
    * the wide-bucket side is empty and the sub columns fold to constants. */
  private def nearDupsBySignature(df: DataFrame, idCol: String, sigCol: Column,
                                  numHashes: Int, bands: Int,
                                  threshold: Double, maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "trailing signature positions would silently never participate in banding")
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    val rowsPerBand = numHashes / bands
    // CONTRACT: callers pre-filter rows whose source column is null (both
    // kernels are null-propagating and never null otherwise). A null
    // signature here would share constant band keys and form an all-pairs
    // clique; filtering on sig.isNotNull INSTEAD would push the null check
    // into the scan and re-evaluate the signature kernel there, doubling
    // the kernel work per row — so the guard lives on the source column.
    val idSig = df.select(col(idCol).as("id"), sigCol.as("sig"))

    if (maxBucket == Int.MaxValue) {
      // exhaustive path: no collapse, no guard — the documented escape
      // hatch for consumers that need every pair (reporting, threshold
      // sweeps), accepting the quadratic hot-bucket cost
      val sigsPin = Checkpoints.pin(idSig
        .withColumn("bhs", minhashBands(col("sig"), bands, rowsPerBand))
        .withColumn("subs", array_repeat(lit(0), bands)))
      bandJoin(sigsPin.df, bands, threshold)
    } else {
      // rep per row via partial-aggregable min-per-sig + an AQE-handled
      // equi-join back — an identical-sig group (mirror-heavy corpora: a
      // million exact copies) combines map-side instead of serializing
      // onto one window reducer with its sig-array payload (r10, the same
      // guard shape as dedupSpansKeepFirst's winner selection)
      val sigReps = idSig.groupBy(col("sig")).agg(min(col("id")).as("rep"))
      val collapsedPin = Checkpoints.pin(idSig.join(sigReps, Seq("sig")))
      val collapsed = collapsedPin.df
      val starPairs = collapsed.filter(col("id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("jaccard_est"))
        .filter(col("jaccard_est") >= threshold)
      val reps = collapsed.filter(col("id") === col("rep"))
        .select(col("id"), col("sig"))
        .withColumn("bhs", minhashBands(col("sig"), bands, rowsPerBand))
      val guarded = Checkpoints.pin {
        // hot-bucket stats: which (band, h) buckets exceed maxBucket, and
        // into how many subs to split them
        val slim = reps.select(col("id"), explodeBands(col("bhs")).as(Seq("band", "h")))
        val wide = slim.groupBy("band", "h").count()
          .filter(col("count") > maxBucket)
          .select(col("band"), col("h"),
            ceil(col("count") / maxBucket).cast("int").as("splits"))
        // per-id band→splits map, ONLY for ids touching a wide bucket
        // (empty on a healthy corpus)
        val wideIds = slim.join(wide, Seq("band", "h"))
          .groupBy("id")
          .agg(map_from_entries(collect_list(struct(col("band"), col("splits")))).as("wm"))
        reps.join(wideIds, Seq("id"), "left")
          .withColumn("subs", transform(sequence(lit(0), lit(bands - 1)),
            j => when(col("wm").isNull, lit(0)).otherwise(coalesce(
              pmod(xxhash64(col("sig"), j), element_at(col("wm"), j).cast("long"))
                .cast("int"), lit(0)))))
          .drop("wm")
      }
      // both pins back the returned frame (collapsed → star side,
      // guarded → band side) and stay; see [[Checkpoints]] for reclaim
      starPairs.unionByName(bandJoin(guarded.df, bands, threshold))
    }
  }

  /** The band-bucket equi-join over a pinned (id, sig, bhs, subs) table —
    * shared by the guarded and exhaustive paths above. */
  private def bandJoin(sigs2: DataFrame, bands: Int, threshold: Double): DataFrame = {
    val banded = sigs2.select(col("id"), col("sig"), col("bhs"), col("subs"),
      posexplode(arrays_zip(col("bhs"), col("subs"))).as(Seq("band", "z")))
      .select(col("id"), col("sig"), col("bhs"), col("subs"), col("band"),
        col("z.bhs").as("h"), col("z.subs").as("sub"))
    val a = banded.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("bhs").as("bhs_a"), col("subs").as("subs_a"),
      col("band"), col("h"), col("sub"))
    val b = banded.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("bhs").as("bhs_b"), col("subs").as("subs_b"),
      col("band"), col("h"), col("sub"))
    // A pair sharing k bands would surface k times; emit it ONLY at its
    // first matching band (no earlier (band-hash, sub) pair equal) — a
    // literal when-chain over band index, fully codegen'd. This replaces a
    // dropDuplicates EXCHANGE over every estimate-passing candidate with a
    // few map-side comparisons per candidate. The sub term keeps the
    // invariant exact under the hot-bucket guard: a pair "matches at band
    // j" iff it lands in the same (band, h, sub) join bucket there.
    val dupEarlier =
      if (bands == 1) lit(false)
      else (1 until bands).foldLeft(when(col("band") === 0, lit(false))) {
        case (acc, bIdx) => acc.when(col("band") === bIdx,
          (0 until bIdx).map(j =>
            col("bhs_a").getItem(j) === col("bhs_b").getItem(j) &&
              col("subs_a").getItem(j) === col("subs_b").getItem(j)).reduce(_ || _))
      }
    // Estimate Jaccard map-side IMMEDIATELY after the band equi-join
    // (native kernel, one tight loop per pair): nothing downstream
    // shuffles — the output is exchange-free past the join itself.
    a.join(b, Seq("band", "h", "sub"))
      .filter(col("id_a") < col("id_b") && !dupEarlier)
      .select(col("id_a"), col("id_b"),
        native.sigAgreement(col("sig_a"), col("sig_b")).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
  }

  /** 64-bit SimHash of the document (near-dup fingerprint; hamming distance
    * between fingerprints approximates token-set distance). */
  def simhash(text: Column): Column = native.simHash(text)

  /** All pairs `(id_1, id_2, dist)` of 64-bit hashes within Hamming
    * distance `maxDist` — LOSSLESS banded blocking for ANY 64-bit
    * fingerprint ([[simhash]], [[graft.ops.Multimodal.withDHash]]):
    * split the hash into `maxDist + 1` bit bands; two hashes within
    * `maxDist` differ in at most `maxDist` bands, so by pigeonhole they
    * AGREE on at least one band — candidates are an equi-join on
    * (band index, band bits), verified by exact `bit_count(xor)`. Never
    * all-pairs; a fully duplicated corpus degrades to the true pair
    * set, which is the output's own size. Null hashes drop. */
  def hammingPairs(hashed: DataFrame, idCol: String,
                   hashCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64), got $maxDist")
    val b = maxDist + 1
    val widths = Array.tabulate(b)(i => 64 / b + (if (i < 64 % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val h = col("__h")
    val bandCols = (0 until b).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      struct(lit(i).as("bi"),
        shiftright(h, offsets(i)).bitwiseAND(lit(mask)).as("bv"))
    }
    // the id keeps its input type (only < and = are used): a long cast
    // would null string/UUID ids and silently drop their pairs
    val toks = hashed
      .select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .filter(col("__h").isNotNull && col("__id").isNotNull)
      .select(col("__id"), col("__h"), explode(array(bandCols: _*)).as("__band"))
    val a = toks.toDF("__id1", "__h1", "__band")
    val bb = toks.toDF("__id2", "__h2", "__band")
    a.join(bb, Seq("__band"))
      .filter(col("__id1") < col("__id2"))
      .withColumn("dist", bit_count(col("__h1").bitwiseXOR(col("__h2"))))
      .filter(col("dist") <= maxDist)
      .select(col("__id1").as("id_1"), col("__id2").as("id_2"), col("dist"))
      .distinct()
  }

  /** n-gram Jaccard similarity between two token arrays — exact, for
    * verifying candidate pairs. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 1.0).otherwise(inter / union)
  }

  /** LSH recall/precision audit over a BOUNDED sample — the "measure
    * before trusting" gate for a corpus-scale dedup run. Banding recall
    * is an S-curve PROMISE (a pair AT `threshold` collides in ≥ 1 band
    * with probability ≥ 1−1/e), the minhash estimate is noisy
    * (±~1/√numHashes around true Jaccard), and the hot-bucket guard
    * deliberately sheds distinct-sig pair recall inside over-cap
    * buckets — this op MEASURES the combined effect against exact ground
    * truth on a sample small enough to afford it.
    *
    * Ground truth: exact word-token Jaccard ≥ `threshold` via the
    * lossless prefix-filtered set-similarity join
    * ([[FuzzyJoin.jaccardJoin]] with `foldCase = false` — RAW
    * case-sensitive tokens, the SAME token convention
    * [[graft.expressions.Kernels.minhashSig]] hashes, so truth and
    * candidates measure one similarity; never all-pairs even on the
    * sample). Candidates: the full guarded LSH path ([[minhashNearDups]]
    * at the same banding/guard parameters the production run uses),
    * thresholded on the ESTIMATE, with identical-signature STARS expanded
    * back to full cliques before counting — the star collapse is a
    * lossless cluster-level encoding (sig-identity is transitive), so the
    * audit scores the C(w,2) pairs it certifies, not the w−1 edges it
    * stores; without this a 3-clique of exact dups would cap measured
    * recall at 2/3 with zero actual cluster-level loss. Expansion is
    * quadratic per clique but the audit is sample-capped. Returns ONE
    * row `(n_docs, n_true, n_cand, n_hits, recall, precision)` — recall
    * = hits/true (the number to watch: the S-curve floor AT the
    * threshold is ≈ 0.63, but pairs comfortably above it should push the
    * measured figure toward 1.0), precision = hits/cand; both 1e-9
    * floor-rounded, null on a zero denominator.
    *
    * `maxDocs` HARD-FAILS — from the DRIVER, before any quadratic-intent
    * work runs or pins — on a sample bigger than the exact ground truth
    * can honestly afford: the gate is one cheap count of the input, paid
    * up front (this op is eager anyway — truth and candidates pin at
    * construction). A plan-side raise_error stays on the output row as
    * belt-and-suspenders. Sample the corpus FIRST
    * ([[graft.ops.Sampling]].deterministicSample) and audit the sample;
    * never point this at the corpus itself. Scale shape: the audit is
    * the bounded side-car of the real run — every frame is sample-sized;
    * truth and candidates pin once each (both feed their count and the
    * hit join), and the four one-row aggregates meet through the
    * established scalar crossJoin. */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, threshold: Double = 0.9,
                     bands: Int = 0, maxBucket: Int = 64,
                     maxDocs: Int = 10000): DataFrame = {
    require(maxDocs >= 2, s"maxDocs must be ≥ 2, got $maxDocs")
    val base = df.filter(col(textCol).isNotNull)
    val nDocs = base.count()
    if (nDocs > maxDocs) throw new IllegalArgumentException(
      s"lshRecallAudit: sample has $nDocs docs > maxDocs=$maxDocs — exact " +
        "ground truth is quadratic in intent; sample the corpus first")
    val truth = Checkpoints.pinned(
      FuzzyJoin.jaccardJoin(base, idCol, textCol, threshold,
        foldCase = false))
    val raw = Checkpoints.pinned(
      minhashNearDups(base, idCol, textCol, numHashes, bands, threshold,
        maxBucket))
    // star → clique: estimate 1.0 ⟺ identical signatures (sigAgreement
    // hits 1.0 only when every position matches), so grouping star edges
    // by representative and pairing members (rep included) reconstructs
    // exactly the pairs the collapse certified
    val starE = raw.filter(col("jaccard_est") === 1.0)
      .select(col("id_a").as("__r"), col("id_b").as("__m"))
    val members = starE.unionByName(
      starE.select(col("__r"), col("__r").as("__m")).distinct())
    val cliques = members.toDF("__r", "__a")
      .join(members.toDF("__r2", "__b"),
        col("__r") === col("__r2") && col("__a") < col("__b"))
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
    val cand = Checkpoints.pinned(raw.select(col("id_a"), col("id_b"))
      .unionByName(cliques).distinct())
    val hits = cand.join(truth,
      cand("id_a") === truth("id_1") && cand("id_b") === truth("id_2"),
      "left_semi")
    def one(dfx: DataFrame, name: String) = dfx.agg(count(lit(1)).as(name))
    def r9(c: Column) = floor(c * 1e9 + lit(0.5)) / 1e9
    val capMsg = concat(lit("lshRecallAudit: sample has "),
      col("n_docs").cast("string"),
      lit(s" docs > maxDocs=$maxDocs — exact ground truth is quadratic " +
        "in intent; sample the corpus first"))
    one(base, "n_docs")
      .crossJoin(one(truth, "n_true"))
      .crossJoin(one(cand, "n_cand"))
      .crossJoin(one(hits, "n_hits"))
      .select(
        when(col("n_docs") <= maxDocs, col("n_docs"))
          .otherwise(raise_error(capMsg).cast("long")).as("n_docs"),
        col("n_true"), col("n_cand"), col("n_hits"),
        when(col("n_true") > 0,
          r9(col("n_hits").cast("double") / col("n_true"))).as("recall"),
        when(col("n_cand") > 0,
          r9(col("n_hits").cast("double") / col("n_cand"))).as("precision"))
  }

  /** Exact containment `|a ∩ b| / |a|` — the ASYMMETRIC near-dup signal
    * Jaccard misses: a short document quoted wholesale inside a long one
    * has containment ≈ 1 but Jaccard ≈ |a|/|b| (arbitrarily small), so a
    * symmetric threshold never fires. Run on candidate pairs after the
    * LSH join, same as [[jaccard]]. Empty `a` scores 1.0 (vacuously
    * contained). */
  def containment(a: Column, b: Column): Column = {
    val na = size(a).cast("double")
    when(na === 0, 1.0)
      .otherwise(size(array_intersect(a, b)).cast("double") / na)
  }

  /** Containment recovered from a JACCARD estimate plus the two distinct
    * set sizes — for the signature path, where [[native.sigAgreement]]
    * estimates J but the raw sets are gone: `|∩| = J·(|a|+|b|)/(1+J)`
    * (exact identity on true J, an estimator on estimated J), then
    * containment = `|∩|/|a|`. Sizes are cheap to carry (one int per doc,
    * e.g. `size(array_distinct(tokens))` persisted beside the
    * signature). All plain IEEE arithmetic, left-to-right — mirrors
    * exactly in any engine. */
  def containmentFromJaccard(jac: Column, nA: Column, nB: Column): Column =
    when(nA.cast("double") === 0.0, 1.0)
      .otherwise(jac * (nA.cast("double") + nB.cast("double"))
        / (jac + 1.0) / nA.cast("double"))

  /** Approximate distinct count — built-in HLL++, no shuffle of raw values. */
  def approxDistinct(df: DataFrame, c: String, rsd: Double = 0.05): DataFrame =
    df.agg(approx_count_distinct(col(c), rsd).as("approx_n"))

  /** Serialized Bloom filter over `xxhash64(keyCol)` of every row — the
    * seen-keys sketch for INCREMENTAL exact dedup. A 100 TB corpus is
    * deduped once; each later ingest batch must answer "have we seen this
    * fingerprint?" — and joining every daily batch against a
    * corpus-sized key index is the expensive way. The sketch answers
    * definitively-NEW with no join at all: build it once at ingest (one
    * distributed aggregate; bounded memory per partition, merged on the
    * driver), persist the bytes next to the corpus, and probe each batch
    * map-only with [[mightBeSeen]].
    *
    * Sizing: ~1.2 bytes/key at 1% fpp (`-n·ln(p)/(8·ln²2)`) — 1 B keys ≈
    * 1.1 GB, broadcast-friendly; toward 10 B keys either raise `fpp` (the
    * filter only routes to verification, so fpp costs extra verify work,
    * never correctness) or use [[seenFilterSharded]]. Spark's own runtime
    * bloom join filters are intra-query only — this is the cross-job
    * counterpart.
    *
    * Built DIRECTLY (per-partition `BloomFilter.create` + `treeReduce`
    * merge), NOT via `df.stat.bloomFilter`: Spark 4's stat path runs the
    * runtime-filter `BloomFilterAggregate`, which silently CLAMPS the
    * sketch to 2^26 bits (8 MB) — beyond ~7 M keys at 1% the returned
    * filter saturates and flags nearly every probe (measured: 99.8%
    * false-positive rate at 50 M keys; `tools/BloomShardSmoke`). The
    * direct build has no cap; per-task memory is one filter, the same as
    * the stat path's partial aggregates. */
  def seenFilter(df: DataFrame, keyCol: Column, expectedItems: Long,
                 fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val (n, p) = (expectedItems, fpp)
    val rdd = df.select(xxhash64(keyCol).as("__k")).rdd
    // a zero-partition input (empty frame) has nothing to reduce —
    // treeReduce throws; an empty filter is the correct sketch for it
    // (same guard as Sampling.packBoundaries)
    val merged =
      if (rdd.getNumPartitions == 0) BloomFilter.create(n, p)
      else rdd
        .mapPartitions { it =>
          val f = BloomFilter.create(n, p)
          it.foreach(r => f.putLong(r.getLong(0)))
          Iterator.single(f)
        }
        .treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** Membership predicate against a [[seenFilter]] sketch: false ⇒ the key
    * is CERTAINLY new; true ⇒ seen OR a false positive (rate ≈ fpp).
    * Codegen'd expression, map-only — no join, no shuffle. */
  def mightBeSeen(filterBytes: Array[Byte], keyCol: Column): Column =
    native.bloomMightContain(filterBytes, xxhash64(keyCol))

  /** Sharded [[seenFilter]]: `shards` independent Bloom filters, keys
    * routed by `pmod(xxhash64(key), shards)`. Raises the sketch family's
    * capacity past the single-filter ceiling (one `BloomFilter` tops out
    * around ~14 B keys at 1% fpp — the backing long[] is int-indexed) and
    * bounds BUILD memory at one shard per task instead of one corpus-
    * sized filter merged on the driver: keys shuffle by shard (8-byte
    * rows, the narrowest possible exchange), each of the `shards` tasks
    * fills exactly its own filter, and the driver only concatenates the
    * serialized results. Probe-side, the full shard set still travels
    * with the plan (same total bytes as one big filter — probing is not
    * what sharding buys); [[mightBeSeenSharded]] /
    * [[splitBySeenFilterSharded]] probe it as ONE constant-size-codegen
    * expression, so the shard count never shapes the plan.
    *
    * No false negatives across shard boundaries by construction: a key's
    * probe consults exactly the shard its hash routed it to at build
    * time (same hash, same modulus — spec-verified). */
  def seenFilterSharded(df: DataFrame, keyCol: Column, shards: Int,
                        expectedItemsPerShard: Long,
                        fpp: Double = 0.01): Array[Array[Byte]] = {
    require(shards >= 1 && shards <= 4096, s"shards must be in [1,4096], got $shards")
    import org.apache.spark.util.sketch.BloomFilter
    val nShards = shards
    val pairs = df.select(xxhash64(keyCol).as("__k")).rdd.map { r =>
      val h = r.getLong(0)
      (((h % nShards) + nShards) % nShards).toInt -> h
    }
    pairs.partitionBy(new org.apache.spark.HashPartitioner(nShards))
      .mapPartitionsWithIndex { (pid, it) =>
        val f = BloomFilter.create(expectedItemsPerShard, fpp)
        it.foreach { case (_, h) => f.putLong(h) }
        val out = new java.io.ByteArrayOutputStream()
        f.writeTo(out)
        Iterator.single(pid -> out.toByteArray)
      }
      .collect().sortBy(_._1).map(_._2)
  }

  /** Membership predicate against a [[seenFilterSharded]] sketch set:
    * routes each row to its shard (`pmod(xxhash64(key), shards)` — the
    * build-time routing) and probes ONLY that shard's filter. ONE native
    * expression for the whole set ([[graft.expressions.BloomMightContainSharded]]):
    * the deserialized filters sit in the codegen references array, so the
    * generated code is a constant-size array index + probe at ANY shard
    * count — the previous per-shard `when`-chain broke Janino's method
    * limit (interpreted fallback) near the 4096-shard maximum and
    * embedded every shard's bytes in the generated source. Map-only. */
  def mightBeSeenSharded(shardBytes: Seq[Array[Byte]], keyCol: Column): Column =
    native.bloomMightContainSharded(shardBytes, xxhash64(keyCol))

  /** Split an ingest batch by the sketch: `(certainly-new, needs-verify)`.
    * The needs-verify side (|batch|·fpp + true dups) is the ONLY part that
    * proceeds to the exact anti-join against the persisted key index —
    * the sketch turns a batch-vs-corpus join into a batch-vs-sketch map
    * pass plus a sliver-vs-corpus join. */
  def splitBySeenFilter(batch: DataFrame, filterBytes: Array[Byte],
                        keyCol: Column): (DataFrame, DataFrame) = {
    val p = mightBeSeen(filterBytes, keyCol)
    (batch.filter(!p), batch.filter(p))
  }

  /** [[splitBySeenFilter]] against a SHARDED sketch set: each row routes
    * to its shard once inside the probe expression — no per-shard plan
    * branches, no batch re-scan per shard, generated code constant-size
    * at any shard count. The scale story matches the single-filter split:
    * probing is a map pass, and only the needs-verify sliver proceeds to
    * the exact anti-join. */
  def splitBySeenFilterSharded(batch: DataFrame, shardBytes: Seq[Array[Byte]],
                               keyCol: Column): (DataFrame, DataFrame) = {
    val p = mightBeSeenSharded(shardBytes, keyCol)
    (batch.filter(!p), batch.filter(p))
  }

  /** Benchmark-contamination check: per document, the fraction of its
    * distinct character k-shingles that also occur in `benchmark` — the
    * standard n-gram-overlap test run before training to keep eval data
    * out of the corpus.
    *
    * Scale shape: the benchmark shingle set is small (eval suites are
    * MBs, not TBs) and BROADCASTS; docs explode to one row per distinct
    * shingle map-side, the broadcast left-semi-style join marks hits with
    * no shuffle, and the per-doc fraction is one partial-aggregated
    * exchange keyed by id. The corpus itself never shuffles its text. */
  /** Decontaminated train/eval split — the GPT-3 appendix-C recipe as one
    * operator: a deterministic [[Sampling.hashSplit]] into `train`/`eval`,
    * then every train-side document sharing at least one character
    * k-shingle with ANY eval-side document is DROPPED from train. Eval
    * keeps priority: eval sets are small and fixed, dropping train rows
    * costs nothing at corpus scale, while one leaked eval document poisons
    * every benchmark number downstream. Output: the input rows +
    * `splitCol`, minus contaminated train rows.
    *
    * Scale: unlike [[contamination]] (whose benchmark shingle set is
    * MB-sized and broadcasts), the eval side here is a hash-fraction OF
    * THE CORPUS — its shingle set is corpus-scale, so the overlap test is
    * a shuffle left-semi join on the 8-char shingle key (AQE broadcasts
    * when a small evalFrac makes it dimension-sized). Three passes over
    * (id, text) with column pruning: two shingle explodes + the output
    * pass; nothing corpus-sized shuffles except the shingle keys. */
  def decontaminatedSplit(df: DataFrame, idCol: String, textCol: String,
                          trainFrac: Double, k: Int = 8,
                          salt: String = "split",
                          splitCol: String = "split"): DataFrame = {
    val split = Sampling.hashSplit(df, idCol,
      Seq("train" -> trainFrac, "eval" -> (1.0 - trainFrac)), salt, splitCol)
    val evalSh = split.filter(col(splitCol) === "eval")
      .select(explode(shingles(col(textCol), k)).as("sh")).distinct()
    val dirty = split.filter(col(splitCol) === "train")
      .select(col(idCol), explode(shingles(col(textCol), k)).as("sh"))
      .join(evalSh, Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__dirty", lit(1))
    split.join(dirty, Seq(idCol), "left")
      .filter(!(col(splitCol) === "train" && col("__dirty").isNotNull))
      .drop("__dirty")
  }

  def contamination(df: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    k: Int = 8): DataFrame = {
    val benchSh = benchmark
      .select(explode(shingles(col(benchTextCol), k)).as("sh")).distinct()
    val docSh = df
      .select(col(idCol), explode(shingles(col(textCol), k)).as("sh"))
    docSh
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg((sum(coalesce(col("__hit"), lit(0))).cast("double")
        / count(lit(1)).cast("double")).as("contamination"))
  }
}
