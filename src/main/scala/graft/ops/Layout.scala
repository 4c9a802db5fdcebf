package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for 100 TB table management (SURVEY.md §4 /
  * SCALE.md): co-located joins via bucketing, exchange reuse via explicit
  * key repartitioning, and salting for skewed keys. These don't add new
  * semantics — they shape where the shuffles happen so repeated big joins
  * and aggregations on the same keys pay for partitioning once.
  */
object Layout {

  /** Hash-repartition on join/agg keys. Chains of joins/aggs on the same
    * keys then reuse this single exchange (Catalyst recognizes the
    * partitioning and drops later ENSURE_REQUIREMENTS exchanges). */
  def repartitionByKeys(df: DataFrame, numPartitions: Int, keys: String*): DataFrame =
    df.repartition(numPartitions, keys.map(col): _*)

  /** Persist as a bucketed (and optionally sorted) parquet table. Two
    * tables bucketed on the same keys with the same bucket count equi-join
    * WITHOUT any shuffle — the scale path for repeated fact↔fact joins. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // A managed table's LOCATION can outlive its catalog entry (previous
    // process exited; in-memory catalog reset) — saveAsTable(Overwrite) on
    // the then-uncataloged name fails LOCATION_ALREADY_EXISTS instead of
    // overwriting. Drop the entry AND any stale directory first.
    val parts = table.split("\\.")
    val (db, name) =
      if (parts.length == 2) (parts(0), parts(1))
      else (spark.catalog.currentDatabase, table)
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new java.net.URI(
        spark.catalog.getDatabase(db).locationUri)),
      name.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val aligned =
      if (alignBuckets(df.queryExecution.optimizedPlan.stats.sizeInBytes, buckets, sortCols.nonEmpty))
        df.repartition(buckets, keys.map(col): _*)
      else df
    val w = aligned.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Largest estimated bucket [[writeBucketed]] still aligns: the guide-§6
    * output-file sweet spot. */
  private[graft] val AlignMaxBucketBytes: Long = 512L << 20

  /** Whether [[writeBucketed]] repartitions on the bucket keys before
    * writing. An unaligned input writes one file per (task, bucket) pair —
    * numPartitions × buckets tiny files (256 for the bm25 index at bench
    * scale), slow to commit and slow to read back. Repartitioning on the
    * bucket keys colocates each bucket in exactly one task (bucketBy's
    * pmod(murmur3) IS HashPartitioning), so the table lands as `buckets`
    * files — but it also caps write parallelism at `buckets`, which at
    * 100 TB with a modest bucket count funnels the table through few huge
    * tasks (guide §5 spill risk). So an unsorted write aligns only when
    * the optimizer's size estimate keeps each bucket under
    * [[AlignMaxBucketBytes]]; unknown or huge estimates keep the input's
    * parallelism (the estimate can overshoot badly after joins and
    * aggregates, so such inputs may skip alignment they could afford).
    * A sorted write always aligns: a bucket split over
    * several files is sorted only within each file, so readers lose the
    * bucket's sort order. */
  private[graft] def alignBuckets(sizeInBytes: BigInt, buckets: Int, sorted: Boolean): Boolean =
    sorted || sizeInBytes <= BigInt(AlignMaxBucketBytes) * buckets

  /** Salt the skewed (fact) side: deterministic salt derived from a row id
    * so re-runs are stable. Join key becomes (key, salt). */
  def saltFact(df: DataFrame, idCol: String, saltBuckets: Int,
               saltCol: String = "_salt"): DataFrame =
    df.withColumn(saltCol, pmod(xxhash64(col(idCol)), lit(saltBuckets)).cast("int"))

  /** Explode the small (dim) side across every salt value so each salted
    * fact partition finds its match. */
  def explodeDim(df: DataFrame, saltBuckets: Int, saltCol: String = "_salt"): DataFrame =
    df.withColumn(saltCol, explode(sequence(lit(0), lit(saltBuckets - 1))))

  /** Salted equi-join: behavior-identical to `fact.join(dim, keys)` but the
    * hot keys spread over `saltBuckets` reducers. Use when one key carries
    * a disproportionate share of rows and AQE skew handling isn't enough. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 factIdCol: String, saltBuckets: Int = 8): DataFrame = {
    val saltedF = saltFact(fact, factIdCol, saltBuckets)
    val saltedD = explodeDim(dim, saltBuckets)
    saltedF.join(saltedD, keys :+ "_salt").drop("_salt")
  }

  /** Morton (Z-order) code of two non-negative integer columns — the
    * multi-dimensional clustering key behind "OPTIMIZE ZORDER BY"-style
    * layouts: sorting by the interleaved bits keeps rows close in BOTH
    * dimensions physically adjacent, so min/max file statistics prune
    * scans filtered on EITHER column (a single-column sort only skips on
    * its leading column). Exact integer bit arithmetic (native codegen'd
    * kernel) — engine-portable, no floats anywhere. Inputs are masked to
    * their low 32 bits; map columns through a rank/quantile first if
    * their natural range exceeds that. */
  def zValue(a: Column, b: Column): Column =
    graft.expressions.native.zValue2(a.cast("long"), b.cast("long"))

  /** Three-dimensional Morton code (21 bits per coordinate — e.g.
    * time-bucket × key-hash × size-class): same data-skipping story with
    * per-file min/max bounding all THREE columns. */
  def zValue3(a: Column, b: Column, c: Column): Column =
    graft.expressions.native.zValue3(a.cast("long"), b.cast("long"), c.cast("long"))

  /** Cluster a frame for Z-order locality: range-partition then sort each
    * partition by the Morton code (exactly what a `write` needs in front
    * of it for z-clustered parquet with tight per-file min/max on both
    * `a` and `b`). One range exchange; the sort is per-partition. */
  def clusterByZ(df: DataFrame, a: String, b: String,
                 zCol: String = "_z"): DataFrame = {
    val withZ = df.withColumn(zCol, zValue(col(a), col(b)))
    withZ.repartitionByRange(col(zCol)).sortWithinPartitions(col(zCol))
  }

  /** [[clusterByZ]] over three columns ([[zValue3]]). */
  def clusterByZ3(df: DataFrame, a: String, b: String, c: String,
                  zCol: String = "_z"): DataFrame = {
    val withZ = df.withColumn(zCol, zValue3(col(a), col(b), col(c)))
    withZ.repartitionByRange(col(zCol)).sortWithinPartitions(col(zCol))
  }

  /** Deterministic train/val/test split by id hash: map-only, stable
    * across runs/clusters (no `rand()` — re-running a sample on new data
    * keeps every previously-assigned row in the same split), and
    * disjoint-and-exhaustive by construction. `fractions` are (name,
    * weight) pairs; weights are normalized. */
  def deterministicSplit(df: DataFrame, idCol: String,
                         fractions: Seq[(String, Double)],
                         splitCol: String = "_split",
                         buckets: Int = 10000): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0))
    val total = fractions.map(_._2).sum
    val b = pmod(xxhash64(col(idCol)), lit(buckets))
    // cumulative upper bounds over the bucket space
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * buckets))
    val expr = fractions.init.zip(bounds.init).reverse
      .foldLeft(lit(fractions.last._1)) { case (acc, ((name, _), hi)) =>
        when(b < hi, name).otherwise(acc)
      }
    df.withColumn(splitCol, expr)
  }

  /** Deterministic global shuffle for training-data serving — the last
    * mile after curation: every document gets a content-independent
    * pseudo-random shard in `[0, nShards)` plus an intra-shard order key,
    * BOTH pure functions of `(seed, id)`. The exact example order a
    * training run consumes is therefore reproducible from scratch on any
    * cluster (no `rand()`, no partition-order dependence), documents
    * added later land in a stable shard without moving anything already
    * assigned, and changing `seed` is a fresh epoch-level reshuffle.
    * Hashes are md5 (same function the deterministic samplers use) via
    * integer hex parse — exactly mirrorable in SQL engines, which is what
    * lets `q_shard_assign` oracle the assignment bit-for-bit.
    *
    * Scale shape: assignment is MAP-ONLY (two md5s per row). The physical
    * move is [[shuffleToShards]]: one repartition-on-shard exchange + an
    * in-partition sort — a global shuffle WITHOUT a global sort, the only
    * shape that works when the corpus outweighs the cluster. md5 spreads
    * uniformly, so shards balance to ±√ deviations at any corpus size. */
  def assignShards(df: DataFrame, idCol: String, nShards: Int,
                   shardCol: String = "shard", orderCol: String = "shard_order",
                   seed: String = "graft"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    def h(tag: String) =
      md5(concat(lit(s"$seed$tag:"), col(idCol).cast("string")))
    // first 8 hex digits < 2^32: exact in a long, no sign games
    df.withColumn(shardCol,
        (conv(substring(h("shard"), 1, 8), 16, 10).cast("long")
          % nShards).cast("int"))
      .withColumn(orderCol, h("order"))
  }

  /** [[assignShards]] + the physical move: hash-repartition on the shard
    * column and sort each partition by the order key. Write with
    * `.write.partitionBy(shardCol)` for one directory per shard. */
  def shuffleToShards(df: DataFrame, idCol: String, nShards: Int,
                      shardCol: String = "shard", orderCol: String = "shard_order",
                      seed: String = "graft"): DataFrame =
    assignShards(df, idCol, nShards, shardCol, orderCol, seed)
      .repartition(nShards, col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))

  /** Small-file compaction planner — the table-maintenance step a 100 TB
    * lake runs continuously: given a file inventory `(groupCol, orderCol,
    * sizeCol)` (one row per data file; `groupCol` is the partition
    * directory, `orderCol` a deterministic within-partition order such as
    * file name), assign each file the compaction bin covering its start
    * byte offset at `targetBytes` granularity — contiguous runs of small
    * files coalesce into ~target-sized rewrite tasks while a file already
    * larger than the target spans its own bin(s). Returns the plan rolled
    * up per bin: `(groupCol, bin, n_files, bytes)`.
    *
    * This is the offset-bin form (bin = startOffset div target) rather
    * than first-fit-decreasing: it preserves the within-partition file
    * order (required when files are range-sorted and min/max skipping
    * must survive compaction), is one-pass, and is exactly mirrorable in
    * SQL — which is what lets `q_compaction_plan` oracle it.
    *
    * Scale: the inventory is metadata (one row per FILE, not per record) —
    * a million-file table is a million rows. One exchange on the group;
    * the running offset is an O(1)-state unbounded-preceding ROWS frame;
    * the roll-up is partial-aggregable. Rows with a null group/order or
    * non-positive size drop. */
  def planCompaction(files: DataFrame, groupCol: String, orderCol: String,
                     sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
    val endOff = sum(col(sizeCol)).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    files.filter(col(groupCol).isNotNull && col(orderCol).isNotNull &&
        col(sizeCol).isNotNull && col(sizeCol) > 0)
      .withColumn("bin",
        floor((endOff - col(sizeCol)) / targetBytes).cast("long"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(sizeCol)).as("bytes"))
  }

  /** Zone-map statistics — per-zone min/max/null-count for a column, the
    * data-skipping index behind predicate-driven file pruning: a reader
    * filtering `valueCol BETWEEN a AND b` consults this (tiny) table and
    * skips every zone whose `[vmin, vmax]` misses the range. `zoneCol`
    * identifies the physical unit (file path, row-group ordinal, or an
    * id-range bucket). Emits `(zoneCol, n_rows, n_nulls, vmin, vmax)`.
    *
    * Scale: ONE partial-aggregable exchange on the zone id — min/max/count
    * all combine map-side, so the shuffle carries one row per zone
    * regardless of corpus size. Pair with [[clusterByZ]]: z-clustered
    * writes are exactly what make these bounds tight on two columns at
    * once. */
  def zoneMap(df: DataFrame, zoneCol: String, valueCol: String): DataFrame =
    df.filter(col(zoneCol).isNotNull)
      .groupBy(col(zoneCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("n_nulls"),
        min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"))

  /** 2^61 − 1, the Mersenne prime the manifest checksum reduces by. */
  private[graft] val ManifestPrime = 2305843009213693951L

  /** Per-shard publishing manifest `(shardCol, n_rows, checksum)` — the
    * verification record a reproducible dataset release ships next to its
    * shards. The checksum is a COMMUTATIVE mod-prime sum of per-row 60-bit
    * md5 values (first 15 hex chars of `md5(concat_ws("|", keyCols))`,
    * summed exactly as DECIMAL, reduced mod 2^61−1): addition order never
    * matters, so the same rows yield the same checksum under ANY
    * partitioning, task order, or engine — a reader re-derives it with
    * nothing but md5 — and ONE partial-aggregable exchange carries a row
    * per shard regardless of corpus size. Insert/delete/modify of any row
    * moves the checksum (collisions need md5 preimages or an exact mod-p
    * cancellation). Caveats: `concat_ws` skips nulls (null and absent
    * collide — include an explicit null marker column if that matters) and
    * float columns should be formatted/rounded first (engines differ in
    * float→string rendering; integers and strings are portable). */
  def datasetManifest(df: DataFrame, shardCol: String,
                      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "datasetManifest needs at least one key column")
    val payload = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val v = conv(substring(md5(payload), 1, 15), 16, 10).cast("decimal(38,0)")
    df.groupBy(col(shardCol))
      .agg(count(lit(1)).as("n_rows"),
        (sum(v) % lit(ManifestPrime)).cast("long").as("checksum"))
  }

  /** Verify received data against a published manifest: recompute
    * [[datasetManifest]] over `df` and full-outer-join it to the expected
    * manifest, emitting ONE ROW PER DISCREPANT SHARD with a `status` of
    * `missing` (in the manifest, absent from the data), `unexpected`
    * (present in the data, absent from the manifest), `count_mismatch`,
    * or `checksum_mismatch` (counts equal, content differs — a silently
    * corrupted or substituted row). Clean verification = empty result.
    * Same scale shape as the manifest itself: one partial-agg exchange
    * over the data + a shard-count-sized join. */
  def verifyManifest(df: DataFrame, manifest: DataFrame, shardCol: String,
                     keyCols: Seq[String]): DataFrame = {
    val got = datasetManifest(df, shardCol, keyCols)
      .withColumnRenamed("n_rows", "got_rows")
      .withColumnRenamed("checksum", "got_checksum")
    manifest
      .select(col(shardCol), col("n_rows").as("want_rows"),
        col("checksum").as("want_checksum"))
      .join(got, Seq(shardCol), "full_outer")
      .withColumn("status",
        when(col("got_rows").isNull, "missing")
          .when(col("want_rows").isNull, "unexpected")
          .when(col("got_rows") =!= col("want_rows"), "count_mismatch")
          .when(col("got_checksum") =!= col("want_checksum"), "checksum_mismatch"))
      .filter(col("status").isNotNull)
      .select(col(shardCol), col("status"), col("want_rows"), col("got_rows"),
        col("want_checksum"), col("got_checksum"))
  }

  /** Range-sorted write: repartition by range on `sortCols` then sort
    * within partitions before writing — the ONE-dimensional physical
    * layout whose per-file min/max bounds are disjoint and tight, so a
    * reader's range predicate prunes at FILE granularity (parquet
    * row-group stats prune within files for free; pair with [[zoneMap]]
    * for the explicit skipping table, and prefer [[clusterByZ]] when TWO
    * columns must both stay tight). The range exchange samples boundaries
    * (Spark's RangePartitioner), so output files are approximately
    * equal-sized even under value skew — the property a naive
    * `sortWithinPartitions`-only write lacks. */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int,
                       sortCols: Seq[String]): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }
}
