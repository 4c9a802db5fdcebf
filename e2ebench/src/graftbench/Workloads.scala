package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Errs, Validate, Validator}
import graft.{filters => F}
import graft.examples.TwoPassCuration
import graft.ops.{Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.ValidatedIO

/** One measured op: `kind` names the public API it exercises, `rows` the
  * input rows it reads, `run` performs it (build and action). */
final case class Op(kind: String, rows: Long, run: () => Unit)

/** What the post-run checks found: failed gates and the planted-truth
  * ratios (`mustDrop` rows dropped, `mustKeep` rows kept). */
final case class Checked(failures: Seq[String], dropRecall: Double, keepRecall: Double,
                         context: Seq[(String, Any)])

/** A closed-loop, single-client workload with fixed work. `register` and
  * `warmUp` form its set-up and run once per session; `ops` is fixed by the
  * seed and `seconds` alone. */
trait Workload {
  def generate(spark: SparkSession): String // returns the input hash
  def register(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def ops(spark: SparkSession, tr: Tracer): IndexedSeq[Op]
  def check(spark: SparkSession): Checked
}

object Workload {
  def apply(name: String, seed: Long, seconds: Int, dir: String): Workload = name match {
    case "validate_quarantine" => new ValidateQuarantine(seed, seconds, dir)
    case "curate_twopass"      => new CurateTwoPass(seed, seconds, dir)
    case "query_mix"           => new QueryMix(seed, seconds, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def filesUnder(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(path)).filter(f => f.getName.startsWith("part-"))
  }

  def ratio(num: Long, den: Long): Double = if (den == 0) 1.0 else num.toDouble / den
}

object ValidateQuarantine {
  val RowsPerBatch = 40000
  /** Generator partitions (= files) per batch; fixed so inputs do not
    * depend on the host's core count. */
  val Parts = 4
}

/** Each op ingests a new parquet batch through `ValidatedIO.parquet` with a
  * 12-column spec and writes it with `ValidatedIO.writeQuarantined`. */
final class ValidateQuarantine(seed: Long, seconds: Int, dir: String) extends Workload {
  import Gen.Vq
  import ValidateQuarantine._
  private val parts = Parts
  val rowsPerPart: Int = RowsPerBatch / parts
  val batches: Int = math.max(2, (seconds / 2.5).round.toInt)
  private val warmBatch = batches
  private def in(b: Int) = s"$dir/in/batch=$b"
  private def validOut(b: Int) = s"$dir/out/valid_$b"
  private def invalidOut(b: Int) = s"$dir/out/invalid_$b"
  private var warmRuns = 0

  val schema: StructType = StructType(StructField("id", LongType, nullable = false) +:
    Vq.Columns.map(c => StructField(c, if (c == "score") DoubleType else StringType)))

  def specs: Seq[(String, Validator)] = Seq(
    "name" -> (F.Macros.cleanText | F.MinLength(2) | F.MaxLength(40)),
    "city" -> (F.Required() | F.Choice(Vq.Cities)),
    "qty" -> F.Macros.intInRange(0, 1000),
    "price" -> (F.Required() | F.Decimal(12, 2) | F.Min(0)),
    "score" -> (F.Required(F.Emptiness.never) | F.Min(0.0) | F.Max(1.0)),
    "signup_date" -> (F.Required() | F.Date()),
    "last_seen" -> F.Datetime(),
    "email" -> (F.Required() | F.Strip() | F.Regex(Vq.EmailRe)),
    "homepage" -> F.Url(),
    "user_uuid" -> (F.Required() | F.Uuid()),
    "country" -> (F.Required() | F.Country()),
    "ip" -> F.IpAddress())

  def generate(spark: SparkSession): String = {
    // one job writes every batch (and the smaller warm-up batch) as its own
    // directory, one file per generator partition
    val (s, rpp, n, warm) = (seed, rowsPerPart, parts, warmBatch)
    val rdd = spark.sparkContext.parallelize(for (b <- 0 to batches; p <- 0 until n) yield (b, p), (batches + 1) * n)
      .flatMap { case (b, p) => Vq.rows(s, b, p, if (b == warm) rpp / 10 else rpp)
        .map(r => Row.fromSeq(b +: r.id +: r.values.toSeq)) }
    spark.createDataFrame(rdd, StructType(StructField("batch", IntegerType) +: schema.fields))
      .write.partitionBy("batch").parquet(s"$dir/in")
    truth = Vq.truth(seed, 0 until batches, parts, rowsPerPart)
    truth.hash
  }
  private var truth: Vq.Truth = _

  def register(spark: SparkSession): Unit = ()

  def warmUp(spark: SparkSession): Unit = {
    warmRuns += 1
    ValidatedIO.writeQuarantined(ValidatedIO.parquet(spark, in(warmBatch), specs: _*),
      s"$dir/warm/valid_$warmRuns", s"$dir/warm/invalid_$warmRuns")
  }

  def ops(spark: SparkSession, tr: Tracer): IndexedSeq[Op] =
    IndexedSeq.tabulate(batches) { b =>
      Op("validate_quarantine", rowsPerPart.toLong * parts, () => {
        val res = tr("sources.ValidatedIO.parquet") { ValidatedIO.parquet(spark, in(b), specs: _*) }
        tr("sources.ValidatedIO.writeQuarantined") {
          ValidatedIO.writeQuarantined(res, validOut(b), invalidOut(b))
        }
      })
    }

  def check(spark: SparkSession): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    val valid = spark.read.parquet((0 until batches).map(validOut): _*)
    val invalid = spark.read.parquet((0 until batches).map(invalidOut): _*)
    val nValid = valid.count()
    val invalidIds = invalid.select("id").collect().map(_.getLong(0))
    val distinct = valid.select("id").union(invalid.select("id")).distinct().count()
    if (nValid + invalidIds.length != truth.rows)
      fails += s"re-read rows ${nValid + invalidIds.length} != input rows ${truth.rows}"
    if (distinct != truth.rows) fails += s"distinct ids $distinct != input rows ${truth.rows}"
    if (invalidIds.length != truth.invalidIds.size)
      fails += s"invalid rows ${invalidIds.length} != planted ${truth.invalidIds.size}"
    val hist = invalid
      .select(explode(from_json(col(Validate.ErrorsCol), DataType.fromDDL(Errs.typeDdl))).as("e"))
      .groupBy(col("e.key"), col("e.code")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    if (hist != truth.codes) {
      val keys = (hist.keySet ++ truth.codes.keySet).toSeq.sorted
      val diff = keys.filter(k => hist.getOrElse(k, 0L) != truth.codes.getOrElse(k, 0L))
        .map(k => s"${k._1}/${k._2}: got ${hist.getOrElse(k, 0L)} planted ${truth.codes.getOrElse(k, 0L)}")
      fails += s"error-code histogram differs: ${diff.take(6).mkString("; ")}"
    }
    val caught = invalidIds.count(truth.invalidIds.contains)
    val falseAlarms = invalidIds.length - caught
    val nValidPlanted = truth.rows - truth.invalidIds.size
    val outBytes = (0 until batches).flatMap(b => Workload.filesUnder(validOut(b)) ++
      Workload.filesUnder(invalidOut(b))).map(_.length).sum
    val inBytes = (0 until batches).flatMap(b => Workload.filesUnder(in(b))).map(_.length).sum
    Checked(fails.toSeq,
      dropRecall = Workload.ratio(caught, truth.invalidIds.size),
      keepRecall = Workload.ratio(nValidPlanted - falseAlarms, nValidPlanted),
      context = Seq("input_rows" -> truth.rows, "planted_invalid" -> truth.invalidIds.size,
        "batches" -> batches, "rows_per_batch" -> rowsPerPart * parts,
        "files_written" -> (0 until batches).map(b => Workload.filesUnder(validOut(b)).size +
          Workload.filesUnder(invalidOut(b)).size).sum,
        "bytes_in" -> inBytes, "bytes_written" -> outBytes))
  }
}

/** Each op runs `TwoPassCuration.curate` over the same generated crawl and
  * collects the curated ids and text fingerprints. */
final class CurateTwoPass(seed: Long, seconds: Int, dir: String) extends Workload {
  import Gen.Crawl
  val nOps: Int = math.max(1, seconds / 7)
  private var crawl: Crawl.Crawl = _
  private var warm: Crawl.Crawl = _
  private var crawlDf: DataFrame = _
  private var warmDf: DataFrame = _
  private val outputs = mutable.ArrayBuffer.empty[Array[(Long, String)]]
  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("url", StringType), StructField("text", StringType)))

  private def write(spark: SparkSession, c: Crawl.Crawl, path: String): Unit = {
    val rows = c.docs.map(d => Row(d.id, d.url, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(path)
  }

  def generate(spark: SparkSession): String = {
    crawl = Crawl(seed, Crawl.Full, 0)
    warm = Crawl(seed, Crawl.WarmUp, 1)
    write(spark, crawl, s"$dir/in/crawl")
    write(spark, warm, s"$dir/in/warm")
    crawl.hash
  }

  def register(spark: SparkSession): Unit = {
    crawlDf = spark.read.parquet(s"$dir/in/crawl")
    warmDf = spark.read.parquet(s"$dir/in/warm")
  }

  private def curated(df: DataFrame, blocked: Seq[String], tr: Tracer): Array[(Long, String)] = {
    val out = tr("examples.TwoPassCuration.curate") { TwoPassCuration.curate(df, blocked) }
    tr("spark.collect") {
      out.select(col("doc_id"), md5(col("text").cast("binary"))).collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
  }

  def warmUp(spark: SparkSession): Unit = curated(warmDf, warm.blocked, new Tracer(false))

  def ops(spark: SparkSession, tr: Tracer): IndexedSeq[Op] =
    IndexedSeq.fill(nOps)(Op("curate_twopass", crawl.docs.size.toLong,
      () => outputs += curated(crawlDf, crawl.blocked, tr)))

  def check(spark: SparkSession): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    val inputIds = crawl.docs.iterator.map(_.id).toSet
    val recalls = outputs.toSeq.map { out =>
      val ids = out.map(_._1).toSet
      if (!ids.subsetOf(inputIds)) fails += s"${(ids -- inputIds).size} output ids not in the input"
      if (ids.size != out.length) fails += "duplicate output ids"
      val leaked = crawl.exactDups.count(ids.contains)
      if (leaked > 0) fails += s"$leaked planted exact duplicates survived"
      val sharedFp = out.length - out.map(_._2).distinct.length
      if (sharedFp > 0) fails += s"$sharedFp output docs share a fingerprint"
      (Workload.ratio(crawl.mustDrop.count(!ids.contains(_)), crawl.mustDrop.size),
        Workload.ratio(crawl.mustKeep.count(ids.contains), crawl.mustKeep.size), out.length)
    }
    if (recalls.distinct.size > 1) fails += s"ops disagree: ${recalls.distinct.mkString(", ")}"
    val (drop, keep, nOut) = recalls.headOption.getOrElse((0.0, 0.0, 0))
    Checked(fails.toSeq, drop, keep, Seq("input_docs" -> crawl.docs.size,
      "output_docs" -> nOut, "planted_dups" -> crawl.mustDrop.size,
      "planted_keep" -> crawl.mustKeep.size, "dup_recall" -> drop, "unique_kept" -> keep))
  }
}

object QueryMix {
  def tables(seed: Long): Gen.Tables.Tables =
    Gen.Tables(seed, nLines = 40000, nEvents = 40000, nDocs = 1500, nVecs = 3000)

  // op parameters, drawn once from the seed
  sealed trait Q
  final case class Vec(qids: Seq[Int], ivf: Boolean) extends Q
  final case class Bm25(queries: Seq[String]) extends Q
  final case class Stats(lo: Long, hi: Long) extends Q
  final case class Sketch(kind: String) extends Q
  final case class Check(kind: Int, param: Double, modes: Seq[String]) extends Q
}

/** An interactive session over four read-only tables: a seed-drawn sequence
  * of short vector, text, sketch and validation ops. */
final class QueryMix(seed: Long, seconds: Int, dir: String) extends Workload {
  import Gen.Tables
  val nOps: Int = math.max(20, seconds * 4)
  val K = 10
  val NProbe = 3
  val Weights: Seq[(String, Int)] = Seq("vec_exact" -> 6, "vec_ivf" -> 7, "bm25" -> 1,
    "text_stats" -> 4, "sketch" -> 5, "validate" -> 7)

  private var t: Tables.Tables = _
  private var lineitem, events, docs, emb, assigned, centroids: DataFrame = _
  private var sessions = 0

  import QueryMix._
  private lazy val plan: IndexedSeq[(String, Q)] = {
    val r = Gen.rng(seed, 9)
    val total = Weights.map(_._2).sum
    IndexedSeq.fill(nOps) {
      var x = r.nextInt(total)
      val kind = Weights.find { case (_, w) => x -= w; x < 0 }.get._1
      kind -> (kind match {
        case "vec_exact" | "vec_ivf" =>
          Vec(Seq.fill(8)(r.nextInt(t.vecs.size)).distinct, kind == "vec_ivf")
        case "bm25" => Bm25(Seq.fill(4)(Seq.fill(3)(t.vocab(r.nextInt(t.vocab.size))).mkString(" ")))
        case "text_stats" =>
          val lo = r.nextInt(t.docs.size / 2).toLong; Stats(lo, lo + t.docs.size / 2)
        case "sketch" => Sketch(Tables.EventTypes(r.nextInt(4)))
        case _ => Check(r.nextInt(3), r.nextInt(20).toDouble,
          Gen.shuffle(r, Tables.Modes).take(5))
      })
    }
  }
  private val results = mutable.Map.empty[Int, Any]

  def generate(spark: SparkSession): String = {
    import spark.implicits._
    t = tables(seed)
    def par[T: scala.reflect.ClassTag](xs: Seq[T]) = spark.sparkContext.parallelize(xs, 4)
    par(t.lines.map(l => (l.id, l.qty, l.price, l.discount, l.shipdate, l.mode, l.comment)))
      .toDF("l_id", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate", "l_shipmode", "l_comment")
      .write.parquet(s"$dir/in/lineitem")
    par(t.events.map(e => (e.userId, e.kind, e.value))).toDF("user_id", "event_type", "value")
      .write.parquet(s"$dir/in/events")
    par(t.docs.map(d => (d.id, d.text))).toDF("doc_id", "text").write.parquet(s"$dir/in/docs")
    par(t.vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }).toDF("id", "vec")
      .write.parquet(s"$dir/in/emb")
    t.hash
  }

  /** Loads the tables and builds the IVF index: seeded centroids, collected
    * into the harness, and the corpus assignment written once per session. */
  def register(spark: SparkSession): Unit = {
    sessions += 1
    lineitem = spark.read.parquet(s"$dir/in/lineitem")
    events = spark.read.parquet(s"$dir/in/events")
    docs = spark.read.parquet(s"$dir/in/docs")
    emb = spark.read.parquet(s"$dir/in/emb")
    val c = Similarity.seedCentroids(emb, "id", "vec", 24)
    centroids = spark.createDataFrame(c.collectAsList(), c.schema)
    Similarity.ivfAssign(emb, centroids, "id", "vec").write.parquet(s"$dir/ivf_$sessions")
    assigned = spark.read.parquet(s"$dir/ivf_$sessions")
  }

  private def queries(spark: SparkSession, qids: Seq[Int]): DataFrame = {
    import spark.implicits._
    qids.map(i => (i.toLong, t.vecs(i).toSeq)).toDF("id", "vec")
  }

  private def run(spark: SparkSession, tr: Tracer, i: Int, q: Q): Unit = q match {
    case Vec(qids, false) =>
      val df = tr("ops.Similarity.bruteForceTopK") {
        Similarity.bruteForceTopK(emb, queries(spark, qids), "id", "vec", K)
      }
      results(i) = tr("spark.collect")(df.collect())
    case Vec(qids, true) =>
      val df = tr("ops.Similarity.ivfTopK") {
        Similarity.ivfTopK(assigned, queries(spark, qids), centroids, "id", "vec", K, NProbe)
      }
      results(i) = tr("spark.collect")(df.collect())
    case Bm25(qs) =>
      import spark.implicits._
      val qdf = qs.zipWithIndex.map { case (s, j) => (j.toLong, s) }.toDF("qid", "qtext")
      val df = tr("ops.Retrieval.bm25TopK") {
        Retrieval.bm25TopK(docs, "doc_id", "text", qdf, "qid", "qtext", k = K)
      }
      results(i) = tr("spark.collect")(df.collect())
    case Stats(lo, hi) =>
      val lang = tr("ops.TextAnalysis.languageId")(TextAnalysis.languageId(col("text")))
      val quality = tr("ops.TextAnalysis.qualityScore")(TextAnalysis.qualityScore(col("text")))
      val df = docs.filter(col("doc_id").between(lo, hi - 1))
        .groupBy(lang.as("lang")).agg(count(lit(1)).as("n"), avg(quality).as("q"))
      results(i) = tr("spark.collect")(df.collect())
    case Sketch(kind) =>
      val qs = tr("ops.Sketches.approxQuantiles") {
        Sketches.approxQuantiles(events.filter(col("event_type") === kind), "value", Seq(0.5, 0.9, 0.99))
      }
      val fi = tr("ops.Sketches.frequentItems") {
        Sketches.frequentItems(events, Seq("event_type", "user_id"), 0.05)
      }
      results(i) = tr("spark.collect")((qs.collect(), fi.collect()))
    case Check(kind, p, modes) =>
      val spec: (String, Validator) = kind match {
        case 0 => "l_quantity" -> (F.Required(F.Emptiness.never) | F.Max(30.0 + p))
        case 1 => "l_discount" -> (F.Required(F.Emptiness.never) | F.Min(0.01 + (p % 5) / 100.0))
        case _ => "l_shipmode" -> (F.Required() | F.Choice(modes))
      }
      val res = tr("core.Validate.columns")(Validate.columns(lineitem, spec))
      results(i) = tr("spark.collect")(res.invalid.select("l_id").collect().map(_.getLong(0)))
  }

  private def rowsOf(q: Q): Long = q match {
    case _: Vec => t.vecs.size
    case _: Bm25 | _: Stats => t.docs.size
    case _: Sketch => 2L * t.events.size
    case _: Check => t.lines.size
  }

  def warmUp(spark: SparkSession): Unit = {
    // one op of every type, drawn from the same plan
    val first = Weights.map(_._1).flatMap(k => plan.find(_._1 == k))
    first.foreach { case (_, q) => run(spark, new Tracer(false), -1, q) }
    results.remove(-1)
  }

  def ops(spark: SparkSession, tr: Tracer): IndexedSeq[Op] =
    plan.zipWithIndex.map { case ((kind, q), i) => Op(kind, rowsOf(q), () => run(spark, tr, i, q)) }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
    d / math.sqrt(na * nb)
  }
  /** The harness's exact top-k: (id, sim) by descending sim, then id. */
  private def exactTopK(q: Int): Seq[(Long, Double)] =
    t.vecs.indices.iterator.filter(_ != q).map(j => (j.toLong, cosine(t.vecs(q), t.vecs(j))))
      .toSeq.sortBy { case (j, s) => (-s, j) }.take(K)

  def check(spark: SparkSession): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    var ivfHit, ivfTotal, mustDrop, dropped = 0L
    val exact = mutable.Map.empty[Int, Seq[(Long, Double)]]
    def ref(q: Int) = exact.getOrElseUpdate(q, exactTopK(q))
    def byQuery(rows: Array[Row]) = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q.toInt -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    for (((_, q), i) <- plan.zipWithIndex; res <- results.get(i)) (q, res) match {
      case (Vec(qids, false), rows: Array[Row] @unchecked) =>
        val got = byQuery(rows)
        for (qid <- qids) {
          val g = got.getOrElse(qid, Nil); val e = ref(qid)
          // equal similarity at every rank; ids may differ only inside exact ties
          if (g.size != e.size || g.zip(e).exists { case (a, b) => math.abs(a._2 - b._2) > 1e-9 })
            fails += s"op $i: vec_exact top-$K of query $qid differs from the exact reference"
        }
      case (Vec(qids, true), rows: Array[Row] @unchecked) =>
        val got = byQuery(rows)
        for (qid <- qids) {
          val e = ref(qid).map(_._1).toSet
          ivfHit += got.getOrElse(qid, Nil).count(x => e.contains(x._1)); ivfTotal += e.size
        }
      case (Check(kind, p, modes), ids: Array[Long] @unchecked) =>
        val bad = t.lines.iterator.filter { l =>
          kind match {
            case 0 => l.qty > 30.0 + p
            case 1 => l.discount < 0.01 + (p % 5) / 100.0
            case _ => !modes.contains(l.mode)
          }
        }.map(_.id).toSet
        val flagged = ids.toSet
        mustDrop += bad.size; dropped += bad.count(flagged.contains)
        if (flagged != bad) fails += s"op $i: validate flagged ${flagged.size} rows, predicate rejects ${bad.size}"
      case (Stats(lo, hi), rows: Array[Row] @unchecked) =>
        val n = rows.map(_.getLong(1)).sum
        if (n != hi - lo) fails += s"op $i: text_stats counted $n docs, expected ${hi - lo}"
      case _ => ()
    }
    val topk = Workload.ratio(ivfHit, ivfTotal)
    Checked(fails.toSeq, Workload.ratio(dropped, mustDrop), topk,
      Seq("topk_recall" -> topk, "ivf_queries" -> ivfTotal / K,
        "op_mix" -> plan.groupBy(_._1).map { case (k, v) => k -> v.size }))
  }
}
