package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Column-level wrappers over [[Kernels]] as native Catalyst expressions.
  *
  * `StaticInvoke` generates a direct static call inside whole-stage codegen
  * (`propagateNull = true` gives builtin-style null semantics) — the
  * preferred shape for custom scalar kernels per SURVEY.md §4/§7: not a UDF,
  * so column pruning / filter pushdown / codegen all survive.
  */
object native {
  private def invoke(dt: DataType, fn: String, args: Seq[Expression],
                     inputTypes: Seq[DataType]): Column =
    GraftSqlShim.column(StaticInvoke(
      Kernels.getClass, dt, fn, args, inputTypes,
      propagateNull = true, returnNullable = true))

  private def e(c: Column): Expression = GraftSqlShim.expression(c)

  def nfc(c: Column): Column =
    GraftSqlShim.column(NfcNormalize(e(c)))

  def unicodeClean(c: Column): Column =
    invoke(StringType, "unicodeClean", Seq(e(c)), Seq(StringType))

  def caseFold(c: Column): Column =
    invoke(StringType, "caseFold", Seq(e(c)), Seq(StringType))

  def base64Strict(c: Column): Column =
    invoke(BinaryType, "base64Strict", Seq(e(c)), Seq(StringType))

  def utf8Truncate(c: Column, maxBytes: Int, prefix: String): Column =
    invoke(StringType, "utf8Truncate",
      Seq(e(c), Literal(maxBytes), Literal(prefix)),
      Seq(StringType, IntegerType, StringType))

  def ipNormalize(c: Column, ipv4: Boolean, ipv6: Boolean): Column =
    invoke(StringType, "ipNormalize",
      Seq(e(c), Literal(ipv4), Literal(ipv6)),
      Seq(StringType, BooleanType, BooleanType))

  def uuidNormalize(c: Column): Column =
    invoke(StringType, "uuidNormalize", Seq(e(c)), Seq(StringType))

  def percentNormalize(c: Column): Column =
    invoke(StringType, "percentNormalize", Seq(e(c)), Seq(StringType))

  def uuidVersion(c: Column): Column =
    invoke(IntegerType, "uuidVersion", Seq(e(c)), Seq(StringType))

  def bytesFromInts(c: Column): Column =
    invoke(BinaryType, "bytesFromInts", Seq(e(c)),
      Seq(ArrayType(IntegerType)))

  def rollingHash(c: Column): Column =
    invoke(LongType, "rollingHash", Seq(e(c)), Seq(StringType))

  def dedupNormalize(c: Column): Column =
    invoke(StringType, "dedupNormalize", Seq(e(c)), Seq(StringType))

  def cmsBucket(k: Column, a: Long, b: Long, width: Int): Column =
    invoke(LongType, "cmsAffineBucket",
      Seq(e(k), Literal(a), Literal(b), Literal(width.toLong - 1)),
      Seq(LongType, LongType, LongType, LongType))

  def latin1Misdecode(c: Column): Column =
    invoke(StringType, "latin1Misdecode", Seq(e(c)), Seq(StringType))

  def fixMojibake(c: Column, passes: Int = 1): Column =
    invoke(StringType, "fixMojibake", Seq(e(c), Literal(passes)),
      Seq(StringType, IntegerType))

  def deflateRatio(c: Column, level: Int = 6): Column =
    invoke(DoubleType, "deflateRatio", Seq(e(c), Literal(level)),
      Seq(StringType, IntegerType))

  def jaroWinkler(a: Column, b: Column): Column =
    invoke(DoubleType, "jaroWinkler", Seq(e(a), e(b)),
      Seq(StringType, StringType))

  def robotsMatch(path: Column, pattern: Column): Column =
    invoke(BooleanType, "robotsMatch", Seq(e(path), e(pattern)),
      Seq(StringType, StringType))

  def simHash(c: Column): Column =
    invoke(LongType, "simHash", Seq(e(c)), Seq(StringType))

  def minhashSig(c: Column, numHashes: Int): Column =
    invoke(ArrayType(LongType, containsNull = false), "minhashSig",
      Seq(e(c), Literal(numHashes)), Seq(StringType, IntegerType))

  def minhashSigShingles(c: Column, k: Int, numHashes: Int): Column =
    invoke(ArrayType(LongType, containsNull = false), "minhashSigShingles",
      Seq(e(c), Literal(k), Literal(numHashes)), Seq(StringType, IntegerType, IntegerType))

  // array kernels declare their element types: ArrayData.getDouble on an
  // array<float> column would read 4-byte slots as 8-byte doubles; the
  // declared inputTypes make the analyzer insert the widening cast (or
  // fail cleanly) instead
  def sigAgreement(a: Column, b: Column): Column =
    invoke(DoubleType, "sigAgreement", Seq(e(a), e(b)),
      Seq(ArrayType(LongType), ArrayType(LongType)))

  def dotD(a: Column, b: Column): Column =
    invoke(DoubleType, "dotD", Seq(e(a), e(b)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)))

  def cosineD(a: Column, b: Column): Column =
    invoke(DoubleType, "cosineD", Seq(e(a), e(b)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)))

  def lshBucketD(v: Column, bits: Int): Column =
    invoke(LongType, "lshBucketD", Seq(e(v), Literal(bits)),
      Seq(ArrayType(DoubleType), IntegerType))

  def languageId(c: Column): Column =
    invoke(StringType, "languageId", Seq(e(c)), Seq(StringType))

  def qualityScore(c: Column, stopLang: String): Column =
    invoke(DoubleType, "qualityScore",
      Seq(e(c), Literal(Kernels.stopLangIndex(stopLang))), Seq(StringType, IntegerType))

  def charEntropy(c: Column): Column =
    invoke(DoubleType, "charEntropy", Seq(e(c)), Seq(StringType))

  /** See [[PublicSuffixDomain]]: `host` must already be lowercased. */
  def registrableDomain(host: Column, pslRules: Seq[String]): Column =
    GraftSqlShim.column(PublicSuffixDomain(e(host), pslRules))

  def htmlEntityDecode(c: Column): Column =
    invoke(StringType, "htmlEntityDecode", Seq(e(c)), Seq(StringType))

  /** try_cast — null instead of error on failed cast (ANSI-safe coercion). */
  def tryCast(c: Column, dt: DataType): Column =
    GraftSqlShim.column(Cast(e(c), dt, Some("UTC"), EvalMode.TRY))

  def zValue2(a: Column, b: Column): Column =
    invoke(LongType, "zValue2", Seq(e(a), e(b)), Seq(LongType, LongType))

  def zValue3(a: Column, b: Column, c: Column): Column =
    invoke(LongType, "zValue3", Seq(e(a), e(b), e(c)),
      Seq(LongType, LongType, LongType))

  def dotI(a: Column, b: Column): Column =
    invoke(LongType, "dotI", Seq(e(a), e(b)),
      Seq(ArrayType(IntegerType), ArrayType(IntegerType)))

  def pqEncode(v: Column, codebook: Column, m: Int, k: Int): Column =
    invoke(ArrayType(IntegerType, containsNull = false), "pqEncode",
      Seq(e(v), e(codebook), Literal(m), Literal(k)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType, IntegerType))

  def pqLut(q: Column, codebook: Column, m: Int, k: Int): Column =
    invoke(ArrayType(LongType, containsNull = false), "pqLut",
      Seq(e(q), e(codebook), Literal(m), Literal(k)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType, IntegerType))

  def pqAdc(codes: Column, lut: Column, k: Int): Column =
    invoke(LongType, "pqAdc", Seq(e(codes), e(lut), Literal(k)),
      Seq(ArrayType(IntegerType), ArrayType(LongType), IntegerType))

  def maxAbsD(a: Column): Column =
    invoke(DoubleType, "maxAbsD", Seq(e(a)), Seq(ArrayType(DoubleType)))

  def quantizeI8D(a: Column, maxAbs: Column): Column =
    invoke(ArrayType(IntegerType, containsNull = false), "quantizeI8D",
      Seq(e(a), e(maxAbs)), Seq(ArrayType(DoubleType), DoubleType))

  /** Bloom-filter membership probe against a pre-built serialized filter
    * (`org.apache.spark.util.sketch.BloomFilter.writeTo` bytes) — the same
    * codegen'd `BloomFilterMightContain` expression Spark's runtime-filter
    * optimization injects into shuffle joins, here exposed for filters the
    * PIPELINE owns (a persisted seen-keys sketch probed across jobs, not
    * within one). `value` must be a LongType column probed exactly as the
    * keys were inserted (see [[graft.ops.Dedup.seenFilter]]: xxhash64 on
    * both sides). */
  def bloomMightContain(filterBytes: Array[Byte], value: Column): Column =
    GraftSqlShim.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        Literal(filterBytes, BinaryType), e(value)))

  /** Sharded-sketch membership probe (see [[BloomMightContainSharded]]):
    * routes `value` (the insert-time hash) to its shard and probes only
    * that filter — constant-size generated code at any shard count. */
  def bloomMightContainSharded(shardBytes: Seq[Array[Byte]], value: Column): Column =
    GraftSqlShim.column(BloomMightContainSharded(shardBytes, e(value)))

  /** KMV theta-sketch aggregate over a LongType hash column (see
    * [[KmvSketchAgg]]; estimator algebra in `graft.ops.Sketches.kmv*`). */
  def kmvSketch(hash: Column, k: Int): Column =
    GraftSqlShim.column(
      KmvSketchAgg(e(hash), k).toAggregateExpression())

  /** Element-wise vector-sum aggregate over `array<double>` rows →
    * `struct(sum, n)` (see [[ArraySumAgg]]; `Similarity.meanPool`). */
  def arraySum(vec: Column): Column =
    GraftSqlShim.column(ArraySumAgg(e(vec)).toAggregateExpression())
}
