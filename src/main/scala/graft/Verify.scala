package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // keep the verify session's planner aligned with Bench (r16):
      // same AQE partition-size floor, so the hash-checked plans are the
      // ones the bench actually times
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a crashed query must be LOUD in the artifacts, not just on stderr:
    // in round 9 a thrown query was simply absent from the correctness
    // report and nothing downstream noticed until the judge diffed counts
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // Non-empty-result invariant (r13 verdict): a query whose result is
    // EMPTY at the verify scale makes its oracle compare vacuous — two
    // empty sets hash-match even when the operator is broken (q_triangles
    // and q_kaplan_meier shipped exactly that in r13). Every query must
    // return rows at sf0.01 unless explicitly whitelisted as
    // empty-by-design; violations land in the failure manifest.
    val emptyByDesign = Set.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // metadata-only count of the just-written footers — cheap, and it
        // checks what the DRIVER will read, not a recomputation
        if (!emptyByDesign(name) &&
            spark.read.parquet(s"$outDir/$name").count() == 0L) {
          System.err.println(s"[verify] $name returned 0 rows (vacuous oracle compare)")
          failed += name -> "empty result at verify scale (vacuous oracle compare)"
        }
      }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage)
      }
      // per-query isolation (r10 verdict): a 96-query session must not
      // accumulate cached state across queries — clear Dataset-level
      // caches and any RDD-level storage (persists / checkpoint pins the
      // ContextCleaner hasn't reclaimed yet)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure manifest: always written (empty object = clean run), so a
    // missing result directory is distinguishable from a never-registered
    // query by artifact inspection alone
    val failJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"), failJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    spark.stop()
  }
}
