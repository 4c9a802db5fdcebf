package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.registry.{Case, Check}
/** Correctness dump: each checked case's result (every [[registry.Case]]
  * except the timed-only ones) → parquet, plus oracle_sql.json, for the
  * DuckDB compare (`tools/check_oracle.py`).
  *
  * `runMain graft.Verify <sfDir> <outDir> [q1,q2,...]` */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [q1,q2,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val checked = SparkEntry.cases.filter(_.check != Check.TimedOnly)
    // an optional name list dumps only those queries (the inner loop
    // while changing a few of them); no list dumps every query
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cases = only.fold(checked) { names =>
      val unknown = names -- checked.map(_.name)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      checked.filter(c => names(c.name))
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a crashed query must be LOUD in the artifacts, not just on stderr:
    // in round 9 a thrown query was simply absent from the correctness
    // report and nothing downstream noticed until the judge diffed counts
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // Non-empty-result invariant (r13 verdict): a query whose result is
    // EMPTY at the verify scale makes its oracle compare vacuous — two
    // empty sets hash-match even when the operator is broken (q_triangles
    // and q_kaplan_meier shipped exactly that in r13). Every query must
    // return rows at sf0.01; violations land in the failure manifest.
    cases.foreach { c =>
      val name = c.name
      try {
        c.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // metadata-only count of the just-written footers — cheap, and it
        // checks what the DRIVER will read, not a recomputation
        if (spark.read.parquet(s"$outDir/$name").count() == 0L) {
          System.err.println(s"[verify] $name returned 0 rows (vacuous oracle compare)")
          failed += name -> "empty result at verify scale (vacuous oracle compare)"
        }
      }
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage)
      }
      Harness.clearState(spark)
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
    val json = cases.collect { case Case(name, Check.Oracle(sql)) => s"${q(name)}: ${q(sql)}" }
      .mkString("{", ",", "}")
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
