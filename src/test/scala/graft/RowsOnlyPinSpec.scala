package graft

import org.apache.spark.sql.Row
import graft.registry.Check

/** Regression pins for the rows-only queries — the ones whose DuckDB
  * oracle cannot mirror the Spark computation (LSH bucket membership,
  * engine-internal seeding). The driver's gate only checks their row
  * COUNT, which is a weak tripwire: a silent drift in the LSH path could
  * reshuffle which rows survive while the count stays stable. Each
  * query's full sorted result at sf0.01 (the driver's gate scale) is
  * pinned here as a content hash over a canonical rendering.
  *
  * The pinned set is derived from the registry itself (every case whose
  * check is `RowsOnly`), so ADDING a rows-only query
  * without pinning it fails this spec rather than slipping through.
  *
  * Re-derive a hash ONLY with an explicit fixture-update commit: run the
  * suite, copy the computed hash from the failure message, and justify
  * the behavior change in the commit message.
  */
class RowsOnlyPinSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  /** Expected md5 of each rows-only query's canonical sorted rendering. */
  private val pinned: Map[String, String] = Map(
    // q_dedup_embedding graduated to a full DuckDB oracle in r12 (the
    // ±1 splitmix64 hyperplanes regenerate as SQL literals); r14 graduated
    // q_ivf_topk (seedCentroids picks committed as oracle literals) and
    // q_dedup_incremental (word-token minhash mirrored in HUGEINT); r15
    // made q_dedup_minhash timed-only — its full-path correctness
    // home is now the oracle-checked q_minhash_oracle clamp, and its
    // corpus-scale content pin lives in the dedicated test below
    "q_pipeline_e2e" -> "bbc1d1cba93be09a16c0ff961a4aa0c1",
    "q_twopass" -> "aab7fbfd4bc64c07d7eac08d2a018b1c")

  /** Deterministic rendering: bit-exact for doubles (java toString),
    * recursive for arrays/structs, explicit null marker. */
  private def render(v: Any): String = v match {
    case null => "<null>"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def contentHash(name: String): String = {
    val df = SparkEntry(name).build(spark, sfDir)
    val lines = df.collect().map(r => render(r)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  test("every rows-only query is pinned (no unpinned rows-only entries)") {
    val rowsOnly = SparkEntry.cases.filter(_.check == Check.RowsOnly).map(_.name).toSet
    assert(rowsOnly == pinned.keySet,
      s"rows-only set drifted: unpinned=${rowsOnly -- pinned.keySet}, " +
        s"stale pins=${pinned.keySet -- rowsOnly}")
  }

  for ((name, expected) <- pinned.toSeq.sortBy(_._1)) {
    test(s"$name sf0.01 content hash is pinned") {
      val actual = contentHash(name)
      assert(actual == expected,
        s"$name content drifted: computed $actual, pinned $expected — if the " +
          "behavior change is intended, update the pin in an explicit " +
          "fixture-update commit")
    }
  }

  test("q_dedup_minhash (timed-only) sf0.01 content hash is pinned") {
    // bench-only since r15, but the content pin STAYS: this self-similar
    // corpus is the one input where the hot-bucket guard actually fires,
    // which no SQL-mirrorable clamp can cover — the hash is the guard's
    // regression tripwire (same render/hash as the rows-only pins; the
    // pinned value is unchanged from the query's rows-only era)
    val actual = contentHash("q_dedup_minhash")
    assert(actual == "ed543d124949ebe2ce229b43bcd07ec3",
      s"q_dedup_minhash content drifted: computed $actual")
  }
}
