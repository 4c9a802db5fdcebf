package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.registry.Check

/** Audit-chain sync gate (r14 verdict ask): every query the driver
  * checks (= every registry case that is not timed-only) must be cited in
  * COVERAGE.md, so SURVEY → COVERAGE → CORRECTNESS closes over the whole
  * surface — a green query no COVERAGE row claims is an audit gap
  * (q_audio_features and q_reject_reasons in r14). Runs off the
  * committed files; sbt executes from the repo root. */
class DocSyncSpec extends AnyFunSuite {

  test("every SparkEntry query key is cited in COVERAGE.md") {
    val cov = java.nio.file.Files.readString(
      java.nio.file.Path.of("COVERAGE.md"))
    val missing = SparkEntry.cases.filter(_.check != Check.TimedOnly)
      .map(_.name).sorted.filterNot(cov.contains)
    assert(missing.isEmpty,
      s"COVERAGE.md cites no row for: ${missing.mkString(", ")}")
  }

  test("every graft/…/*.scala path the design docs cite exists under src/") {
    val cited = """graft/[A-Za-z0-9_/]+\.scala""".r
    val stale = for {
      doc <- Seq("COVERAGE.md", "SCALE.md", "SURVEY.md")
      path <- cited.findAllIn(java.nio.file.Files.readString(java.nio.file.Path.of(doc))).toSeq.distinct
      if !Seq("src/main/scala", "src/test/scala").exists(root =>
        java.nio.file.Files.exists(java.nio.file.Path.of(root, path)))
    } yield s"$doc: $path"
    assert(stale.isEmpty, s"cited files that do not exist: ${stale.mkString(", ")}")
  }
}
