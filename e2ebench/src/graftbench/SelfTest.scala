package graftbench

/** Self-test of the input generators (no Spark): the same seed gives the
  * same input hash, another seed a different one, and the planted sets are
  * large enough that a ratio over them varies by at most ~1% between seeds
  * (binomial standard error sqrt(p(1-p)/n) <= 0.01 for every p needs
  * n >= 2500). Exits non-zero on any failure. */
object SelfTest {
  val MinPlanted = 2500

  /** The smallest validate_quarantine input: two batches. */
  def vq(seed: Long): Gen.Vq.Truth = Gen.Vq.truth(seed, 0 until 2, ValidateQuarantine.Parts,
    ValidateQuarantine.RowsPerBatch / ValidateQuarantine.Parts)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val failures = Seq.newBuilder[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }
    val gens: Seq[(String, Long => String)] = Seq(
      "validate_quarantine" -> (s => vq(s).hash),
      "curate_twopass" -> (s => Gen.Crawl(s, Gen.Crawl.Full, 0).hash),
      "query_mix" -> (s => QueryMix.tables(s).hash))
    for ((name, hash) <- gens) {
      val (a, b, c) = (hash(11), hash(11), hash(12))
      expect(a == b, s"$name: seed 11 twice gives one hash ($a)")
      expect(a != c, s"$name: seeds 11 and 12 give different hashes")
    }
    for (seed <- Seq(11L, 12L)) {
      val crawl = Gen.Crawl(seed, Gen.Crawl.Full, 0)
      expect(crawl.mustDrop.size >= MinPlanted, s"seed $seed: ${crawl.mustDrop.size} planted duplicates >= $MinPlanted")
      expect(crawl.mustKeep.size >= MinPlanted, s"seed $seed: ${crawl.mustKeep.size} planted keeps >= $MinPlanted")
      expect(crawl.mustDrop.intersect(crawl.mustKeep).isEmpty, s"seed $seed: planted drop and keep sets are disjoint")
      val v = vq(seed)
      expect(v.invalidIds.size >= MinPlanted, s"seed $seed: ${v.invalidIds.size} planted invalid rows >= $MinPlanted")
    }
    val f = failures.result()
    println(s"[selftest] ${if (f.isEmpty) "passed" else s"${f.size} failed"}")
    System.exit(if (f.isEmpty) 0 else 1)
  }
}
