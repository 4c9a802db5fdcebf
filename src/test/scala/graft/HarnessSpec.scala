package graft

import graft.tools.QProf

/** The profiler's per-query routine and the harness reset between
  * queries, on one cheap query at sf0.001. q_interleave pins its weighted
  * input during build, so its build phase launches jobs of its own and
  * leaves RDD-level storage for the reset to drop. */
class HarnessSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def assertClean(): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, "cacheManager has entries")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persistent RDDs left: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  for (reps <- Seq(0, 1))
    test(s"QProf.profile splits build from execute and counts jobs (reps=$reps)") {
      val p = QProf.profile(spark, "q_interleave", sfDir, reps)
      assert(p.warm.size == reps)
      for (r <- p.cold +: p.warm) {
        assert(r.buildS > 0 && r.execS > 0, r)
        assert(r.buildJobs >= 1, s"build launched no job (pin and schema read): $r")
        assert(r.execJobs >= 1, s"noop write launched no job: $r")
      }
      assertClean()
    }

  test("Harness.clearState empties the cacheManager and drops persistent RDDs") {
    spark.range(100).cache().count()
    spark.range(100).localCheckpoint()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.clearState(spark)
    assertClean()
  }
}
