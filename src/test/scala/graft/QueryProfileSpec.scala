package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite with SparkSpec {

  test("driver gap is the part of the run no job covers") {
    // overlapping jobs count their union once: covered 100..250
    assert(QueryProfile.driverGapS(0L, 1000L, Seq((100L, 200L), (150L, 250L))) === 0.85)
    // a job inside another adds nothing
    assert(QueryProfile.driverGapS(0L, 1000L, Seq((100L, 400L), (200L, 300L))) === 0.7)
    // disjoint jobs, given out of order, each count
    assert(QueryProfile.driverGapS(0L, 1000L, Seq((600L, 700L), (100L, 200L))) === 0.8)
    // jobs are clipped to the run
    assert(QueryProfile.driverGapS(100L, 300L, Seq((0L, 150L), (250L, 900L))) === 0.1)
    assert(QueryProfile.driverGapS(0L, 500L, Nil) === 0.5)
  }

  test("an isolated child's time is read from its queries object") {
    val line = """{"metric":"total","value":9.5,"shuffle_mb":{"d33_bm25_topk":7.25},""" +
      """"profile":{"d33_bm25_topk":{"jobs":17,"task_s":0.5}},"queries":{"d33_bm25_topk":2.5,"q01_agg_pushdown":1}}"""
    assert(Bench.queryTimes(line) === Map("d33_bm25_topk" -> 2.5, "q01_agg_pushdown" -> 1.0))
    assert(Bench.queryTimes("[bench] d33_bm25_topk failed").isEmpty)
  }

  test("d33 profile: job and exchange counts, and a plan file named as PlanDump named it") {
    val planDir = tmpDir("profile-plans")
    val run = tools.Profile.profile(spark, "d33_bm25_topk", "/root/testdata/sf0.001",
      Some((planDir, "t")))
    // measured at sf0.001 on the 4-core suite session; the corpus tokenize
    // and its shuffle run once, so the df and tf sides reuse them
    assert(run.jobs.size === 18)
    assert((run.exchanges, run.reusedExchanges) === ((15, 2)))
    assert(run.stages.nonEmpty && run.taskS > 0 && run.driverGapS >= 0)
    val plan = java.nio.file.Paths.get(planDir, "d33_bm25_topk_t.txt")
    assert(java.nio.file.Files.readString(plan).startsWith("== Physical Plan =="))
  }
}
