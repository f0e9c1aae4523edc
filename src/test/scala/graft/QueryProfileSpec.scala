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

  private val Description = "spark.job.description"

  test("withPhase labels every job of its body, AQE stage jobs included, and restores") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val profile = QueryProfile.attach(spark)
      val run = try profile.record {
        QueryProfile.withPhase(spark, "phase: outer") {
          // a shuffle (an AQE query-stage job) and a broadcast join
          spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
            .join(spark.range(0, 7).withColumnRenamed("id", "k"), "k").collect()
          QueryProfile.withPhase(spark, "phase: inner")(spark.range(0, 10).collect())
          assert(sc.getLocalProperty(Description) == "phase: outer")
          spark.range(0, 10).count()
        }
      } finally profile.detach()
      val phases = run.jobs.map(_.description)
      assert(phases.size >= 4, run.jobs)
      assert(phases.count(_ == "phase: inner") == 1, phases)
      assert(phases.filterNot(_ == "phase: inner").forall(_ == "phase: outer"), phases)
      assert(run.stages.nonEmpty && run.stages.forall(_.phase.startsWith("phase: ")))
      assert(sc.getLocalProperty(Description) == "caller")
      // restored when the body throws, too
      intercept[IllegalStateException](QueryProfile.withPhase(spark, "phase: failing") {
        throw new IllegalStateException("boom")
      })
      assert(sc.getLocalProperty(Description) == "caller")
    } finally sc.setJobDescription(null)
    assert(sc.getLocalProperty(Description) == null)
  }

  test("SuffixArray labels its phases and leaves the caller's description as it found it") {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val profile = QueryProfile.attach(spark)
      val run = try profile.record {
        operators.SuffixArray.suffixRanks(
          Seq((1L, "banana bandana"), (2L, "bandanas")).toDF("doc_id", "text"),
          "doc_id", "text").collect()
      } finally profile.detach()
      assert(run.jobs.exists(_.description == "sa: densify"), run.jobs)
      assert(sc.getLocalProperty(Description) == "caller")
    } finally sc.setJobDescription(null)
  }
}
