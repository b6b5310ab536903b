package graft

/** The per-query routine every harness main shares, on the test session. */
class HarnessSpec extends SparkSpec {

  test("profile: a registered query reports a positive noop time and its jobs") {
    val (seconds, jobs) = Harness.profile(spark, "q1_agg", "/root/testdata/sf0.001")
    assert(seconds > 0.0)
    assert(jobs >= 1)
  }

  test("countJobs: counts only the jobs its own body submits") {
    spark.range(10).collect() // earlier work, must not be counted
    assert(Harness.countJobs(spark)(()) == (((), 0)))
    assert(Harness.countJobs(spark)(spark.range(10).collect().length) == ((10, 1)))
  }
}
