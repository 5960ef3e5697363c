package graft

/** `graft.Probe`'s query selection and its `jobs` recorder. */
class ProbeSpec extends SparkSpec {

  test("query lists resolve full names and qNN prefixes, and reject unknown ones") {
    val q01 = SparkEntry.queries.keys.find(_.startsWith("q01_")).get
    assert(Probe.select(Some(s"q01,$q01")) == Seq(q01, q01))
    assert(Probe.select(None) == SparkEntry.queries.keys.toSeq)
    intercept[IllegalArgumentException](Probe.select(Some("q01,nope")))
  }

  test("jobs recorder counts the jobs the status tracker files under the caller's job group") {
    val sc = spark.sparkContext
    val group = "probe-spec-q01"
    val q01 = SparkEntry.queries(Probe.select(Some("q01")).head)
    sc.setJobGroup(group, "ProbeSpec q01", interruptOnCancel = false)
    val stats = try Probe.recordJobs(spark, q01, sf) finally sc.clearJobGroup()
    val tracked = sc.statusTracker.getJobIdsForGroup(group).length
    assert(stats.jobs > 0 && stats.stages > 0 && stats.tasks >= stats.stages, s"$stats")
    assert(stats.jobs == tracked, s"recorder $stats, status tracker $tracked jobs")
  }
}
