package graft

import org.apache.spark.sql.GraftStatus

/** `graft.Profile` reads real numbers out of Spark's status stores: a
  * profiled query ran tasks, its CPU time fits inside its run time, and
  * its plan counts are those of the execution the store recorded. */
class ProfileSpec extends SparkSpec {
  private val Sf = "/root/testdata/sf0.001"

  test("profile of ltss_anomaly_mad: tasks, CPU within run time, plan counts") {
    val p = Profile.profile(spark, Sf, "ltss_anomaly_mad")
    assert(p.jobs > 0 && p.stages > 0 && p.tasks > 0, p.json)
    assert(p.cpuNs / 1e6 <= p.runMs.toDouble, p.json)
    // the same execution, read back from the store independently
    val recorded = GraftStatus.executions(spark).map(_.physicalPlanDescription)
    assert(recorded.contains(p.plan), "profiled plan is not a recorded execution's plan")
    val exchangeLines = p.plan.linesIterator.count(l =>
      l.matches("""^[ :|+\-*]*(Shuffle|Broadcast)?Exchange \(\d+\).*"""))
    assert(p.counts.exchanges == exchangeLines, p.plan)
    assert(p.counts.exchanges > 0, p.plan)
  }

  test("an unknown query name fails naming the query") {
    val e = intercept[IllegalArgumentException](
      Profile.profile(spark, Sf, "no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }
}
