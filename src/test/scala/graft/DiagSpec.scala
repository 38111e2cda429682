package graft

import org.apache.spark.sql.functions.sum

class DiagSpec extends SparkSpec {
  // a join feeding an aggregate: AQE plans it (shuffle exchanges), and
  // no testdata is read
  private def joinAgg = {
    val a = spark.range(0, 2000).selectExpr("id % 50 as k", "id as v")
    val b = spark.range(0, 50).selectExpr("id as k", "id % 5 as g")
    a.join(b, "k").groupBy("g").agg(sum("v").as("sv"))
  }

  test("plan prints the executed plan, after AQE has finalized it") {
    val p = Diag.plan(joinAgg)
    assert(p.contains("isFinalPlan=true"), p)
  }

  test("jobs reports the measured pass's jobs with their tasks, and " +
      "their time fits inside the measured wall") {
    val r = Diag.jobs(spark, joinAgg)
    val shown = r.render("joinAgg")
    assert(r.jobs.exists(_.tasks > 0), shown)
    assert(r.jobTimeS <= r.wallS, shown)
    assert(shown.contains("driver-only"), shown)
  }
}
