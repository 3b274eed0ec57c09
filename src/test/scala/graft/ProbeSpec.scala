package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each `graft.Probe` mode's measuring function, once on one sf0.001
  * query. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val q = "q_groupby_count"

  test("time: three positive wall times") {
    val ts = Probe.time(spark, TestSpark.sf0001, q)
    assert(ts.size == 3 && ts.forall(_ > 0), ts)
  }

  test("jobs / census: the recorded run saw its jobs, stages and tasks") {
    val r = Probe.record(spark)(
      Probe.exec(SparkEntry.queries(q)(spark, TestSpark.sf0001)))
    assert(r.sec > 0)
    assert(r.jobs.nonEmpty, r)
    assert(r.jobs.forall(j => j.sec >= 0 && j.site.nonEmpty), r)
    assert(r.stages >= 1 && r.tasks >= 1, r)
  }

  test("plan: executed plan and formatted explain are non-empty") {
    assert(Probe.plan(spark, TestSpark.sf0001, q, formatted = false).nonEmpty)
    assert(Probe.plan(spark, TestSpark.sf0001, q, formatted = true)
      .contains("Physical Plan"))
  }
}
