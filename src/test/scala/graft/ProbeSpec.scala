package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench mains' measurement core: one timed build-plan-run per call,
  * failures recorded rather than thrown, and the JSON renderer every
  * artifact and stdout line goes through. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("measure runs a registered query in full, splits its seconds " +
    "into build, plan and exec, and counts its jobs") {
    val counters = TaskCounters.register(spark)
    var executed = false
    val r = Probe.measure(spark, dir, "q01_aggregate_orders",
      counters = Some(counters),
      inspect = qe => executed = qe.executedPlan != null)
    assert(r.failure.isEmpty)
    assert(r.rows == SparkEntry.queries("q01_aggregate_orders")(spark, dir)
      .count())
    assert(Seq(r.buildSec, r.planSec, r.execSec, r.gcSec).forall(_ >= 0))
    assert(r.sec == r.buildSec + r.planSec + r.execSec)
    assert(r.counts.exists(c => c.jobs > 0 && c.tasks > 0))
    assert(executed)
    assert(Probe.measure(spark, dir, "q01_aggregate_orders").counts.isEmpty)
  }

  test("measure records a failure instead of throwing, bills the failing " +
    "phase, and skips inspect") {
    var inspected = false
    val r = Probe.measure(spark, dir, "q00_not_registered",
      inspect = _ => inspected = true)
    assert(r.failed)
    assert(r.failure.get.isInstanceOf[NoSuchElementException])
    assert(!inspected && r.rows == -1L)
    assert(r.planSec == 0.0 && r.execSec == 0.0 && r.sec == r.buildSec)
  }

  test("obj and arr render every value type the mains emit") {
    val j = Probe.obj("d" -> 1.23456, "i" -> -1, "l" -> 7L, "b" -> true,
      "s" -> "a\"b\\c\nd", "p" -> ((0.5, 2.0)), "none" -> None,
      "some" -> Some(0.25), "nested" -> Probe.obj("x" -> 1),
      "empty" -> Probe.obj(), "arr" -> Probe.arr(Seq("q1", "q2")),
      "raw" -> Probe.Json("[1,2]"))
    assert(j.text ==
      """{"d":1.235,"i":-1,"l":7,"b":true,"s":"a\"b\\c""" + "\\u000ad\"," +
      """"p":[0.500,2.000],"none":null,"some":0.250,"nested":{"x":1},""" +
      """"empty":{},"arr":["q1","q2"],"raw":[1,2]}""")
    assert(Probe.arr(Nil).text == "[]")
    // locale-independent decimal point
    assert(Probe.fmt(1234.5) == "1234.500")
  }
}
