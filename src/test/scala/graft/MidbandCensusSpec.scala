package graft

import org.scalatest.funsuite.AnyFunSuite

/** MidbandCensus's `sched_s` is the wall off the critical path. A stage
  * that runs one task keeps every other core idle; `exec − Σtask/cores`
  * charged that idle time to the scheduler.
  */
class MidbandCensusSpec extends AnyFunSuite with SparkSpec {

  test("a single-task stage is critical path, not scheduler time") {
    val cores = spark.sparkContext.defaultParallelism
    // one range partition: the scan and partial aggregate run as one task
    val c = MidbandCensus.measure(spark,
      () => spark.range(0L, 10000000L, 1L, 1).selectExpr("sum(hash(id)) AS h"))
    assert(c.tasks > 0 && c.taskS > 0, c)
    assert(c.critS >= c.taskS / cores, c)
    assert(c.critS <= c.taskS, c)
    assert(c.schedS != c.execS - c.taskS / cores, c)
  }
}
