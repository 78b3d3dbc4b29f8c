package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session (a scheduled drain, a run loop) must hold flat
  * state. With the UI off nothing reads Spark's status store, yet
  * by default it keeps the last 1,000 SQL executions (each with its plan
  * description and graph) and 1,000 jobs; [[Sessions.configure]] bounds
  * both. The store trims on Spark's asynchronous listener bus, so the
  * spec polls for the bound instead of reading it once.
  */
class StatusStoreBoundSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private val RetainedExecutions = 10
  private val RetainedJobs = 10

  test("finished SQL executions and jobs are trimmed to the retained bound") {
    (1 to 3 * RetainedExecutions + 5).foreach(i => spark.range(i).count())
    def executions = spark.sharedState.statusStore.executionsCount()
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((executions > RetainedExecutions || jobs > RetainedJobs) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(executions <= RetainedExecutions,
      s"$executions SQL executions retained, bound $RetainedExecutions")
    assert(jobs <= RetainedJobs, s"$jobs jobs retained, bound $RetainedJobs")
  }
}
