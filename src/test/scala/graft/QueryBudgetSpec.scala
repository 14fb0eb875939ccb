package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The per-query wall budget Verify and Bench share: a body within budget
  * finishes with its own error, if any, and a Spark job over budget is
  * cancelled and reported as a timeout instead of running on. */
class QueryBudgetSpec extends SparkSpec {

  test("a body within budget finishes and reports what it threw") {
    assert(QueryBudget.run(spark, "budget-ok", 60000L)(spark.range(10).count()) ===
      QueryBudget.Finished(None))
    val boom = new IllegalStateException("boom")
    assert(QueryBudget.run(spark, "budget-throws", 60000L)(throw boom) ===
      QueryBudget.Finished(Some(boom)))
  }

  test("a Spark job over budget is cancelled and reported as a timeout") {
    val outcome = QueryBudget.run(spark, "budget-slow", 500L) {
      spark.sparkContext.parallelize(Seq(1), 1).map { x => Thread.sleep(60000L); x }.count()
    }
    assert(outcome === QueryBudget.TimedOut)
    // and the job was cancelled, well inside the task's 60 s sleep (the
    // status store hears of it through the listener bus, so poll)
    val tracker = spark.sparkContext.statusTracker
    eventually(timeout(Span(20, Seconds))) {
      val jobs = tracker.getJobIdsForGroup("budget-slow").toSeq
      assert(jobs.nonEmpty && jobs.forall(j => tracker.getJobInfo(j).exists(
        _.status == org.apache.spark.JobExecutionStatus.FAILED)))
    }
  }
}
