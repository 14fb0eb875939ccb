package graft

import org.apache.spark.sql.SparkSession

/** The per-query wall budget of `Verify` and `Bench`: one slow query must
  * not hang every query after it. The query runs on a worker thread in its
  * own Spark job group. When the budget runs out, the group is cancelled,
  * the worker interrupted and every active stream stopped, and the worker
  * gets a grace period to unwind before the next query starts. */
object QueryBudget {

  /** `SPARK_GRAFT_QUERY_BUDGET_SEC` (default 300) in milliseconds. */
  def budgetMs: Long = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "300").toLong * 1000L

  /** How long a cancelled worker gets to unwind. */
  val graceMs = 30000L

  /** How a budgeted run ended. */
  sealed trait Outcome
  /** The body returned, or threw `error`. */
  final case class Finished(error: Option[Throwable]) extends Outcome
  /** Over budget; cancelled, and the worker unwound within the grace. */
  case object TimedOut extends Outcome
  /** Over budget and still running after the grace: a caller that goes on
    * would run the next query next to it on the shared session. */
  case object Stuck extends Outcome

  /** The error row a runner records for `outcome`, None when the body
    * finished without one. */
  def errorOf(outcome: Outcome, budgetMs: Long): Option[String] = outcome match {
    case Finished(error) =>
      error.map(e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    case TimedOut => Some(s"TIMEOUT after ${budgetMs / 1000}s")
    case Stuck => Some(s"TIMEOUT after ${budgetMs / 1000}s (worker did not unwind in " +
      s"${graceMs / 1000}s — aborting run)")
  }

  /** Runs `body` on a worker thread in job group `group` within `budgetMs`. */
  def run(spark: SparkSession, group: String, budgetMs: Long)(body: => Unit): Outcome = {
    @volatile var error: Option[Throwable] = None
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      try body catch { case e: Throwable => error = Some(e) }
    }, group)
    worker.start()
    worker.join(budgetMs)
    if (!worker.isAlive) Finished(error)
    else {
      spark.sparkContext.cancelJobGroup(group)
      worker.interrupt()
      // Streaming queries execute on StreamExecution threads OUTSIDE the
      // job group, where cancelJobGroup cannot reach them, so stop every
      // active stream directly (runToMemory's finally also stops on
      // interrupt, but only once its thread next wakes).
      spark.streams.active.foreach { sq =>
        try sq.stop() catch { case _: Throwable => () }
      }
      worker.join(graceMs)
      if (worker.isAlive) Stuck else TimedOut
    }
  }
}
