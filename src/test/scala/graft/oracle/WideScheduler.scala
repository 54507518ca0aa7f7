package graft.oracle

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.politeness.Politeness
import graft.sched.Scheduler

/** The wide single-window scheduling round: the oracle that
  * `Scheduler.scheduleRoundNarrow` must equal (SchedulerSpec). Every step
  * runs on full frontier rows, with no seen gate, dedup or string rejoin.
  */
object WideScheduler {

  /** One scheduling round: robots filter -> per-host budget -> global crawl
    * order over the rows scheduled this round. Deferred rows (over budget)
    * are returned too, flagged `scheduled_now = false`, so the round driver
    * re-enqueues them.
    *
    * Input must carry url_norm, url_hash, host, depth, host_rank,
    * discovered_seq columns (FrontierEntry shape). */
  def schedule(
      frontier: DataFrame,
      robots: DataFrame,
      budgets: DataFrame,
      defaultBudget: Int,
      numPartitions: Int): (DataFrame, DataFrame) = {
    val allowed = Politeness.applyRobots(frontier, robots)
    // persisted: the scheduled-now and deferred branches both read this
    val budgeted = Politeness.applyBudgets(allowed, budgets, defaultBudget).persist()
    val now = budgeted.filter(col("scheduled_now")).drop("scheduled_now")
    val deferred = budgeted.filter(!col("scheduled_now")).drop("scheduled_now")
    val ordered = Scheduler.withCrawlOrder(
      now,
      Seq(col("host_rank"), col("depth"), col("discovered_seq"), col("url_hash")),
      numPartitions)
    (ordered, deferred)
  }
}
