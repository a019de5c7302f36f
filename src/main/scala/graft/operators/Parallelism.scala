package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-parallelism floor and data-sized partition counts (round 6,
  * optimization guide §2.2/§6).
  *
  * Two symmetric failure modes were measured at bench scale (sf0.1, 32
  * cores — BenchExtra `stages` dumps, OPTIMIZATION_r06.md):
  *
  *  - a sub-`maxPartitionBytes` parquet input plans as ONE partition, so a
  *    UDF-heavy subtree above it (shingling, minhash, simhash, LSH
  *    bucketing, media decode) runs on one core of 32 — measured 0.65-1.5 s
  *    single-task stages in the dedup family;
  *  - iterated graph ops (CC supersteps, PageRank iterations) shuffle a few
  *    thousand rows into `spark.sql.shuffle.partitions` (= cores) tasks per
  *    stage, paying ~20 ms/task scheduling overhead dozens of times.
  *
  * Both fixes are SIZE-DERIVED, not tuned for local mode: [[floor]] is a
  * no-op whenever the input already has >= default-parallelism partitions
  * (any at-scale table), and [[partsFor]] grows linearly with the row count
  * until it saturates at the session's default parallelism (the same width
  * the plain plan would use) — so at 100 TB both degenerate to exactly the
  * pre-round-6 plans.
  */
object Parallelism {

  /** Raise an underparallel input to the default parallelism so per-row
    * kernels above it use the whole machine (the structural analogue of
    * `spark.sql.files.minPartitionNum`, guide §6). The round-robin exchange
    * only exists when the input is small (few partitions IS the smallness
    * signal); inputs at or above the default width, and inputs whose plan
    * already holds an exchange (their width is the shuffle's, not the
    * files'), pass through untouched. Starts no Spark job.
    */
  def floor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the partition count is probed only on an exchange-free plan (a scan,
    // as at every call site): under AQE, `rdd` of a plan with an exchange
    // materializes every upstream shuffle stage — jobs before the action
    if (!hasExchange(df.queryExecution.executedPlan) && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Walks into adaptive plans and their query stages. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** An exchange anywhere below `plan`, cached subplans included. */
  private def hasExchange(plan: SparkPlan): Boolean = PlanWalk.find(plan) {
    case _: Exchange => true
    case s: InMemoryTableScanExec => hasExchange(s.relation.cachedPlan)
    case _ => false
  }.isDefined

  /** Partition count for ~`rowsPerPart`-row partitions, clamped to
    * [1, default parallelism]: tiny iterated frames collapse to single-task
    * stages; large frames saturate at the width the session would pick
    * anyway (guide §2.2 — fewer, larger reduce partitions).
    */
  def partsFor(df: DataFrame, rows: Long, rowsPerPart: Long = 1000000L): Int = {
    val default = df.sparkSession.sparkContext.defaultParallelism
    math.max(1, math.min(default.toLong, rows / rowsPerPart + 1L).toInt)
  }
}
