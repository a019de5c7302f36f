package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Parallelism

/** `Parallelism.floor` decides from the plan alone: it starts no Spark job. */
class ParallelismSpec extends AnyFunSuite with SparkTestSession {

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("floor on a shuffled input starts zero jobs and returns it unchanged") {
    val shuffled = spark.range(0, 1000, 1, 2).groupBy((col("id") % 3).as("k")).count()
    val cached = spark.range(0, 1000, 1, 2).groupBy((col("id") % 5).as("k")).count().persist()
    try {
      for (df <- Seq(shuffled, cached)) {
        val (out, jobs) = jobsStartedBy(Parallelism.floor(df))
        assert(jobs == 0, s"floor started $jobs job(s) on a shuffled input")
        assert(out eq df)
      }
    } finally cached.unpersist()
  }

  test("floor raises a one-file parquet read to defaultParallelism, starting no job") {
    val path = tmpDir("floor-one-file") + "/t"
    spark.range(0, 100).coalesce(1).write.parquet(path)
    val scan = spark.read.parquet(path)
    val target = spark.sparkContext.defaultParallelism
    assert(scan.rdd.getNumPartitions == 1 && target > 1)
    val (out, jobs) = jobsStartedBy(Parallelism.floor(scan))
    assert(jobs == 0, s"floor started $jobs job(s) on a scan")
    assert(out.rdd.getNumPartitions == target)
    assert(planOf(out).contains("RoundRobinPartitioning"), planOf(out))
  }
}
