package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Parallelism

/** `Parallelism.floor` decides from the plan alone: it starts no Spark job. */
class ParallelismSpec extends AnyFunSuite with SparkTestSession {

  /** Jobs `body` starts, counted by a listener on the job group. A one-task
    * marker job closes the count: the bus delivers events in order, so once
    * the marker has ended every job `body` started has been seen.
    */
  private def jobsStartedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "graft-parallelism-spec"
    val started = new AtomicInteger(0)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerId = -1
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty("graft.marker") != null) markerId = j.jobId
          else started.incrementAndGet()
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerId) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setLocalProperty("graft.marker", "1")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never arrived")
      (out, started.get)
    } finally {
      sc.setLocalProperty("graft.marker", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
