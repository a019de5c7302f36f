package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites (sbt forks a single
  * test JVM), built by the engine's own factory so tests run the plans the
  * bench times. Shuffle partitions kept small for test latency.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  /** Jobs `body` starts, counted by a listener on the job group. */
  def jobsStartedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = "graft-job-count"
    val started = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group &&
            p.getProperty("graft.marker") == null) started.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      drainListenerBus()
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Returns once every listener event posted before the call has been
    * delivered: a one-task marker job closes the window, and the bus
    * delivers events in order.
    */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerId = -1
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty("graft.marker") != null) markerId = j.jobId
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerId) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.marker", "1")
      sc.parallelize(Seq(1), 1).count()
      if (!markerDone.await(60, TimeUnit.SECONDS))
        throw new AssertionError("marker job end never arrived")
    } finally {
      sc.setLocalProperty("graft.marker", null)
      sc.removeSparkListener(listener)
    }
  }

  /** File names in a seen table's sidecar dir at version v (none if absent). */
  def sidecarFiles(seenDir: String, v: Long): Seq[String] = {
    val d = java.nio.file.Paths.get(seenDir, "_bloom", v.toString)
    if (!java.nio.file.Files.exists(d)) Seq.empty
    else {
      val s = java.nio.file.Files.list(d)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
  }
}
