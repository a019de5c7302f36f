package crawlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A listener that can wait for the listener bus: the end event of a
  * marker job is queued behind every event posted before the job ran.
  */
abstract class Drainable extends SparkListener {
  @volatile private var marker = -1
  private val ended = new Semaphore(0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Drainable.site(e) == Drainable.Marker) marker = e.jobId

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == marker) ended.release()

  /** Block until every event posted so far has been delivered (10 s cap). */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setCallSite(Drainable.Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
    ended.tryAcquire(10, TimeUnit.SECONDS)
  }
}

object Drainable {
  val Marker = "crawlbench:drain"

  def site(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
}

/** Shuffle and spill bytes the engine writes to local disk, summed over
  * finished tasks. It keeps no spans, so untraced runs install it too.
  */
final class DiskWrites extends Drainable {
  private val written = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m =>
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled))

  /** Bytes written by tasks whose end event has been delivered. */
  def bytes: Long = written.get
}

object DiskWrites {
  def install(spark: SparkSession): DiskWrites = {
    val d = new DiskWrites
    spark.sparkContext.addSparkListener(d)
    d
  }
}

/** The benchmark's own listener (traced runs only). It keeps every job and
  * completed stage in memory; `write` dumps them once at the end. The
  * workload → operation → phase → job → stage tree is rebuilt from these
  * spans plus the operation records (see metrics.py): operations carry
  * their own [t0, t1] window and jobs fall into the window they started in.
  */
final class Tracer extends Drainable {
  private final case class Job(id: Int, callSite: String, start: Long, stageIds: Seq[Int])
  private final case class Stage(id: Int, attempt: Int, tasks: Int, submit: Long, done: Long,
      runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobEnds = mutable.HashMap.empty[Int, (Long, Boolean)]
  private val stages = mutable.ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    super.onJobStart(e)
    synchronized { jobs(e.jobId) = Job(e.jobId, Drainable.site(e), e.time, e.stageIds) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized { jobEnds(e.jobId) = (e.time, e.jobResult == JobSucceeded) }
    super.onJobEnd(e)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (run, gc, sw, sr, sp) =
      if (m == null) (0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    stages += Stage(i.stageId, i.attemptNumber(), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      run, gc, sw, sr, sp, i.failureReason.isDefined)
  }

  def write(path: Path): Unit = synchronized {
    val js = jobs.valuesIterator.filter(_.callSite != Drainable.Marker).map { j =>
      val (end, ok) = jobEnds.getOrElse(j.id, (-1L, false))
      Map("id" -> j.id, "site" -> j.callSite, "t0" -> j.start, "t1" -> end, "ok" -> ok,
        "stages" -> j.stageIds)
    }.toSeq
    val ss = stages.map(s => Map(
      "id" -> s.id, "attempt" -> s.attempt, "tasks" -> s.tasks, "t0" -> s.submit, "t1" -> s.done,
      "run_ms" -> s.runMs, "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
      "shuffle_read" -> s.shuffleRead, "spill" -> s.spill, "failed" -> s.failed)).toSeq
    Files.createDirectories(path.getParent)
    Files.write(path, Json.encode(Map("jobs" -> js, "stages" -> ss)).getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** JVM-wide counters read at operation boundaries: codegen compiles, the
    * (approximate, reservoir-sampled) codegen milliseconds, and GC time.
    */
  def counters(): Map[String, Long] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "codegen_compiles" -> h.getCount,
      "codegen_ms" -> h.getSnapshot.getValues.sum,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum)
  }
}
