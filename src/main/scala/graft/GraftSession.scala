package graft

import java.io.PrintStream
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.functions.UrlFunctions

/** The one place that decides how the engine's Spark runs: every main and
  * the test suite build their session here, so correctness is checked under
  * the same plans the bench times.
  */
object GraftSession {

  /** SQL/core conf every graft session carries. */
  val conf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.locality.wait" -> "0",
    "spark.sql.files.maxPartitionBytes" -> "16m",
    // sound here: bucketed corpora are written with exactly one file per
    // bucket, so the sorted-bucket scan ordering elides the SMJ sort on pages
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // Spark's default of 100 generated classes is smaller than one warm pass
    // of the graph queries or one crawl round, so each pass would recompile
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.ui.enabled" -> "false")

  /** Local width: `SPARK_GRAFT_CPUS`, else every processor of this host. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or join) the session. `localDir` is created if missing.
    * Deployment settings (executor memory, classpath) ride `spark.*` JVM
    * system properties, which SparkConf reads at creation.
    * `GRAFT_TIMING=2` attaches a [[TimingListener]] printing to stderr.
    */
  def create(master: String, shufflePartitions: Int, localDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(master).appName("graft")
      .config(conf + ("spark.sql.shuffle.partitions" -> shufflePartitions.toString))
    localDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      b.config("spark.local.dir", d)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    UrlFunctions.register(s)
    if (sys.env.get("GRAFT_TIMING").contains("2"))
      s.sparkContext.addSparkListener(new TimingListener(System.err))
    s
  }
}

/** Stage wall + task count, job wall + the driver gap since the previous job
  * ended (planning, codegen compilation and driver-side work live in the
  * gaps). The first job's gap counts from the listener's creation.
  */
final class TimingListener(out: PrintStream) extends SparkListener {
  private var lastJobEnd = System.currentTimeMillis()
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val ms = (for { st <- i.submissionTime; c <- i.completionTime } yield c - st).getOrElse(-1L)
    out.println(f"[stage ${i.stageId}%4d] ${ms}%6dms tasks=${i.numTasks}%4d ${i.name.take(90)}")
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobStart(j.jobId) = j.time
    out.println(f"[job ${j.jobId}%4d start] gap=${j.time - lastJobEnd}%6dms")
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val wall = j.time - jobStart.remove(j.jobId).getOrElse(j.time)
    lastJobEnd = j.time
    out.println(f"[job ${j.jobId}%4d end]   wall=${wall}%6dms")
  }
}
