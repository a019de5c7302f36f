package graft

import scala.jdk.CollectionConverters._

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
