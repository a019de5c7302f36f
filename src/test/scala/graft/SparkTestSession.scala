package graft

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
}
