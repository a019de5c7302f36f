package crawlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    data: Path,
    records: Path,
    spans: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("data")), Paths.get(need("records")),
      Paths.get(need("spans")))
  }
}

/** The benchmark's session: the same SQL configuration as the engine's own
  * bench session (shuffle partitions = cores, AQE, 16 MB split size, sorted
  * bucket scans, the graft extensions, UTC), with every scratch directory
  * inside the run's work dir.
  */
object Session {
  def create(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("crawlbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.locality.wait", "0")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.UrlFunctions.register(s)
    s
  }
}

object FileTree {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector finally s.close()
    }

  def delete(p: Path): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(f => try Files.deleteIfExists(f) catch { case NonFatal(_) => () })

  /** (bytes, regular files) under `p`. */
  def usage(p: Path): (Long, Long) = {
    val fs = walk(p).filter(Files.isRegularFile(_))
    (fs.map(f => try Files.size(f) catch { case NonFatal(_) => 0L }).sum, fs.size.toLong)
  }

  def mb(bytes: Long): Double = bytes / 1048576.0
}

/** Host counters read around every operation: this JVM's CPU time, and the
  * CPU time the hypervisor gave to other guests (steal), which shows when a
  * slow operation was slowed by the host rather than by the engine.
  */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Steal seconds summed over all CPUs (USER_HZ = 100); 0 off Linux. */
  def stealS(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0
    } catch { case NonFatal(_) => 0.0 }
}

/** Old-generation occupancy after a full collection: the heap the workload
  * still holds once its measured window is over.
  */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    FileTree.mb(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum)
  }
}

/** Order-independent digest of a DataFrame: row count plus the exact
  * (decimal) sum of a 64-bit hash of every row. Doubles are rounded to
  * 1e-6 first, so last-ulp differences of a parallel sum do not register.
  */
object Digest {
  def column(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => bround(c.cast(DoubleType), 6)
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => column(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

/** What every workload needs: the session, the record, the tracer (traced
  * runs only), and the timed-operation wrapper that writes one record per
  * finished operation.
  */
final class Ctx(val spark: SparkSession, val args: Args, val rec: Recorder,
    val tracer: Option[Tracer], val cores: Int) {

  def traced: Boolean = tracer.isDefined

  private val t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  /** Run one operation, record it, and return its result; a thrown
    * operation is recorded as failed (never as a fast one) and yields None.
    */
  def op[A](name: String, id: Any, measured: Boolean, items: A => Long = (_: A) => 0L,
      extra: A => Seq[(String, Any)] = (_: A) => Seq.empty)(body: => A): Option[A] = {
    val before = tracer.map(_ => Tracer.counters())
    val (cpu0, steal0) = (Host.processCpuS(), Host.stealS())
    val ms0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - n0) / 1e9
    val ms1 = System.currentTimeMillis()
    val host = Seq("cpu_s" -> (Host.processCpuS() - cpu0), "steal_s" -> (Host.stealS() - steal0))
    val counters = before.toSeq.flatMap { b =>
      val a = Tracer.counters()
      b.keys.toSeq.sorted.map(k => s"d_$k" -> (a(k) - b(k)))
    }
    val base = Seq("kind" -> "op", "name" -> name, "id" -> id, "measured" -> measured,
      "t0_ms" -> ms0, "t1_ms" -> ms1, "wall_s" -> wall) ++ host
    res match {
      case Right(a) =>
        rec.write(base ++ Seq("ok" -> true, "items" -> items(a)) ++ extra(a) ++ counters: _*)
        Some(a)
      case Left(e) =>
        rec.write(base ++ Seq("ok" -> false, "items" -> 0L,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") ++ counters: _*)
        None
    }
  }

  /** Record a check value; metrics.py decides pass/fail against the goldens
    * and the seed-independent invariants.
    */
  def check(name: String, value: Any, extra: (String, Any)*): Unit =
    rec.write(Seq("kind" -> "check", "name" -> name, "value" -> value) ++ extra: _*)

  /** A per-layer value measured by the workload itself (traced runs). */
  def layer(name: String, value: Double): Unit =
    rec.write("kind" -> "layer", "name" -> name, "value" -> value)

  /** Close the measured window: record the heap it leaves behind. */
  def windowEnd(): Unit =
    rec.write("kind" -> "window_end", "heap_retained_mb" -> Heap.retainedMb(), "elapsed_s" -> elapsed)

  def setup(part: String, seconds: Double): Unit =
    rec.write("kind" -> "setup", "part" -> part, "s" -> seconds)

  def timedSetup[A](part: String)(body: => A): A = {
    val n0 = System.nanoTime()
    val a = body
    setup(part, (System.nanoTime() - n0) / 1e9)
    a
  }
}
