package crawlbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: one workload, one seed, one run. It writes a
  * record line per finished operation (see [[Recorder]]), spans at the end
  * of a traced run, and a summary line last; `run.py` turns those into the
  * metrics. The run's work dir (corpora, state, shuffle, temp files) is
  * deleted on every exit path, including a kill, by a shutdown hook.
  * `run.py` holds the write end of this JVM's stdin: when `run.py` dies,
  * even by SIGKILL, stdin reaches end of file and the JVM exits too.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val rec = new Recorder(args.records)
    java.nio.file.Files.createDirectories(args.work)
    sys.addShutdownHook(FileTree.delete(args.work))
    // the pid tells run.py's sweep of stale work dirs that this one is live
    java.nio.file.Files.writeString(args.work.resolve("jvm.pid"), ProcessHandle.current.pid.toString)
    exitWithParent()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.create(cores, args.work)
    val runtime = ManagementFactory.getRuntimeMXBean
    rec.write(
      "kind" -> "config", "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> FileTree.mb(Runtime.getRuntime.maxMemory),
      "jvm_args" -> runtime.getInputArguments.asScala.toSeq.filterNot(_.startsWith("--add-opens")),
      "spark_version" -> spark.version,
      "sql_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
    // JVM start to a ready session: a single sample, the only part of
    // setup that cannot be repeated inside one run
    val ctx = new Ctx(spark, args, rec, if (args.trace) Some(Tracer.install(spark)) else None, cores)
    ctx.setup("session", (System.currentTimeMillis() - runtime.getStartTime) / 1e3)
    try {
      args.workload match {
        case "crawl_rounds" => CrawlRounds.run(ctx)
        case "operator_queries" => OperatorQueries.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.tracer.foreach { t => t.drain(spark); t.write(args.spans) }
      rec.write("kind" -> "summary", "elapsed_s" -> ctx.elapsed)
    } finally {
      spark.stop()
      FileTree.delete(args.work)
      rec.close()
    }
  }

  /** Exit (running the shutdown hooks) once stdin closes; halt if the
    * hooks have not finished 20 s later.
    */
  private def exitWithParent(): Unit = {
    val t = new Thread(() => {
      try while (System.in.read() >= 0) () catch { case _: java.io.IOException => () }
      val halt = new Thread(() => { Thread.sleep(20000); Runtime.getRuntime.halt(3) })
      halt.setDaemon(true)
      halt.start()
      System.exit(3)
    }, "exit-with-parent")
    t.setDaemon(true)
    t.start()
  }
}
