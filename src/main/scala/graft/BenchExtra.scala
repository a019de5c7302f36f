package graft

import java.nio.file.{Files, Paths}

/** Round-6 optimization-side instrumentation (guide §1) — a SEPARATE main so
  * the frozen driver bench ([[Bench]]) is untouched. Modes (first arg):
  *
  *  - `explain q1,q2,..` — dump `.explain("formatted")` of each named query
  *    to `plans/r06/<query>_<suffix>.txt` (suffix = 2nd arg, default "plan").
  *  - `time q1,q2,.. [reps]` — time each named query `reps` times (default 3)
  *    with the SAME action the frozen bench uses (`.count()`), fresh plan per
  *    rep, report min/median; `all` runs the full suite once in bench order.
  *  - `noop q1,q2,.. [reps]` — same but through the noop sink (guide §1.4):
  *    every column of every row computed, no count-only pruning.
  *  - `stages q [reps]` — run one query with a [[TimingListener]] so the
  *    per-stage wall/task and per-job wall/gap breakdown is visible on
  *    stderr, plus the codegen compile count and time. `reps - 1` unprinted
  *    warm passes run first (default 1: the cold pass only), so the
  *    breakdown can describe a warm pass like the benchmark's timed ones.
  *  - `dataflow [pct]` — one frontier-expansion rep on the bench corpus with
  *    every physical operator's metrics (needs SPARK_GRAFT_BENCH_CORPUS).
  *  - `cluster [pairs]` — the dataflow rep on 1 vs 4 local-cluster executor
  *    JVMs (needs the full Spark dist: SPARK_HOME, SPARK_SCALA_VERSION).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val mode = args.headOption.getOrElse("time")
    val all = SparkEntry.queries
    def named(spec: String): Seq[String] =
      if (spec == "all") all.keys.toSeq.sorted else spec.split(",").toSeq

    mode match {
      case "explain" =>
        val names = named(args(1))
        val suffix = if (args.length > 2) args(2) else "plan"
        val spark = Bench.session(cpus)
        Files.createDirectories(Paths.get("plans/r06"))
        names.foreach { n =>
          val df = all(n)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"plans/r06/${n}_$suffix.txt"), plan)
          println(s"wrote plans/r06/${n}_$suffix.txt")
        }
        spark.stop()

      case "time" | "noop" =>
        val names = named(args(1))
        val reps = if (args.length > 2) args(2).toInt else 3
        val spark = Bench.session(cpus)
        // same warm-up as the frozen bench
        try {
          import org.apache.spark.sql.functions.{col, count}
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .groupBy(col("l_returnflag")).agg(count(col("l_orderkey"))).count()
        } catch { case _: Throwable => () }
        names.foreach { n =>
          val ts = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val df = all(n)(spark, sfDir)
            if (mode == "noop") df.write.format("noop").mode("overwrite").save()
            else df.count()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"$n%-28s min=${ts.head}%6.3f med=${ts(ts.length / 2)}%6.3f " +
            ts.map(t => f"$t%.3f").mkString("[", " ", "]"))
        }
        spark.stop()

      case "stages" =>
        val n = args(1)
        val reps = if (args.length > 2) args(2).toInt else 1
        val spark = Bench.session(cpus)
        def codegenStats(): (Long, Long) = {
          import org.apache.spark.metrics.source.CodegenMetrics
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
            CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
        }
        try {
          import org.apache.spark.sql.functions.{col, count}
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .groupBy(col("l_returnflag")).agg(count(col("l_orderkey"))).count()
        } catch { case _: Throwable => () }
        (1 until reps).foreach(_ => all(n)(spark, sfDir).count())
        // attached after the warm passes so only the measured one prints
        // (GRAFT_TIMING=2 already attached one that prints every pass)
        if (!sys.env.get("GRAFT_TIMING").contains("2"))
          spark.sparkContext.addSparkListener(new TimingListener(System.err))
        val (c0, t0c) = codegenStats()
        System.err.println(s"---- stages of $n ----")
        val t0 = System.nanoTime()
        all(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (c1, t1c) = codegenStats()
        println(f"$n total $wall%.3f s; codegen compiles ${c1 - c0} taking ~${(t1c - t0c)}%d ms")
        spark.stop()

      case "dataflow" =>
        // run ONE frontier-expansion rep on the bench corpus and print every
        // physical operator's metrics — per-operator attribution the disabled
        // UI would otherwise show (guide §7.1/§7.2)
        val corpus = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORPUS", "/dev/shm/graft-shuffle/r6corpus")
        val pct = if (args.length > 1) args(1).toInt else 100
        val spark = Bench.session(cpus)
        val web = graft.sources.SyntheticWeb.WebConfig(
          seed = 42L, nPages = 1000000L, nHosts = 100000, density = 6)
        val pages = Bench.bucketedPages(spark, corpus)
        val cfg = graft.model.CrawlConfig()
        val robotsBc = graft.operators.Robots.broadcastPolicies(
          spark, graft.sources.SyntheticWeb.robotsTable(spark, web), cfg)
        def frontier = Bench.seedFrontier(pages, pct, cfg)
        graft.plans.Crawler.expandOnce(spark, frontier, pages, robotsBc, cfg).count() // warm
        val df = graft.plans.Crawler.expandOnce(spark, frontier, pages, robotsBc, cfg)
        val t0 = System.nanoTime()
        // execute THIS QueryExecution (count() would plan a separate one and
        // leave these metrics empty)
        df.queryExecution.toRdd.foreach(_ => ())
        println(f"rep wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
        def dump(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
          val ms = p.metrics.toSeq.sortBy(_._1).collect {
            case (k, m) if m.value > 0 => s"$k=${m.value}"
          }.mkString(" ")
          println("  " * depth + p.nodeName + "  " + ms.take(260))
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              dump(a.executedPlan, depth + 1)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => dump(q.plan, depth + 1)
            case i: org.apache.spark.sql.execution.InputAdapter => dump(i.child, depth + 1)
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec => dump(w.child, depth + 1)
            case r: org.apache.spark.sql.execution.ReusedSubqueryExec => dump(r.child, depth + 1)
            case _ => p.children.foreach(dump(_, depth + 1))
          }
        }
        dump(df.queryExecution.executedPlan, 0)
        spark.stop()

      case "cluster" =>
        // r5 VERDICT "Next round" #2: run the scaling protocol on SEPARATE
        // EXECUTOR JVMs via Spark's local-cluster master — N vs 4N executor
        // processes with N× heaps/GCs/schedulers, the honest substitution
        // local[N] cannot emulate (one heap, one GC). Requires the full
        // Spark dist (SPARK_HOME) so the in-process Worker can launch
        // executor processes; app classes ship via executor extraClassPath.
        // Usage: cluster [pairs]; corpus via SPARK_GRAFT_BENCH_CORPUS.
        val corpus = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORPUS", "/dev/shm/graft-shuffle/r6corpus")
        val pairs = if (args.length > 1) args(1).toInt else 2
        val coresPer = 8
        val memMb = 9216
        val web = graft.sources.SyntheticWeb.WebConfig(
          seed = 42L, nPages = 1000000L, nHosts = 100000, density = 6)
        // deployment settings, read by SparkConf from `spark.*` system properties
        sys.props("spark.executor.memory") = s"${memMb}m"
        sys.props("spark.executor.extraClassPath") = new java.io.File(
          getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
        def clusterRun(nExec: Int): Double = {
          val spark = GraftSession.create(
            s"local-cluster[$nExec,$coresPer,$memMb]", nExec * coresPer, Some(Bench.localDir))
          try {
            val pages = Bench.bucketedPages(spark, corpus)
            val cfg = graft.model.CrawlConfig()
            val robotsBc = graft.operators.Robots.broadcastPolicies(
              spark, graft.sources.SyntheticWeb.robotsTable(spark, web), cfg)
            def frontierOf(p: Int) = Bench.seedFrontier(pages, p, cfg)
            graft.plans.Crawler.expandOnce(spark, frontierOf(20), pages, robotsBc, cfg).count()
            val n = frontierOf(100).count()
            val secs = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              graft.plans.Crawler.expandOnce(spark, frontierOf(100), pages, robotsBc, cfg).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            n / secs
          } finally spark.stop()
        }
        val samples = (1 to pairs).map { i =>
          val lo = clusterRun(1)
          val hi = clusterRun(4)
          println(f"[cluster pair $i] 1x8 execs: $lo%.0f URLs/s; 4x8 execs: $hi%.0f URLs/s; eff ${(hi / lo) / 4}%.3f")
          (lo, hi)
        }
        val bestLo = samples.map(_._1).max
        val bestHi = samples.map(_._2).max
        println(f"[cluster] per-width max: 1x8=${bestLo}%.0f 4x8=${bestHi}%.0f URLs/s, efficiency ${(bestHi / bestLo) / 4}%.4f")

      case other =>
        System.err.println(s"unknown mode '$other' (explain|time|noop|stages|dataflow|cluster)")
        sys.exit(2)
    }
  }
}
