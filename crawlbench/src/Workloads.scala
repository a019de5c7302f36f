package crawlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.UrlFunctions
import graft.model.{CrawlConfig, Schemas}
import graft.operators.Robots
import graft.plans.{CrawlRound, Crawler}
import graft.sources.{StateTable, SyntheticWeb}

/** The synthetic web the crawl runs on: url-bucketed and sorted like the
  * engine's own bench corpus, sized so one run fits the benchmark's time
  * budget on a 4-core box.
  */
object Corpus {
  val Pages = 5000L
  val Hosts = 500
  val Density = 6
  val Buckets = 64

  def web(seed: Long): SyntheticWeb.WebConfig =
    SyntheticWeb.WebConfig(seed = seed, nPages = Pages, nHosts = Hosts, density = Density)

  /** Generate the corpus and register it as the bucketed `pages` table. */
  def build(ctx: Ctx, web: SyntheticWeb.WebConfig): DataFrame = {
    val spark = ctx.spark
    val dir = ctx.args.work.resolve("corpus").toString
    ctx.timedSetup("input") {
      SyntheticWeb.pages(spark, web).toDF()
        .repartition(Buckets, col("url"))
        .write.bucketBy(Buckets, "url").sortBy("url")
        .option("path", dir)
        .mode("overwrite")
        .saveAsTable("pages_gen")
    }
    spark.sql("DROP TABLE pages_gen")
    spark.sql(
      s"""CREATE TABLE pages_bucketed
         |(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
         |USING parquet
         |CLUSTERED BY (url) SORTED BY (url) INTO $Buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
    spark.table("pages_bucketed")
  }

  /** Per-row kernel costs through the registered SQL names, each as a
    * single-task query over a cached sample of the corpus; the cost of a
    * baseline scan of the same sample is subtracted.
    */
  def kernels(ctx: Ctx, pages: DataFrame): Unit = {
    val spark = ctx.spark
    val sample = pages.select("url", "html").limit(2000).coalesce(1).cache()
    val nPages = sample.count()
    sample.createOrReplaceTempView("kernel_pages")
    val links = spark.sql(
      "SELECT url AS base, l.href AS href FROM kernel_pages LATERAL VIEW explode(extract_links(html)) t AS l")
      .coalesce(1).cache()
    val nLinks = links.count()
    links.createOrReplaceTempView("kernel_links")
    def wall(sql: String): Double = {
      spark.sql(sql).collect()
      val reps = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      }
      reps.sorted.apply(reps.size / 2)
    }
    val pageScan = wall("SELECT sum(length(html)) FROM kernel_pages")
    val linkScan = wall("SELECT sum(length(href)) FROM kernel_links")
    def perRow(sql: String, base: Double, n: Long) = math.max(0.0, wall(sql) - base) / math.max(n, 1L) * 1e6
    ctx.layer("functions.extract_links_us_per_page",
      perRow("SELECT sum(size(extract_links(html))) FROM kernel_pages", pageScan, nPages))
    ctx.layer("functions.extract_text_us_per_page",
      perRow("SELECT sum(length(extract_text(html))) FROM kernel_pages", pageScan, nPages))
    ctx.layer("functions.resolve_canon_us_per_link",
      perRow("SELECT sum(length(canon_url(resolve_link(base, href)))) FROM kernel_links", linkScan, nLinks))
    ctx.layer("functions.links_per_page", nLinks.toDouble / math.max(nPages, 1L))
    links.unpersist()
    sample.unpersist()
  }
}

/** `crawl_rounds`: the north-rule loop, `Crawler.crawl` one round per call.
  * Rounds 1-2 warm up (JIT, codegen); rounds 3-5 are measured. The window
  * is a fixed set of rounds, not a time span, so every run and every
  * version of the engine times the same work: later rounds admit fewer
  * candidates. `CompactEvery` is 4, not the default 8: at 8 the first
  * compaction lands in round 7, and seven rounds of ~6 s each do not fit
  * the benchmark's run budget on 4 cores; at 4 it lands in round 3, the
  * first measured round, and the two rounds after it read the reset
  * merge-on-read chain. Traced runs also time `Crawler.expandOnce` over
  * the whole corpus and the per-row kernels.
  */
object CrawlRounds {
  val Seeds = 500
  val Budget = 5000
  val CompactEvery = 4
  val WarmupRounds = 2
  /** The last measured round; state size and the checks are taken here. */
  val CheckRound = 5

  private def compacted(dir: String, v: Long): Boolean =
    StateTable.manifest(dir, v).exists(_.compactedThrough == v)

  /** Versions a merge-on-read of `dir` at `v` reads: its last compacted
    * base and every delta after it.
    */
  private def chainLen(dir: String, v: Long): Int = {
    val vs = StateTable.versions(dir).filter(_ <= v)
    vs.reverse.find(b => compacted(dir, b)).fold(vs.size)(b => vs.count(_ >= b))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val web = Corpus.web(ctx.args.seed)
    val pages = Corpus.build(ctx, web)
    val robots = SyntheticWeb.robotsTable(spark, web)
    val seeds = SyntheticWeb.seeds(web, Seeds)
    val cfg = CrawlConfig(roundBudget = Budget, compactEvery = CompactEvery)
    val state = ctx.args.work.resolve("state").toString
    val frontierDir = CrawlRound.frontierDir(state)
    val seenDir = CrawlRound.seenDir(state)

    ctx.timedSetup("seed") { Crawler.crawl(spark, state, pages, robots, seeds, cfg, 0) }

    def round(r: Int, measured: Boolean): Option[CrawlRound.RoundCounters] =
      ctx.op[CrawlRound.RoundCounters]("round", r, measured, items = _.admitted, extra = c => {
        val base = Seq(
          "admitted" -> c.admitted, "fetched200" -> c.fetched200, "candidates" -> c.candidates,
          "new_urls" -> c.newUrls, "dedup_dropped" -> c.dedupDropped,
          "frontier_compacted" -> compacted(frontierDir, r), "seen_compacted" -> compacted(seenDir, r))
        if (!ctx.traced) base
        else {
          val (bytes, files) = FileTree.usage(java.nio.file.Paths.get(state))
          base ++ Seq("state_bytes" -> bytes, "state_files" -> files,
            "frontier_chain_len" -> chainLen(frontierDir, r))
        }
      }) {
        Crawler.crawl(spark, state, pages, robots, seeds, cfg, r).last
      }

    val warm = ctx.timedSetup("warmup") { (1 to WarmupRounds).forall(r => round(r, measured = false).isDefined) }
    val ok = warm && (WarmupRounds + 1 to CheckRound).forall(r => round(r, measured = true).isDefined)
    ctx.windowEnd()
    if (!ok) return

    // output checks, off the clock: golden digests and the seed-independent
    // invariants after the last measured round
    val frontier = CrawlRound.readFrontier(spark, state, Some(CheckRound.toLong))
      .select(CrawlRound.frontierCols.map(col): _*)
    val seen = StateTable.readAppendedMerged(spark, seenDir, Some(CheckRound.toLong), Some(Schemas.urlSeen))
    ctx.check("state_mb", FileTree.mb(FileTree.usage(java.nio.file.Paths.get(state))._1))
    ctx.check("frontier_digest", Digest.of(frontier), "round" -> CheckRound)
    ctx.check("seen_digest", Digest.of(seen), "round" -> CheckRound)
    ctx.check("frontier_minus_seen",
      frontier.select("surt").join(seen.select("surt"), Seq("surt"), "left_anti").count(),
      "round" -> CheckRound)
    ctx.check("seen_rows", seen.count(), "round" -> CheckRound)
    ctx.check("seed_rows", StateTable.manifest(frontierDir, 0L).map(_.nRows).getOrElse(-1L))

    if (ctx.traced) {
      ctx.layer("operators.seen.sidecar_mb",
        FileTree.mb(FileTree.usage(java.nio.file.Paths.get(seenDir, "_bloom"))._1))
      expand(ctx, pages, web)
      Corpus.kernels(ctx, pages)
    }
  }

  /** `Crawler.expandOnce` over the whole corpus as the frontier: the
    * round's kernels and dedup shuffle as one Catalyst plan with the state
    * commits bypassed; median of `ExpandReps` reps after two warm-up reps.
    */
  val ExpandReps = 5

  private def expand(ctx: Ctx, pages: DataFrame, web: SyntheticWeb.WebConfig): Unit = {
    val spark = ctx.spark
    val cfg = CrawlConfig()
    val robotsBc = Robots.broadcastPolicies(spark, SyntheticWeb.robotsTable(spark, web), cfg)
    val frontier = pages.select(col("url"))
      .withColumn("surt", UrlFunctions.surtUdf(col("url")))
      .withColumn("host", UrlFunctions.hostOfUdf(col("url")))
      .withColumn("host_bucket", UrlFunctions.hostBucket(col("host"), cfg.buckets))
      .withColumn("depth", lit(0))
      .withColumn("score", lit(1.0))
    val n = frontier.count()
    (1 to ExpandReps + 2).foreach { i =>
      ctx.op[Long]("expand", i, measured = false, items = _ => n, extra = rows => Seq("rows" -> rows)) {
        Crawler.expandOnce(spark, frontier, pages, robotsBc, cfg).count()
      }
    }
    ctx.check("expand_digest", Digest.of(Crawler.expandOnce(spark, frontier, pages, robotsBc, cfg)))
  }
}

/** `operator_queries`: `SparkEntry.queries` over the fixed TPC-H-like test
  * tables shipped in the benchmark's data dir (the seed is unused). A pass
  * over all 57 queries takes ~20 s warm on 4 cores, too long for the
  * benchmark's run budget, so the timed passes run the three graph queries
  * (their near-dup pairs also run TextDedup's minhash). Two warm-up passes:
  * the first warm pass still runs ~20% slower than the ones after it.
  * Traced runs also time every other query once, after a warm-up run of it.
  */
object OperatorQueries {
  val Graph = Seq("q_dedup_clusters", "q_dedup_clusters_stars", "q_pagerank")
  val WarmupPasses = 2
  val MinPasses = 3
  val MaxPasses = 12

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.args.data.toString
    val disk = DiskWrites.install(spark)
    def query(q: String, pass: Int, measured: Boolean, name: String = "query") =
      ctx.op[String](name, s"$q#$pass", measured, items = _ => 1L,
        extra = d => Seq("query" -> q, "pass" -> pass, "digest" -> d)) {
        Digest.of(SparkEntry.queries(q)(spark, dir))
      }
    ctx.timedSetup("warmup") {
      (1 - WarmupPasses to 0).foreach(p => Graph.foreach(q => query(q, p, measured = false)))
    }
    disk.drain(spark)
    val written0 = disk.bytes
    val windowStart = ctx.elapsed
    var pass = 0
    while ((ctx.elapsed - windowStart < ctx.args.seconds || pass < MinPasses) && pass < MaxPasses) {
      pass += 1
      Graph.foreach(q => query(q, pass, measured = true))
    }
    ctx.windowEnd()
    disk.drain(spark)
    ctx.check("write_mb_per_pass", FileTree.mb(disk.bytes - written0) / pass)
    if (ctx.traced) {
      val rest = SparkEntry.queries.keys.toSeq.sorted.filterNot(Graph.contains)
      rest.foreach { q =>
        query(q, 0, measured = false, name = "query_full")
        query(q, 1, measured = false, name = "query_full")
      }
    }
  }
}
