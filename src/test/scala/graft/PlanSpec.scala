package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4): filters reach the parquet scan,
  * projection is pruned, small sides broadcast, the bucketed fetch join
  * needs no exchange/sort on the pages side, and hot paths stay inside
  * whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite with SparkTestSession {

  private def sparkPlan(df: DataFrame): String = df.queryExecution.sparkPlan.toString
  private def executed(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  val sf = "/root/testdata/sf0.001"

  test("S1 scan: predicate pushdown + column pruning reach the parquet scan") {
    val df = SparkEntry.queries("q_s1_scan_prune")(spark, sf)
    val plan = sparkPlan(df)
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(n_chars,200"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(lang,en)"), "lang filter not pushed")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"projection not pruned to needed columns: $readSchema")
  }

  test("J2 join chain: dimensions are broadcast") {
    val plan = sparkPlan(SparkEntry.queries("q_j2_join_agg")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("A1 aggregation: two-phase hash aggregate (map-side partials)") {
    val plan = sparkPlan(SparkEntry.queries("q_a1_agg")(spark, sf))
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(plan.split("HashAggregate").length >= 3, "missing partial aggregation phase")
  }

  test("O2 top-k: TakeOrderedAndProject, not a global sort") {
    val plan = sparkPlan(SparkEntry.queries("q_o2_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plans a full sort:\n$plan")
  }

  test("whole-stage codegen covers the scan-filter-project pipelines") {
    val plan = executed(SparkEntry.queries("q_s1_scan_prune")(spark, sf))
    // codegen'd operators carry the "*(n)" stage marker in the plan string
    assert(plan.contains("*(1)"), s"no whole-stage-codegen spans:\n$plan")
  }

  test("bucketed fetch join: no exchange and no sort on the pages side") {
    import spark.implicits._
    val dir = tmpDir("bucketed")
    val pages = graft.sources.SyntheticWeb.pages(
      spark, graft.sources.SyntheticWeb.WebConfig(nPages = 500, nHosts = 10)).toDF()
    // one file per bucket (repartition on the bucket hash) — required for the
    // scan to report sorted output and elide the SMJ sort
    pages.repartition(8, col("url"))
      .write.bucketBy(8, "url").sortBy("url")
      .option("path", s"$dir/pages_b").mode("overwrite").saveAsTable("plan_spec_pages")
    try {
      val bucketed = spark.table("plan_spec_pages")
      val admitted = pages.limit(50).select(col("url"), lit(0).as("depth"))
      val joined = bucketed.select(col("url"), col("html"))
        .join(admitted.hint("merge"), Seq("url"), "right_outer")
      val plan = executed(joined)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"pages scan is not bucketed:\n$plan")
      // the SMJ's LEFT subtree (pages; lines prefixed ':') must contain the
      // bucketed FileScan and NO sort/exchange — bucketing + sorted buckets
      // satisfy the join requirements directly
      val leftLines = plan.linesIterator.filter(_.trim.startsWith(":")).toSeq
      assert(leftLines.exists(_.contains("FileScan")), s"no pages scan in left subtree:\n$plan")
      assert(!leftLines.exists(l =>
        l.contains("Sort ") || l.contains("Exchange") || l.contains("ShuffleQueryStage")),
        s"pages side re-sorts or re-shuffles:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS plan_spec_pages")
  }

  test("bucketed url_seen: D3 distributed arm has no exchange/sort on the seen side") {
    import spark.implicits._
    // the storage-partitioned-join claim at CrawlRound's D3 doc (seen
    // bucketed by the key at contract scale ⇒ the distributed anti-join arm
    // is co-located, no shuffle on seen), witnessed: url_seen written
    // bucketed+sorted by surt, one file per bucket
    val dir = tmpDir("bucketed-seen")
    val seen = (1L to 1000L by 2).map(i => (f"s$i%04d", i)).toDF("surt", "url_hash")
    seen.repartition(8, col("surt"))
      .write.bucketBy(8, "surt").sortBy("surt")
      .option("path", s"$dir/seen_b").mode("overwrite").saveAsTable("plan_spec_seen")
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // model at-scale stats: nothing auto-broadcasts (same move as the D3
      // gate test above)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val needExact = (1L to 500L).map(i => (f"s$i%04d", i)).toDF("surt", "url_hash")
      val anti = graft.plans.CrawlRound.exactAntiJoin(
        needExact, spark.table("plan_spec_seen"), viaBroadcast = false)
      // executed plan: exchanges/sorts are inserted by EnsureRequirements,
      // which sparkPlan predates; take the final (post-AQE) section only
      val plan = executed(anti).split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
        s"expected an SMJ anti-join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"seen scan is not bucketed:\n$plan")
      // exactly ONE exchange and ONE sort in the whole plan — both on the
      // probe side (it must co-partition/co-order with the 8 buckets); the
      // bucketed seen scan feeds the join directly
      assert("Exchange".r.findAllIn(plan).length == 1,
        s"expected exactly one exchange (probe side only):\n$plan")
      assert(" Sort \\[".r.findAllIn(plan).length == 1,
        s"expected exactly one sort (probe side only):\n$plan")
      // membership unchanged by the layout
      val viaBucketed = anti.select("surt").as[String].collect().sorted.toSeq
      val viaPlain = graft.plans.CrawlRound.exactAntiJoin(needExact, seen, viaBroadcast = false)
        .select("surt").as[String].collect().sorted.toSeq
      assert(viaBucketed == viaPlain && viaBucketed.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
      spark.sql("DROP TABLE IF EXISTS plan_spec_seen")
    }
  }

  test("broadcast fetch arm: BroadcastHashJoin, no exchange on pages") {
    import spark.implicits._
    val pages = graft.sources.SyntheticWeb.pages(
      spark, graft.sources.SyntheticWeb.WebConfig(nPages = 300, nHosts = 6)).toDF()
    val admitted = pages.limit(20).select(
      col("url"), lit("s").as("surt"), lit("h").as("host"),
      lit(0).as("host_bucket"), lit(0).as("depth"), lit(1.0).as("score"))
    val (fetched, _, root) = graft.plans.CrawlRound.fetchJoin(pages, admitted, broadcastArm = true)
    val plan = executed(fetched)
    assert(plan.contains("BroadcastHashJoin"), s"fetch 200s not broadcast:\n$plan")
    // a right_outer with a broadcast hint on the preserved side would fall
    // back to SMJ/shuffle — the whole point of the inner+anti shape is that
    // pages is only ever scanned
    assert(!plan.contains("SortMergeJoin"), s"fetch fell back to SMJ:\n$plan")
    val pagesScanned = plan.linesIterator.filter(_.contains("html")).toSeq
    assert(!pagesScanned.exists(l => l.contains("Exchange") || l.contains("Sort ")),
      s"pages (html column) shuffled or sorted:\n$plan")
    root.unpersist()
  }

  test("broadcast fetch arm: root coalesced to the session width, rows unchanged") {
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // wider than the session, like the crawl's 64-bucket corpus scan
    val web = graft.sources.SyntheticWeb.pages(
      spark, graft.sources.SyntheticWeb.WebConfig(nPages = 300, nHosts = 6)).toDF()
    val pages = web.repartition(64)
    assert(pages.rdd.getNumPartitions > width)
    // 20 hits plus 3 urls the corpus lacks, so the 404 union is covered too
    val admitted = web.select("url").limit(20)
      .union(Seq("http://absent-a/x", "http://absent-b/y", "http://absent-c/z").toDF("url"))
      .select(col("url"), col("url").as("surt"), lit("h").as("host"),
        lit(0).as("host_bucket"), lit(0).as("depth"), lit(1.0).as("score"))
    val (fetched, _, root) = graft.plans.CrawlRound.fetchJoin(pages, admitted, broadcastArm = true)
    assert(root.rdd.getNumPartitions <= width,
      s"fetch root is ${root.rdd.getNumPartitions} partitions wide on a $width-core session")
    // the merge arm is the same join at the corpus width, without the coalesce
    val (reference, _, refRoot) = graft.plans.CrawlRound.fetchJoin(pages, admitted, broadcastArm = false)
    def rows(df: DataFrame) = df.select("url", "status", "n_links", "text_xxh64")
      .as[(String, Int, Int, Long)].collect().sorted.toSeq
    val got = rows(fetched)
    assert(got == rows(reference))
    assert(got.count(_._2 == 200) == 20 && got.count(_._2 == 404) == 3 && got.exists(_._3 > 0))
    root.unpersist()
    refRoot.unpersist()
  }

  test("D3 gate: both arms identical membership; big arm avoids broadcast") {
    import spark.implicits._
    val needExact = (1L to 500L).map(i => (s"s$i", i)).toDF("surt", "url_hash")
    val seen = (1L to 1000L by 2).map(i => (s"s$i", i)).toDF("surt", "url_hash")
    val small = graft.plans.CrawlRound.exactAntiJoin(needExact, seen, viaBroadcast = true)
    val big = graft.plans.CrawlRound.exactAntiJoin(needExact, seen, viaBroadcast = false)
    val a = small.select("surt").as[String].collect().sorted.toSeq
    val b = big.select("surt").as[String].collect().sorted.toSeq
    assert(a == b, "gate arms disagree on membership")
    assert(a.nonEmpty && a.size < 500, "trivially-empty comparison")
    // above the gate no broadcast of the probe set may be FORCED. Catalyst
    // still auto-broadcasts genuinely tiny inputs by size stats (fine — at
    // scale the stats are huge), so model the at-scale case by disabling
    // auto-broadcast: the big arm must then plan with zero broadcasts while
    // the small arm's explicit hints still broadcast.
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bigPlan = sparkPlan(graft.plans.CrawlRound.exactAntiJoin(needExact, seen, viaBroadcast = false))
      assert(!bigPlan.contains("BroadcastHashJoin") && !bigPlan.contains("BroadcastExchange"),
        s"big arm still broadcasts:\n$bigPlan")
      val smallPlan = sparkPlan(graft.plans.CrawlRound.exactAntiJoin(needExact, seen, viaBroadcast = true))
      assert(smallPlan.contains("BroadcastHashJoin"), s"small arm lost its broadcast:\n$smallPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("admission: bounded top-k agg ≡ window rank; no Window/Sort/frontier shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.plans.CrawlRound
    import graft.sources.StateTable
    val dir = tmpDir("admit")
    // frontier with >cap rows per host, duplicate (depth, score) pairs to
    // exercise the surt tie-break, and hosts at k = 0 / 1 / 2 / default
    val rows = (for { h <- 0 until 20; i <- 0 until 15 } yield (
      f"host$h)/p$i%02d", s"http://host$h/p$i", s"host$h", h % 4, (h * 100 + i).toLong,
      i % 3, 1.0 / (i % 5 + 1), 0L, "")) ++
      (0 until 20).flatMap(h => Seq(
        (s"host$h)/tie_a", s"http://host$h/ta", s"host$h", h % 4, 9000L + h, 0, 0.125, 0L, ""),
        (s"host$h)/tie_b", s"http://host$h/tb", s"host$h", h % 4, 9100L + h, 0, 0.125, 0L, "")))
    StateTable.commit(rows.toDF(CrawlRound.frontierCols: _*), dir, 0L, 0L, partitioned = false)
    val frontier = StateTable.read(spark, dir, Some(0L), Some(graft.model.Schemas.frontier))
    val hs = Seq(("host0", 0.2, 2L), ("host1", 1.2, 1L), ("host2", 0.5, 1L))
      .toDF("host", "tokens", "last_round") // k = 0 / 2 / 1; others default → 2
    val cfg = graft.model.CrawlConfig()
    val round = 2L
    val admitCand = CrawlRound.admitCandidates(
      frontier, hs, broadcastHostState = true,
      df => df.withColumn("delay", lit(1.0)), cfg, round)

    // reference: the pre-round-3 full-frontier window formulation
    val withTokens = frontier.join(broadcast(hs), Seq("host"), "left")
      .withColumn("delay", lit(1.0))
      .withColumn("tokens_refilled", least(lit(cfg.burstTokens),
        coalesce(col("tokens"), lit(cfg.initialTokens)) +
          (lit(round) - coalesce(col("last_round"), lit(round - 1))) / col("delay")))
    val wHost = Window.partitionBy("host")
      .orderBy(col("depth").asc, CrawlRound.scoreKey(col("score")).desc, col("surt").asc)
    val ref = withTokens.withColumn("rn", row_number().over(wHost))
      .where(col("rn") <= floor(col("tokens_refilled")))
      .select("surt", "url", "host", "host_bucket", "depth", "score", "tokens_refilled", "delay")
    val got = admitCand.collect().map(_.toSeq).toSet
    assert(got == ref.collect().map(_.toSeq).toSet, "agg admission ≠ window admission")
    assert(got.nonEmpty && !got.exists(_(2) == "host0"), "k=0 host must admit nothing")
    assert(got.count(_(2) == "host2") == 1 && got.count(_(2) == "host1") == 2)

    // the plan must contain NO window and NO sort; the only exchange input is
    // the partially-aggregated ≤cap-per-host buffers, never raw frontier rows
    val plan = executed(admitCand)
    assert(!plan.contains("Window"), s"window survived:\n$plan")
    assert(!plan.contains("Sort "), s"sort survived:\n$plan")
    assert(plan.split("ObjectHashAggregate").length >= 3,
      s"missing partial aggregation phase:\n$plan")

    // carried: broadcast anti-join — the frontier side (the anti-join's left
    // subtree) is a bare scan: zero shuffle, zero sort. (The broadcast BUILD
    // side legitimately contains the admission agg's tiny pre-aggregated
    // exchange — that is not the frontier.)
    val carried = frontier.join(broadcast(admitCand.select("surt")), Seq("surt"), "left_anti")
    val cplan = executed(carried)
    assert(!cplan.contains("Sort "), s"carried sorts:\n$cplan")
    val finalSection = cplan.split("== Initial Plan ==").head
    val lines = finalSection.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("LeftAnti"))
    assert(joinIdx >= 0, s"no broadcast anti-join:\n$cplan")
    val leftSub = lines.drop(joinIdx + 1).takeWhile(_.trim.startsWith(":"))
    assert(leftSub.exists(_.contains("FileScan")), s"no frontier scan in left subtree:\n$cplan")
    assert(!leftSub.exists(l =>
      l.contains("Exchange") || l.contains("ShuffleQueryStage") || l.contains("Sort ")),
      s"carried shuffles or sorts the frontier:\n$cplan")
    assert(carried.count() + admitCand.count() == frontier.count())
  }

  test("admission agg ≡ window rank at burst ∈ {1, 2, 17, 100}") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.plans.CrawlRound
    // 4 hosts × 120 rows (more rows than even the largest burst cap), messy
    // depth/score mix with score-key ties broken by surt
    val frontier = (for { h <- 0 until 4; i <- 0 until 120 } yield (
      f"host$h)/p$i%03d", s"http://host$h/p$i", s"host$h", h,
      (h * 1000 + i).toLong, i % 4, 1.0 / (i % 7 + 1), 0L, ""))
      .toDF(CrawlRound.frontierCols: _*)
    // varied refill inputs: tokens, staleness, and per-host delay
    // host0: 5 rounds stale at delay 0.25 → refill 20.2 (capped by burst)
    val hs = Seq(("host0", 0.2, 1L), ("host1", 1.4, 1L), ("host2", 0.0, 5L))
      .toDF("host", "tokens", "last_round")
    val attachDelay: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("delay",
        when(col("host") === "host0", lit(0.25)).otherwise(lit(1.0)))
    val round = 6L
    for (burst <- Seq(1.0, 2.0, 17.0, 100.0)) {
      val cfg = graft.model.CrawlConfig(burstTokens = burst)
      val got = CrawlRound.admitCandidates(
          frontier, hs, broadcastHostState = true, attachDelay, cfg, round)
        .collect().map(_.toSeq).toSet
      // reference: the full-frontier window-rank formulation
      val withTokens = attachDelay(frontier.join(broadcast(hs), Seq("host"), "left"))
        .withColumn("tokens_refilled", least(lit(cfg.burstTokens),
          coalesce(col("tokens"), lit(cfg.initialTokens)) +
            (lit(round) - coalesce(col("last_round"), lit(round - 1))) / col("delay")))
      val wHost = Window.partitionBy("host")
        .orderBy(col("depth").asc, CrawlRound.scoreKey(col("score")).desc, col("surt").asc)
      val want = withTokens.withColumn("rn", row_number().over(wHost))
        .where(col("rn") <= floor(col("tokens_refilled")))
        .select("surt", "url", "host", "host_bucket", "depth", "score", "tokens_refilled", "delay")
        .collect().map(_.toSeq).toSet
      assert(got == want, s"burst=$burst: agg admission ≠ window admission " +
        s"(missing=${(want -- got).size} extra=${(got -- want).size})")
      assert(got.nonEmpty, s"burst=$burst: vacuous comparison")
      // the admitted volume must actually grow with burst headroom: at
      // burst=100 host0's refill admits far more than at burst=2
      if (burst == 100.0)
        assert(got.count(_(2) == "host0") > 17, "burst headroom unused — weak fixture")
    }
  }

  test("D3 gate: missing counter or candidate spike picks the distributed arm") {
    import graft.plans.CrawlRound.{candidateGrowthMargin, chooseBroadcastAnti}
    val gate = 500000L
    // round 1 / crashed manifest: no counter → NEVER broadcast an unknown volume
    assert(!chooseBroadcastAnti(None, gate))
    // within budget with 4x spike headroom → broadcast
    assert(chooseBroadcastAnti(Some(gate / candidateGrowthMargin), gate))
    assert(chooseBroadcastAnti(Some(0L), gate))
    // a candidate explosion (counter above gate/margin): a 4x hub fan-out
    // could exceed the broadcast budget before the lagging gate reacts →
    // distributed arm
    assert(!chooseBroadcastAnti(Some(gate / candidateGrowthMargin + 1), gate))
    assert(!chooseBroadcastAnti(Some(gate * 10), gate))
    // a zero gate (config c5) forces the distributed arm for any volume
    assert(!chooseBroadcastAnti(Some(1L), 0L))
  }

  test("J4 gate: missing host_state manifest picks the distributed join arm") {
    import graft.plans.CrawlRound.{chooseBroadcastHostState, hostStateBroadcastMaxRows}
    // missing manifest (crashed/legacy state dir): the host-table size is
    // unknown → fail-safe DISTRIBUTED, same direction as chooseBroadcastAnti
    assert(!chooseBroadcastHostState(None))
    assert(chooseBroadcastHostState(Some(0L)))
    assert(chooseBroadcastHostState(Some(hostStateBroadcastMaxRows)))
    assert(!chooseBroadcastHostState(Some(hostStateBroadcastMaxRows + 1)))
  }

  test("S4 delta commit width: one file per steady delta, upstream width without a bound") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import graft.plans.{Crawler, CrawlRound, Recrawl}
    import graft.sources.{RoundLog, StateTable, SyntheticWeb}
    import spark.implicits._
    val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 1000, nHosts = 40)
    val cfg = graft.model.CrawlConfig(buckets = 16, roundBudget = 100, maxDepth = 10)
    val pages = SyntheticWeb.pages(spark, web).toDF().cache()
    val robots = SyntheticWeb.robotsTable(spark, web)
    val seeds = SyntheticWeb.seeds(web, 10)
    def dataFiles(p: String): Int =
      if (!Files.isDirectory(Paths.get(p))) 0
      else {
        val w = Files.list(Paths.get(p))
        try w.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")) finally w.close()
      }
    // the delta writes of a steady round; `fromNewUrls` marks the two whose
    // row bound is the previous round's new_urls counter
    val deltas: Seq[(String, String => String, Boolean)] = Seq(
      ("fetch_log/snap", d => StateTable.snapPath(CrawlRound.fetchLogDir(d), 3L), false),
      ("frontier/snap", d => StateTable.snapPath(CrawlRound.frontierDir(d), 3L), true),
      ("frontier/dels", d => StateTable.delPath(CrawlRound.frontierDir(d), 3L), false),
      ("url_seen/snap", d => StateTable.snapPath(CrawlRound.seenDir(d), 3L), true),
      ("host_state/snap", d => StateTable.snapPath(CrawlRound.hostStateDir(d), 3L), false))
    def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq
    def rowsAt(d: String, v: Long): Seq[Seq[String]] = Seq(
      StateTable.readAppended(spark, CrawlRound.fetchLogDir(d), Some(v)),
      CrawlRound.readFrontier(spark, d, Some(v)),
      spark.read.parquet(StateTable.delPath(CrawlRound.frontierDir(d), v)),
      StateTable.readAppended(spark, CrawlRound.seenDir(d), Some(v)),
      StateTable.read(spark, CrawlRound.hostStateDir(d), Some(v))
    ).map(rowsOf)

    // the stages that materialize the fetch root's cache, by the cached RDD
    // (named after its plan, which holds the page-scan kernel) at their head
    val scanStageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.headOption.exists(_.name.contains("page_scan_hrefs_hash")))
          scanStageTasks.add(e.stageInfo.numTasks)
    }
    // no post-shuffle coalescing, so an unbounded delta shows its upstream width
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val dRef = tmpDir("width-ref")
      Crawler.crawl(spark, dRef, pages, robots, seeds, cfg, 2)
      spark.sparkContext.addSparkListener(listener)
      try Crawler.crawl(spark, dRef, pages, robots, seeds, cfg, 3)
      finally {
        drainListenerBus()
        spark.sparkContext.removeSparkListener(listener)
      }
      deltas.foreach { case (name, path, _) =>
        assert(dataFiles(path(dRef)) == 1, s"$name: ${dataFiles(path(dRef))} files")
      }
      val scans = scanStageTasks.asScala.toSeq
      assert(scans.nonEmpty && scans.forall(_ == spark.sparkContext.defaultParallelism),
        s"fetch-root page-scan stages ran $scans tasks")

      // the same round with round 2's new_urls counter gone: the seen and
      // frontier news lose their bound and keep the upstream width
      val dNo = tmpDir("width-nocounter")
      Crawler.crawl(spark, dNo, pages, robots, seeds, cfg, 2)
      val m2 = Paths.get(dNo, "_round_log", "2.json")
      Files.writeString(m2, Files.readString(m2).replaceAll(",?\"new_urls\":\\d+", ""))
      RoundLog.clearCache()
      assert(StateTable.manifest(CrawlRound.seenDir(dNo), 2L).exists(!_.counters.contains("new_urls")))
      Crawler.crawl(spark, dNo, pages, robots, seeds, cfg, 3)
      deltas.foreach { case (name, path, fromNewUrls) =>
        val files = dataFiles(path(dNo))
        assert(if (fromNewUrls) files > 1 else files == 1, s"$name without a bound: $files files")
      }
      (1L to 3L).foreach(v => assert(rowsAt(dNo, v) == rowsAt(dRef, v), s"rows differ at v$v"))
      assert(RoundLog.manifest(dNo, 3L).map(_.tables) == RoundLog.manifest(dRef, 3L).map(_.tables))

      // maintenance commits: bounded by their counted selection
      val fetched = StateTable.readAppended(spark, CrawlRound.fetchLogDir(dRef))
        .select("surt").as[String].collect().sorted.toSeq
      val nRefetch = Recrawl.scheduleRefetch(spark, dRef, cfg, fetched.take(30).toDF("surt"))
      val fSnap4 = StateTable.snapPath(CrawlRound.frontierDir(dRef), 4L)
      assert(nRefetch > 0 && dataFiles(fSnap4) == 1)
      assert(StateTable.manifest(CrawlRound.frontierDir(dRef), 4L).exists(_.nRows == nRefetch))
      assert(spark.read.parquet(fSnap4).select("surt").distinct().count() == nRefetch)
      assert(dataFiles(StateTable.snapPath(CrawlRound.hostStateDir(dRef), 4L)) == 1)
      assert(rowsOf(StateTable.read(spark, CrawlRound.hostStateDir(dRef), Some(4L))) ==
        rowsOf(StateTable.read(spark, CrawlRound.hostStateDir(dRef), Some(3L))))
      val nExpired = Recrawl.expireSeen(spark, dRef, cfg, fetched.slice(30, 60).toDF("surt"))
      val sDels5 = StateTable.delPath(CrawlRound.seenDir(dRef), 5L)
      assert(nExpired > 0 && dataFiles(sDels5) == 1)
      assert(spark.read.parquet(sDels5).count() == nExpired)
    } finally {
      spark.conf.set(coalesceKey, before)
      pages.unpersist()
    }
  }

  test("IVF probe: partition-pruned scan, brute-force agreement within LSH recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val rest = emb.where(col("vec_id") =!= 0)
    val dir = tmpDir("ivf") + "/idx"
    graft.operators.Similarity.ivfWrite(rest, "embedding", dir, planes = 6)
    val probe = graft.operators.Similarity.ivfProbe(
      spark, dir, "vec_id", "embedding", q, 10, planes = 6)
    val plan = sparkPlan(probe)
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("bucket"), s"probe scan not partition-pruned:\n$plan")
    assert(!scanLine.matches(".*PartitionFilters: \\[\\].*"), s"empty partition filter:\n$plan")
    val ivf = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the probe must be EXACT within its candidate set: brute force over the
    // same probed buckets gives identical ranked results
    val probes = graft.operators.Similarity.probeBuckets(q, planes = 6, multiProbe = true)
    val restricted = rest.where(
      graft.operators.Similarity.lshBucketUdf(col("embedding"), lit(6)).isin(probes: _*))
    val expected = graft.operators.Similarity
      .bruteForceTopK(restricted, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == expected, "probe ranking diverges from brute force over probed buckets")
    // loose global sanity: the probed neighborhood catches some of the true
    // top-k (near-random synthetic embeddings give LSH little structure, so
    // the floor is deliberately low — exactness above is the real assertion)
    val bruteIds = graft.operators.Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val overlap = (ivf.map(_._1).toSet intersect bruteIds).size
    assert(overlap >= 1, s"LSH recall collapsed: $overlap/10 of brute-force top-k found")
  }

  test("J8/J9 match plans: shuffled full-outer, no cartesian, no sort-based argmax") {
    // matchByKey: full-outer has no broadcast arm in Spark — the plan must
    // be ONE shuffled join (SMJ or shuffled-hash), never nested-loop
    val mk = sparkPlan(SparkEntry.queries("q_match_transfer")(spark, sf))
    assert(mk.contains("FullOuter"), s"not a full-outer join:\n$mk")
    assert(!mk.contains("BroadcastNestedLoopJoin") && !mk.contains("CartesianProduct"),
      s"full-outer fell back to a nested-loop plan:\n$mk")

    // nearMatchByText: candidates come from band equi-joins only (no
    // cartesian anywhere), and the per-A argmax aggregates hash-based —
    // a SortAggregate would re-sort the candidate set per round at scale
    val nm = SparkEntry.queries("q_match_fuzzy")(spark, sf)
    val nmPlan = sparkPlan(nm)
    assert(!nmPlan.contains("CartesianProduct") && !nmPlan.contains("BroadcastNestedLoopJoin"),
      s"near-match generated an all-pairs plan:\n$nmPlan")
    val aggLines = nmPlan.linesIterator.filter(_.contains("Aggregate")).toSeq
    assert(aggLines.exists(l =>
        l.contains("ObjectHashAggregate") && l.contains("bestmatchagg")),
      s"argmax is not the hash-based typed Aggregator:\n$nmPlan")
    assert(!aggLines.exists(_.contains("SortAggregate")),
      s"argmax fell back to SortAggregate:\n${aggLines.mkString("\n")}")
  }

  test("frontier read restores declared column order and prunes buckets") {
    import spark.implicits._
    val dir = tmpDir("prune")
    val df = Seq(("a)/x", "http://a/x", "a", 3, 1L, 0, 1.0, 0L, ""),
        ("b)/y", "http://b/y", "b", 5, 2L, 0, 1.0, 0L, ""))
      .toDF(graft.plans.CrawlRound.frontierCols: _*)
    graft.sources.StateTable.commit(df, dir, 0L, 0L)
    val back = graft.sources.StateTable.read(spark, dir, None, Some(graft.model.Schemas.frontier))
      .where(col("host_bucket") === 3)
    val plan = executed(back)
    assert(back.columns.toSeq == graft.plans.CrawlRound.frontierCols)
    assert(plan.contains("host_bucket=3") || plan.contains("PartitionFilters"),
      s"bucket partition not pruned:\n$plan")
  }
}
