package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions
import graft.model.{CrawlConfig, RobotsPolicy, Schemas}
import graft.operators.SeenStore
import graft.sources.StateTable

/** Bootstrap + resume + loop drivers — SURVEY.md §3.2/§3.3.
  *
  * The crawl is a pure function of (seeds, pages, robots, config): seeds are
  * canonicalized, filtered, deduplicated and committed as snapshot v0; every
  * CrawlRound commits v+1; a killed run resumes from the minimum committed
  * version across state tables (commits are ordered, so a partial round rolls
  * back to the last complete one — old snapshots are retained for exactly
  * this time travel).
  */
object SeedInjector {

  def run(
      spark: SparkSession,
      stateDir: String,
      seeds: Seq[String],
      robots: graft.operators.RobotsAccess,
      cfg: CrawlConfig): Long = {
    import spark.implicits._
    // P2 over the seed list. Join arm: the seed host set is small by
    // definition, so the policy table is first semi-reduced to seed hosts
    // (scan-only on policies) and the tiny remainder broadcast — the full
    // map is never collected.
    val robotsSeedFilter: DataFrame => DataFrame = robots match {
      case graft.operators.RobotsBroadcast(bc) =>
        val allowUdf = graft.operators.Robots.allowPathUdf(bc)
        df => df.where(allowUdf(col("host"), UrlFunctions.pathOfUdf(col("url"))))
      case graft.operators.RobotsJoin(policies) =>
        val pathUdf = udf((url: String) => {
          val p = graft.functions.UrlCanon.parse(url)
          if (p == null) null else p.path
        })
        val decideUdf = udf((dis: Seq[String], alw: Seq[String], path: String) =>
          RobotsPolicy.decide(dis, alw, path))
        df => {
          val withPath = df.withColumn("__path", pathUdf(col("url")))
            .where(col("__path").isNotNull)
          val pol = policies
            .join(broadcast(withPath.select("host").distinct()), Seq("host"), "left_semi")
            .select(col("host"), col("disallow").as("__dis"), col("allow").as("__alw"))
          withPath.join(broadcast(pol), Seq("host"), "left")
            .where(decideUdf(col("__dis"), col("__alw"), col("__path")))
            .drop("__path", "__dis", "__alw")
        }
    }
    val frontier0 = seeds.toDF("raw")
      .withColumn("url", UrlFunctions.canonUdf(col("raw")))
      .where(col("url").isNotNull &&
        (col("url").startsWith("http://") || col("url").startsWith("https://")) &&
        length(col("url")) <= cfg.maxPathLength)
      .withColumn("host", UrlFunctions.hostOfUdf(col("url")))
      .transform(robotsSeedFilter)
      .withColumn("surt", UrlFunctions.surtUdf(col("url")))
      .groupBy("surt")
      .agg(min(struct(col("url").as("u"), col("host").as("h"))).as("f"))
      .select(
        col("surt"),
        col("f.u").as("url"),
        col("f.h").as("host"),
        UrlFunctions.hostBucket(col("f.h"), cfg.buckets).as("host_bucket"),
        xxhash64(col("surt")).as("url_hash"),
        lit(0).as("depth"),
        lit(1.0).as("score"),
        lit(0L).as("discovered_round"),
        lit("").as("parent_surt"))
      // four consumers below (count, frontier commit, seen write, sidecar
      // build) would each re-run the canonicalize → robots → dedup pipeline
      // over the seed list without this — at a multi-million-URL real seed
      // list that is 4× the UDF and shuffle cost
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val n = frontier0.count()
    StateTable.commit(frontier0, CrawlRound.frontierDir(stateDir), 0L, 0L, Map("seeds" -> n),
      partitioned = false) // frontier snapshots are flat (see CrawlRound S4 notes)

    // bloom sidecars land BETWEEN the data write and the manifest/CURRENT
    // publish: a committed seen version always has complete sidecars
    val seen0 = frontier0.select(
      col("surt"), col("url_hash"), col("host_bucket"), lit(0L).as("first_round"))
    if (StateTable.alreadyCommitted(CrawlRound.seenDir(stateDir), 0L).isEmpty) {
      val nSeen = StateTable.writeSnap(seen0, CrawlRound.seenDir(stateDir), 0L, partitioned = false)
      SeenStore.update(spark, CrawlRound.seenDir(stateDir), None, 0L, seen0,
        seen0, expectedPerBucket = n * 2 / cfg.buckets + 1024L, cfg)
      StateTable.finalizeCommit(CrawlRound.seenDir(stateDir), 0L, 0L, nSeen, Map("seeds" -> n))
    }

    val emptyHost = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.hostState)
    StateTable.commit(emptyHost, CrawlRound.hostStateDir(stateDir), 0L, 0L,
      partitioned = false)
    frontier0.unpersist()
    n
  }
}

object Resume {

  /** Last complete committed version across ALL state tables, fetch_log
    * included (None = no v0). Round 5: crawl rounds publish ONE round-level
    * manifest + CURRENT (RoundLog) covering all four tables, so for
    * round-committed versions the min below degenerates to that single
    * pointer (each table's currentVersion resolves to it); the min rule is
    * kept because seed commits (v0), maintenance operations (Recrawl) and
    * legacy state dirs still commit per-table — a crash there can leave one
    * table behind, and resuming from the minimum re-runs the partial
    * version idempotently. fetch_log has no v0 (seeding writes no log), so
    * its missing CURRENT counts as version 0.
    */
  def lastCompleteVersion(stateDir: String): Option[Long] = {
    val core = Seq(
      StateTable.currentVersion(CrawlRound.frontierDir(stateDir)),
      StateTable.currentVersion(CrawlRound.seenDir(stateDir)),
      StateTable.currentVersion(CrawlRound.hostStateDir(stateDir)))
    if (core.exists(_.isEmpty)) None
    else {
      val fetchV = StateTable.currentVersion(CrawlRound.fetchLogDir(stateDir)).getOrElse(0L)
      Some((core.flatten :+ fetchV).min)
    }
  }

  /** Manifest counter keys only maintenance commits (Recrawl) write; their
    * presence at a version identifies WHICH operation began committing it.
    */
  val MaintenanceMarkers: Set[String] = Set("refetch_scheduled", "expired")

  /** Counter keys of the first table found already committed at `v` (None =
    * no table has committed v yet). Crawl rounds and maintenance operations
    * both claim version lastComplete+1, and per-table idempotent replay is
    * only sound when the SAME deterministic writer re-runs the version — a
    * different operation completing a half-committed version would publish a
    * chimera mixing two operations' tables (e.g. a frontier whose refetch
    * rows' seen-side effects never committed, breaking frontier ⊆ seen and
    * O1's no-ties guarantee). Writers call this before committing and refuse
    * to complete a version another operation kind began.
    */
  def partialCommitMarkers(stateDir: String, v: Long): Option[Set[String]] =
    Seq(
      CrawlRound.frontierDir(stateDir), CrawlRound.seenDir(stateDir),
      CrawlRound.hostStateDir(stateDir), CrawlRound.fetchLogDir(stateDir))
      .flatMap(d => StateTable.alreadyCommitted(d, v))
      .headOption.map(_.counters.keySet)

  /** Throw unless the half-committed version `v` (if any) was begun by the
    * operation whose marker is `expect` (None = a crawl round: no
    * maintenance marker may be present).
    */
  def requireSameWriter(stateDir: String, v: Long, expect: Option[String]): Unit =
    partialCommitMarkers(stateDir, v).foreach { ks =>
      val began = ks.intersect(MaintenanceMarkers)
      val ok = expect match {
        case Some(marker) => began == Set(marker)
        case None => began.isEmpty
      }
      if (!ok) throw new IllegalStateException(
        s"version $v is partially committed by ${
          if (began.isEmpty) "a crawl round" else s"a maintenance operation ($began)"
        }; re-run that same operation (same selector) to complete it first — " +
        "completing it as a different operation would publish a chimera version")
    }
}

object Crawler {

  /** Run (or resume) a crawl to `targetRounds` completed rounds. */
  def crawl(
      spark: SparkSession,
      stateDir: String,
      pages: DataFrame,
      robotsTable: DataFrame,
      seeds: Seq[String],
      cfg: CrawlConfig,
      targetRounds: Int): Seq[CrawlRound.RoundCounters] = {
    val robots = graft.operators.Robots.access(spark, robotsTable, cfg)
    val startV = Resume.lastCompleteVersion(stateDir) match {
      case Some(v) => v
      case None =>
        SeedInjector.run(spark, stateDir, seeds, robots, cfg)
        0L
    }
    // a half-committed version begun by a MAINTENANCE op must be completed
    // by re-running that op, not silently absorbed into a crawl round
    Resume.requireSameWriter(stateDir, startV + 1, expect = None)
    ((startV + 1) to targetRounds.toLong).map { r =>
      CrawlRound.run(spark, stateDir, pages, robots, cfg, r)
    }
  }

  /** One frontier-expansion dataflow as a SINGLE declarative plan, no state
    * IO: fetch join → extract → resolve+canon+SURT → in-batch dedup + OPIC
    * over the whole probe frontier. Used by the scaling bench to measure the
    * engine's pure dataflow (what a cluster actually parallelizes) separately
    * from snapshot-commit orchestration.
    *
    * Protocol note (round 3): the per-host window rank the probe used to
    * include is GONE because the engine no longer ranks the frontier — the
    * round's admission is the bounded [[AdmitTopK]] aggregation over ≤⌈burst⌉
    * rows per host, whose cost the full-loop bench carries. The probe admits
    * every frontier URL so the measured volume stays the frontier size.
    */
  def expandOnce(
      spark: SparkSession,
      frontier: DataFrame,
      pages: DataFrame,
      robotsBc: org.apache.spark.broadcast.Broadcast[Map[String, RobotsPolicy]],
      cfg: CrawlConfig): DataFrame = {
    val allowPathUdf = graft.operators.Robots.allowPathUdf(robotsBc)
    val admitted = frontier
      .select("surt", "url", "host", "host_bucket", "depth", "score")
    // inner, not an outer+null-filter: unlike CrawlRound.fetchJoin (whose
    // outer arm preserves 404 rows) the probe keeps hits only, and Catalyst's
    // EliminateOuterJoin would rewrite the outer form to this anyway.
    // Round 6: hrefs-only scan + fused explode-resolve generator (see
    // ResolveLinksGen) — the resolve/canon kernel runs exactly once per link
    // and the candidate filter references plain generator outputs, where the
    // former cp-struct projection re-evaluated it under the pushed filter.
    pages.select(col("url"), col("html"))
      .join(admitted.hint("merge"), Seq("url"), "inner")
      .where(col("html").isNotNull)
      .select(
        col("surt").as("parent_surt"), col("url").as("base_url"),
        col("depth").as("parent_depth"), col("score"),
        graft.functions.CanonExpressions.pageScanHrefsCol(col("html")).as("scan"))
      .select(col("parent_surt"), col("parent_depth"),
        (col("score") / greatest(size(col("scan.links")), lit(1))).as("contrib"),
        graft.functions.CanonExpressions.resolveLinksGenCol(col("base_url"), col("scan.links"))
          .as(Seq("curl", "chost", "cpath", "csurt")))
      .where(col("curl").startsWith("http") && allowPathUdf(col("chost"), col("cpath")))
      .groupBy(col("csurt").as("surt"))
      .agg(
        min(struct(col("parent_depth").as("pd"), col("parent_surt").as("ps"),
          col("curl").as("u"), col("chost").as("h"))).as("f"),
        sum(col("contrib")).as("score"))
  }

  /** The O1 total frontier order at a version — the determinism linchpin
    * (`surt` is unique ⇒ no ties ⇒ identical output at any parallelism).
    */
  def orderedFrontier(spark: SparkSession, stateDir: String, version: Option[Long] = None): DataFrame =
    CrawlRound.readFrontier(spark, stateDir, version)
      .orderBy(col("depth").asc, CrawlRound.scoreKey(col("score")).desc, col("surt").asc)
}
