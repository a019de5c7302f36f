package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CrawlConfig
import graft.operators.SeenStore
import graft.sources.StateTable

/** Recrawl maintenance operators (round 4) — the two ways a crawl revisits
  * URLs it already knows, each committed as ONE maintenance version across
  * all four state tables (the version lattice stays aligned, so Resume's
  * min-version rule and the round ≡ version convention hold; a maintenance
  * commit occupies one round slot in which no fetching happens — token
  * buckets see an idle round and refill up to the burst cap, which is the
  * behavior an idle wall-clock period would produce anyway).
  *
  * 1. [[Recrawl.scheduleRefetch]] — REFRESH: re-inject already-fetched URLs
  *    into the frontier at seed priority (depth 0). The seen set is NOT
  *    touched: those URLs stay deduplicated against link re-discovery, and
  *    exactly one frontier row per URL carries the refetch. This is the
  *    sitemap-lastmod / change-driven recrawl primitive: feed it the URLs a
  *    sitemap or freshness model says have changed.
  *
  * 2. [[Recrawl.expireSeen]] — FORGET: tombstone URLs out of the url_seen
  *    set (sequence-scoped merge-on-read deletes, so later re-discovery
  *    re-adds them cleanly) and delete their fingerprints from the cuckoo
  *    sidecars in place (the bloom arm cannot forget — its stale positives
  *    stay fail-safe via the exact anti-join and wash out at the next
  *    amortized rebuild; this asymmetry is WHY the cuckoo arm exists, D5).
  *    Re-discovery then happens organically via links, as for a brand-new
  *    URL. This is the aging/GC primitive that bounds the seen set over
  *    years of crawling (forget URLs unseen in N rounds, de-scoped hosts,
  *    dead URLs).
  *
  * Scale shape: both operators are O(selection) — a semi-join against the
  * seen/fetch-log chain, a tombstone write bounded by the selection, an
  * O(expired) executor-side sidecar rewrite of touched buckets only, plus
  * the host_state copy a normal round performs anyway. No full rewrite of
  * any large table.
  */
object Recrawl {

  /** Safety intersection both operators apply: only URLs NOT currently in
    * the frontier are eligible. Refetching a frontier-resident URL would
    * duplicate its row; forgetting one would break the frontier ⊆ seen
    * invariant the in-round dedup relies on (the row would be re-admittable
    * through link discovery while still scheduled).
    */
  private def eligible(selected: DataFrame, frontier: DataFrame): DataFrame =
    selected.join(frontier.select("surt"), Seq("surt"), "left_anti")

  /** Re-inject already-fetched URLs (selector: any DataFrame with a `surt`
    * column) into the frontier for refetch. Returns the number of rows
    * scheduled (0 ⇒ no commit was written).
    */
  def scheduleRefetch(
      spark: SparkSession,
      stateDir: String,
      cfg: CrawlConfig,
      selector: DataFrame): Long = {
    val prevV = Resume.lastCompleteVersion(stateDir)
      .getOrElse(throw new IllegalStateException(s"no committed crawl state in $stateDir"))
    val version = prevV + 1
    // refuse to complete a version a crashed ROUND (or the other maintenance
    // op) began — only an identical re-run may finish it (see Resume doc)
    Resume.requireSameWriter(stateDir, version, expect = Some("refetch_scheduled"))
    val frontier = CrawlRound.readFrontier(spark, stateDir, Some(prevV),
      broadcastMaxDels = cfg.exactAntiBroadcastMaxRows)
    // newest fetch per surt supplies (url, host); depth 0 + seed score put
    // the refetch at seed priority in the O1 order. The fetch log is
    // APPEND-ONLY, so it still lists URLs a later expireSeen forgot — those
    // must not be refetched: a frontier row for a URL absent from seen
    // breaks the frontier ⊆ seen invariant (link re-discovery would then
    // add a SECOND row for the same surt, and O1's no-ties guarantee dies).
    // Semi-joining the selection against the live seen set (the same merged
    // read expireSeen uses) keeps refetch ⊆ seen; a forgotten URL re-enters
    // organically via links, as expireSeen's contract states.
    val seen = StateTable.readAppendedMerged(
      spark, CrawlRound.seenDir(stateDir), Some(prevV), Some(graft.model.Schemas.urlSeen),
      broadcastMaxDels = cfg.exactAntiBroadcastMaxRows)
    val log = StateTable.readAppended(
      spark, CrawlRound.fetchLogDir(stateDir), Some(prevV), Some(graft.model.Schemas.fetchLog))
    val latest = log
      .join(selector.select("surt").distinct(), Seq("surt"), "left_semi")
      .join(seen.select("surt"), Seq("surt"), "left_semi")
      .groupBy(col("surt"))
      .agg(max(struct(col("round"), col("url"), col("host"))).as("f"))
      .select(col("surt"), col("f.url").as("url"), col("f.host").as("host"))
    val targets = eligible(latest, frontier)
      .select(
        col("surt"), col("url"), col("host"),
        graft.functions.UrlFunctions.hostBucket(col("host"), cfg.buckets).as("host_bucket"),
        xxhash64(col("surt")).as("url_hash"),
        lit(0).as("depth"),
        lit(1.0).as("score"),
        lit(version).as("discovered_round"),
        lit("").as("parent_surt"))
      .persist()
    val n = targets.count()
    if (n > 0) {
      commitMaintenance(spark, stateDir, version,
        frontierNews = Some(targets),
        seenDels = None, sidecarDels = None, nSelected = n,
        counters = Map("refetch_scheduled" -> n))
    }
    targets.unpersist()
    n
  }

  /** Forget URLs (selector: any DataFrame with a `surt` column) from the
    * url_seen set. Returns the number of entries expired (0 ⇒ no commit).
    */
  def expireSeen(
      spark: SparkSession,
      stateDir: String,
      cfg: CrawlConfig,
      selector: DataFrame): Long = {
    val prevV = Resume.lastCompleteVersion(stateDir)
      .getOrElse(throw new IllegalStateException(s"no committed crawl state in $stateDir"))
    val version = prevV + 1
    Resume.requireSameWriter(stateDir, version, expect = Some("expired"))
    val frontier = CrawlRound.readFrontier(spark, stateDir, Some(prevV),
      broadcastMaxDels = cfg.exactAntiBroadcastMaxRows)
    val seen = StateTable.readAppendedMerged(
      spark, CrawlRound.seenDir(stateDir), Some(prevV), Some(graft.model.Schemas.urlSeen),
      broadcastMaxDels = cfg.exactAntiBroadcastMaxRows)
    // semi-join against seen FIRST: sidecar deletion is only sound for keys
    // actually present (see Cuckoo64's deletion caveat)
    val expired = eligible(
      seen.join(selector.select("surt").distinct(), Seq("surt"), "left_semi"),
      frontier)
      .select("surt", "url_hash", "host_bucket")
      .persist()
    val n = expired.count()
    if (n > 0) {
      commitMaintenance(spark, stateDir, version,
        frontierNews = None,
        seenDels = Some(expired.select("surt")),
        sidecarDels = Some(expired.select("host_bucket", "url_hash")), nSelected = n,
        counters = Map("expired" -> n))
    }
    expired.unpersist()
    n
  }

  /** Commit one maintenance version to all four tables (serial — this is a
    * rare administrative operation, not the per-round hot path). Idempotent
    * per table, same as the round commits. `nSelected` is the counted row
    * number of the news or dels, which sizes their write.
    */
  private def commitMaintenance(
      spark: SparkSession,
      stateDir: String,
      version: Long,
      frontierNews: Option[DataFrame],
      seenDels: Option[DataFrame],
      sidecarDels: Option[DataFrame],
      nSelected: Long,
      counters: Map[String, Long]): Unit = {
    val prevV = version - 1

    // frontier: a MERGE-ON-READ delta — refetch rows as news (or an empty
    // delta), never a rewrite. Works under both frontier commit modes:
    // readMerged layers a delta on top of full bases and delta chains alike.
    val fDir = CrawlRound.frontierDir(stateDir)
    if (StateTable.alreadyCommitted(fDir, version).isEmpty) {
      val n = frontierNews match {
        case Some(news) =>
          StateTable.writeSnap(news, fDir, version, partitioned = false,
            maxRows = Some(nSelected))
        case None => 0L
      }
      StateTable.finalizeCommit(fDir, version, version, n,
        counters + (StateTable.DelsCounter -> 0L))
    }

    // seen: tombstones only (sequence-scoped), plus the in-place cuckoo
    // sidecar deletion — written BEFORE the manifest, preserving the
    // sidecars-complete-at-commit discipline
    val sDir = CrawlRound.seenDir(stateDir)
    if (StateTable.alreadyCommitted(sDir, version).isEmpty) {
      val nd = seenDels match {
        case Some(dels) =>
          val n = StateTable.writeDels(dels, sDir, version, maxRows = Some(nSelected))
          sidecarDels.foreach(SeenStore.deleteFromSidecars(spark, sDir, prevV, version, _))
          n
        case None => 0L
      }
      StateTable.finalizeCommit(sDir, version, version, 0L,
        counters + (StateTable.DelsCounter -> nd))
    }

    // host_state: carried forward unchanged (a full-snapshot table must have
    // a file at every version the round convention can read)
    val hDir = CrawlRound.hostStateDir(stateDir)
    if (StateTable.alreadyCommitted(hDir, version).isEmpty) {
      val prev = StateTable.read(spark, hDir, Some(prevV), Some(graft.model.Schemas.hostState))
      val n = StateTable.writeSnap(prev, hDir, version, partitioned = false,
        maxRows = StateTable.manifest(hDir, prevV).map(_.nRows))
      StateTable.finalizeCommit(hDir, version, version, n, counters)
    }

    // fetch_log: empty delta (no fetching happened)
    val lDir = CrawlRound.fetchLogDir(stateDir)
    if (StateTable.alreadyCommitted(lDir, version).isEmpty) {
      StateTable.finalizeCommit(lDir, version, version, 0L, counters)
    }
  }
}
