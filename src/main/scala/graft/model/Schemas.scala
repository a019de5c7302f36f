package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Frozen data model `[SPEC-S1]` — SURVEY.md §1.2.
  *
  * Every table has an explicit StructType (no schema inference anywhere) and a
  * mirroring case class so code can move between DataFrame (Catalyst-optimized
  * relational ops) and Dataset[T] (typed invariants at module boundaries).
  *
  * Input contract (BASELINE.json `input_hint`): the `pages` table is exactly
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One URL awaiting fetch. `surt` is the primary key (SURVEY.md §1.2). */
final case class FrontierEntry(
    surt: String,
    url: String,
    host: String,
    host_bucket: Int,
    url_hash: Long,
    depth: Int,
    score: Double,
    discovered_round: Long,
    parent_surt: String)

/** Exact membership record of every URL ever admitted to the frontier. */
final case class SeenEntry(surt: String, url_hash: Long, host_bucket: Int, first_round: Long)

/** Per-host politeness state (token bucket — SURVEY.md §2.10 `[SPEC-T1]`). */
final case class HostState(
    host: String,
    host_bucket: Int,
    tokens: Double,
    crawl_delay_rounds: Double,
    last_round: Long)

/** Per-fetch lineage record (BASELINE.json: per-partition lineage + counters).
  * `partition_id` is the fetch task's partition. On the broadcast fetch arm
  * a 200 row carries the coalesced fetch root's partition, 0 until the
  * session's default parallelism (its core count), not a corpus bucket; the
  * 404 rows are unioned after the root, so their ids number on from there.
  */
final case class FetchRecord(
    round: Long,
    surt: String,
    url: String,
    host: String,
    status: Int,
    n_links: Int,
    text_xxh64: Long,
    partition_id: Int)

/** Parsed robots.txt policy for one host (`[SPEC-R1]`).
  * Rules are (isAllow, pathPrefix); longest-prefix match wins, tie → allow.
  */
final case class RobotsPolicy(
    host: String,
    disallow: Seq[String],
    allow: Seq[String],
    crawlDelayRounds: Double) {

  /** Longest-match allow/disallow decision; no matching rule → allowed. */
  def allows(path: String): Boolean = RobotsPolicy.decide(disallow, allow, path)
}

object RobotsPolicy {
  /** The decision rule as a static function of the rule lists, so both robots
    * arms (broadcast-map UDF probe and policy-table join) share ONE
    * implementation. Null rule lists (no policy row for the host) → allowed.
    */
  def decide(disallow: Seq[String], allow: Seq[String], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    var i = 0
    if (disallow != null) while (i < disallow.length) {
      val p = disallow(i)
      // disallow only wins strictly-longer matches (tie → allow)
      if (path.startsWith(p) && p.length > bestLen) { bestLen = p.length; bestAllow = false }
      i += 1
    }
    i = 0
    if (allow != null) while (i < allow.length) {
      val p = allow(i)
      if (path.startsWith(p) && p.length >= bestLen) { bestLen = p.length; bestAllow = true }
      i += 1
    }
    bestAllow
  }
}

/** Crawl configuration — plain Scala, no dynamic config (SURVEY.md §1.3). */
final case class CrawlConfig(
    buckets: Int = 64,          // host-hash buckets B; 4096 at contract scale
    roundBudget: Int = 50000,   // K — global per-round fetch budget
    maxDepth: Int = 12,
    burstTokens: Double = 2.0,  // token-bucket capacity
    initialTokens: Double = 1.0,
    defaultCrawlDelayRounds: Double = 1.0,
    maxPathLength: Int = 2048,
    bloomFpp: Double = 1e-3,
    // URL-seen sidecar kernel: "bloom" (default — fewest bits/key) or
    // "cuckoo" (16-bit-fingerprint cuckoo filter — supports in-place DELETE,
    // so recrawl expiry keeps the fast path tight instead of riding the
    // exact anti-join until the next rebuild; see SeenStore / SURVEY §2.5 D5)
    seenFilter: String = "bloom",
    hotHostThreshold: Long = 100000, // A5: candidate count above which a host is salted
    saltFactor: Int = 8,
    // fetch-join strategy: admitted ≤ this → broadcast the admitted side
    // (serial build, zero shuffle); above it → sort-merge join, which is
    // shuffle-free on a pages corpus bucketed+sorted by url and fully
    // parallel on the admitted side (the 10^10-scale path)
    broadcastFetchMaxBudget: Int = 65536,
    // D3 strategy gate: when the previous round produced more candidates
    // than this, the bloom-positive probe set is too large to broadcast —
    // the exact anti-join falls back to a distributed shuffle join instead
    // of collecting millions of surts through the driver
    // ≈500k surts ≈ 30-50 MB broadcast — beyond that the double-broadcast
    // trick costs more driver heap + serial build time than the narrow
    // surt-only shuffle of the distributed arm
    exactAntiBroadcastMaxRows: Long = 500000L,
    // append-chain compaction: fold the seen (and, under retention, the
    // fetch-log) delta chain into one compacted snapshot once the chain has
    // this many deltas AND the geometric row condition holds
    // (StateTable.shouldCompact — amortized O(1) writes per row, hard
    // directory bound at 8x). 0 disables compaction.
    compactEvery: Int = 8,
    // snapshot retention window in versions (Iceberg expire_snapshots
    // analogue): versions no retained read references are GC'd after each
    // round. 0 keeps all history (full time travel — the test default);
    // >= 2 required when enabled so concurrent-commit resume stays safe.
    retentionVersions: Int = 0,
    // frontier snapshot mode (round 4). true = MERGE-ON-READ delta commits:
    // a round writes only its new frontier rows plus the admitted surts as
    // tombstones (Iceberg equality-deletes analogue), so the per-round
    // frontier write is O(K + new) instead of O(|frontier|) — at contract
    // scale the frontier is the largest state table and rewriting it every
    // round was the single biggest per-round IO term. Reads subtract the
    // accumulated tombstones (exact: an admitted surt can never re-enter —
    // frontier ⊆ seen and news are anti-joined against seen); compaction
    // folds the chain into a full base on the same geometric policy as the
    // seen table. false = rewrite the full frontier every round (the
    // round-1..3 behavior, kept for the delta ≡ full equivalence test).
    // No knob sets a commit's file count: each delta write coalesces to its
    // row bound (CrawlRound's S4 width rule) and compactions keep their width.
    frontierDeltaCommits: Boolean = true,
    // robots arm gate: up to this many hosts the policy map is collected and
    // broadcast (the contract's "robots.txt cache as a broadcast map" — O(1)
    // map-side probe, no join shuffle; ~1M hosts ≈ low-hundreds MB driver
    // heap). Above it, the last driver-memory term that grows with the web
    // is gone: P2/T1 become joins against the policy TABLE (per-host slim
    // join for crawl delay; candidate⋈policy join for the path filter —
    // bucketed by host in Iceberg at contract scale, a plain narrow shuffle
    // in the parquet substitute).
    robotsBroadcastMaxHosts: Long = 1000000L)

object Schemas {
  val pages: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  val frontier: StructType = StructType(Seq(
    StructField("surt", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("url_hash", LongType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("discovered_round", LongType, nullable = false),
    StructField("parent_surt", StringType, nullable = false)))

  val urlSeen: StructType = StructType(Seq(
    StructField("surt", StringType, nullable = false),
    StructField("url_hash", LongType, nullable = false),
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("first_round", LongType, nullable = false)))

  val hostState: StructType = StructType(Seq(
    StructField("host", StringType, nullable = false),
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("tokens", DoubleType, nullable = false),
    StructField("crawl_delay_rounds", DoubleType, nullable = false),
    StructField("last_round", LongType, nullable = false)))

  val fetchLog: StructType = StructType(Seq(
    StructField("round", LongType, nullable = false),
    StructField("surt", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("n_links", IntegerType, nullable = false),
    StructField("text_xxh64", LongType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false)))

  val robots: StructType = StructType(Seq(
    StructField("host", StringType, nullable = false),
    StructField("robots_txt", StringType, nullable = false)))
}
