package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.model.{CrawlConfig, RobotsPolicy}

/** robots.txt parsing + policy access — `[SPEC-R1]` (SURVEY.md P2/J1).
  *
  * Only the `User-agent: *` group is honored. Recognized directives:
  * Disallow, Allow, Crawl-delay (interpreted in logical rounds — the engine
  * has no wall clock). Decision rule: longest-prefix match wins; equal-length
  * tie → allow. An empty Disallow value allows everything (per the original
  * robots.txt convention). Unknown directives are ignored.
  *
  * Two access arms, gated by host count ([[Robots.access]]):
  *  - ≤ gate: the policy map is collected and broadcast (BASELINE.json:
  *    "robots.txt cache as a broadcast map") — O(1) map-side probe, no join
  *    shuffle, O(hosts) driver memory.
  *  - above the gate, the broadcast map would be the one driver-memory term
  *    growing with the web: policies stay a distributed TABLE of parsed rules
  *    and P2/T1 become joins (per-host slim join for crawl delay; candidate ⋈
  *    policy for the path filter). Both arms share [[RobotsPolicy.decide]].
  */
sealed trait RobotsAccess
final case class RobotsBroadcast(bc: Broadcast[Map[String, RobotsPolicy]]) extends RobotsAccess
/** `policies`: (host, disallow array, allow array, crawl_delay_rounds). */
final case class RobotsJoin(policies: DataFrame) extends RobotsAccess

object Robots {

  def parse(host: String, robotsTxt: String, defaultDelayRounds: Double): RobotsPolicy = {
    var inStar = false
    var sawAnyAgent = false
    // RFC 9309 §2.2.1: CONSECUTIVE User-agent lines stack into one group's
    // start-line set ("User-agent: *\nUser-agent: FooBot\nDisallow: /x"
    // applies to * too); a User-agent line after a rule line starts a NEW
    // group. Without the stacking, the second UA line silently dropped the
    // whole group for * — a robots-compliance violation on a common pattern.
    var prevWasAgent = false
    val dis = Seq.newBuilder[String]
    val allow = Seq.newBuilder[String]
    var delay = defaultDelayRounds
    if (robotsTxt != null) robotsTxt.split("\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            inStar = (prevWasAgent && inStar) || value == "*"
            sawAnyAgent = true
          case "disallow" if inStar || !sawAnyAgent =>
            if (value.nonEmpty) dis += value
          case "allow" if inStar || !sawAnyAgent =>
            if (value.nonEmpty) allow += value
          case "crawl-delay" if inStar || !sawAnyAgent =>
            // reject non-finite and non-positive delays: the engine divides
            // by this value in the token refill, so "Crawl-delay: -1" would
            // drain tokens every round and starve the host forever, and NaN
            // would poison the persisted host_state arithmetic
            try {
              val d = value.toDouble
              if (java.lang.Double.isFinite(d) && d > 0) delay = d
            } catch { case _: NumberFormatException => () }
          case _ => ()
        }
        prevWasAgent = key == "user-agent"
      }
      // blank / non-directive lines do not break a User-agent run (RFC 9309
      // ignores them inside a group)
    }
    RobotsPolicy(host, dis.result(), allow.result(), delay)
  }

  /** Collect + broadcast the per-host policy map from the robots table. */
  def broadcastPolicies(
      spark: SparkSession,
      robotsTable: DataFrame,
      cfg: CrawlConfig): Broadcast[Map[String, RobotsPolicy]] = {
    val policies = robotsTable.select("host", "robots_txt").collect().map { r =>
      val host = r.getString(0)
      host -> parse(host, r.getString(1), cfg.defaultCrawlDelayRounds)
    }.toMap
    spark.sparkContext.broadcast(policies)
  }

  /** The robots table parsed into a DISTRIBUTED policy table (the join arm):
    * (host, disallow, allow, crawl_delay_rounds). Parsing runs once per host
    * on the executors; nothing is collected.
    */
  def policiesTable(robotsTable: DataFrame, cfg: CrawlConfig): DataFrame = {
    import org.apache.spark.sql.functions._
    val parseUdf = udf((host: String, txt: String) => {
      val p = parse(host, txt, cfg.defaultCrawlDelayRounds)
      (p.disallow, p.allow, p.crawlDelayRounds)
    })
    robotsTable.select(col("host"), parseUdf(col("host"), col("robots_txt")).as("p"))
      .select(col("host"), col("p._1").as("disallow"), col("p._2").as("allow"),
        col("p._3").as("crawl_delay_rounds"))
  }

  /** `Sitemap:` directives of one robots.txt. Per the sitemaps.org/robots
    * convention these live OUTSIDE user-agent groups and apply globally, so
    * they are deliberately not part of the frozen [[RobotsPolicy]] decision
    * shape — extraction is a separate concern feeding seed discovery (S9).
    */
  def sitemapUrls(robotsTxt: String): Seq[String] = {
    if (robotsTxt == null) return Nil
    robotsTxt.split("\n").toSeq.flatMap { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0 && line.substring(0, ci).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(ci + 1).trim
        if (v.nonEmpty) Some(v) else None
      } else None
    }
  }

  /** (host, sitemap_url) rows across the robots table — the discovery feed
    * for [[graft.sources.Sitemaps]]; parsed on the executors, nothing
    * collected.
    */
  def sitemapTable(robotsTable: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val smUdf = udf((txt: String) => sitemapUrls(txt))
    robotsTable.select(col("host"), explode(smUdf(col("robots_txt"))).as("sitemap_url"))
  }

  /** P2 on the broadcast arm, as a `(host, path)` predicate: a host with no
    * policy allows every path; a null path (an unparseable URL) is refused.
    */
  def allowPathUdf(bc: Broadcast[Map[String, RobotsPolicy]]): UserDefinedFunction =
    org.apache.spark.sql.functions.udf((host: String, path: String) =>
      path != null && bc.value.get(host).forall(_.allows(path)))

  /** Pick the arm: broadcast map up to `cfg.robotsBroadcastMaxHosts` hosts,
    * distributed policy-table join above (removing the only driver-memory
    * term that grows with the web).
    */
  def access(spark: SparkSession, robotsTable: DataFrame, cfg: CrawlConfig): RobotsAccess =
    if (robotsTable.count() <= cfg.robotsBroadcastMaxHosts)
      RobotsBroadcast(broadcastPolicies(spark, robotsTable, cfg))
    else RobotsJoin(policiesTable(robotsTable, cfg))

  val empty: Map[String, RobotsPolicy] = Map.empty
}
