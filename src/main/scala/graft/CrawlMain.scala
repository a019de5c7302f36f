package graft

import graft.model.CrawlConfig
import graft.plans.Crawler
import graft.sources.{StateTable, SyntheticWeb}

/** spark-submit entry point: synthesize (or read) a pages corpus, run a
  * resumable crawl, print per-round counters and the frontier head.
  *
  * Usage: CrawlMain <stateDir> [nPages] [nHosts] [rounds] [budget] [seeds]
  * A pre-existing <stateDir> resumes from its last committed snapshot.
  * On a cluster this is the job the contract describes (`spark-submit` at N
  * and 4N executors); the master is SPARK_GRAFT_MASTER, else local[N] with
  * N = SPARK_GRAFT_CPUS or every processor.
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val stateDir = if (args.length > 0) args(0) else "/tmp/graft-crawl"
    val nPages = if (args.length > 1) args(1).toLong else 10000L
    val nHosts = if (args.length > 2) args(2).toInt else 64
    val rounds = if (args.length > 3) args(3).toInt else 10
    val budget = if (args.length > 4) args(4).toInt else 1000
    val nSeeds = if (args.length > 5) args(5).toInt else 20

    val cpus = GraftSession.cores
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)

    val web = SyntheticWeb.WebConfig(seed = 42L, nPages = nPages, nHosts = nHosts)
    val pages = SyntheticWeb.pages(spark, web).toDF().cache()
    val robots = SyntheticWeb.robotsTable(spark, web)
    val seeds = SyntheticWeb.seeds(web, nSeeds)
    val cfg = CrawlConfig(roundBudget = budget)

    val t0 = System.nanoTime()
    val counters = Crawler.crawl(spark, stateDir, pages, robots, seeds, cfg, rounds)
    val secs = (System.nanoTime() - t0) / 1e9

    counters.foreach { c =>
      println(f"round ${c.round}%3d  admitted=${c.admitted}%6d fetched200=${c.fetched200}%6d " +
        f"candidates=${c.candidates}%7d new=${c.newUrls}%6d dedup_dropped=${c.dedupDropped}%7d")
    }
    val admittedTotal = counters.map(_.admitted).sum
    println(f"TOTAL admitted=$admittedTotal in $secs%.1fs → ${admittedTotal / secs}%.0f urls/sec")
    println(s"frontier version: ${StateTable.currentVersion(s"$stateDir/frontier").getOrElse(-1L)}")
    println("frontier head (O1 order):")
    Crawler.orderedFrontier(spark, stateDir).show(10, truncate = false)
    spark.stop()
  }
}
