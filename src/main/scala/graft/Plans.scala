package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Dump the formatted physical plans of the engine's load-bearing operators
  * to BENCH/PLANS.md — the evidence behind the plan-shape claims that
  * PlanSpec asserts programmatically (no exchange/sort on the bucketed pages
  * side, map-side-bounded admission aggregate instead of a frontier
  * window sort, TakeOrderedAndProject top-k, partition-pruned IVF probe).
  *
  * Usage: `sbt "runMain graft.Plans [outFile]"` (default BENCH/PLANS.md).
  */
object Plans {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("BENCH/PLANS.md")
    val sf = "/root/testdata/sf0.001"
    val spark = GraftSession.create("local[4]", 4)
    import spark.implicits._

    val md = new StringBuilder
    def section(title: String, note: String, plan: String): Unit = {
      md ++= s"\n## $title\n\n$note\n\n```\n${plan.trim}\n```\n"
      println(s"[plans] $title")
    }

    md ++= "# Physical plans of the load-bearing operators\n\n"
    md ++= "Generated by `sbt \"runMain graft.Plans\"` on the sf0.001 fixture\n"
    md ++= "(plans are shape-stable across SF; sizes in the scans differ).\n"
    md ++= "Each shape below is also ASSERTED programmatically in\n"
    md ++= "`src/test/scala/graft/PlanSpec.scala` — this file is the\n"
    md ++= "human-readable evidence, the spec is the regression guard.\n"

    // 1. scan pushdown + pruning
    section("S1: scan with predicate pushdown + column pruning",
      "Filters on `lang`/`n_chars` land in `PushedFilters`; `ReadSchema` " +
        "excludes `text` (the fat column) — the 100-TB I/O lever.",
      fmt(SparkEntry.queries("q_s1_scan_prune")(spark, sf)))

    // 2. broadcast dimension join
    section("J2: dimension join broadcasts the small side",
      "`BroadcastHashJoin` with no `SortMergeJoin` fallback.",
      fmt(SparkEntry.queries("q_j2_join_agg")(spark, sf)))

    // 3. bucketed fetch join — no exchange/sort on pages
    {
      val dir = Files.createTempDirectory("graft_plans_").toString
      val pages = graft.sources.SyntheticWeb.pages(
        spark, graft.sources.SyntheticWeb.WebConfig(nPages = 500, nHosts = 10)).toDF()
      pages.repartition(8, col("url"))
        .write.bucketBy(8, "url").sortBy("url")
        .option("path", s"$dir/pages_b").mode("overwrite").saveAsTable("plans_pages")
      try {
        val bucketed = spark.table("plans_pages")
        val admitted = pages.limit(50).select(col("url"), lit(0).as("depth"))
        section("Fetch join against the bucketed pages table",
          "The pages subtree (`:` prefix) holds only the bucketed `FileScan` " +
            "— no `Exchange`, no `Sort`: bucket layout + one sorted file per " +
            "bucket satisfy the SMJ requirements directly, so the corpus " +
            "(the 100-TB table) is never shuffled.",
          fmt(bucketed.select(col("url"), col("html"))
            .join(admitted.hint("merge"), Seq("url"), "right_outer")))
      } finally spark.sql("DROP TABLE IF EXISTS plans_pages")
    }

    // 4. admission: bounded per-host top-k aggregate
    {
      import graft.plans.CrawlRound
      import graft.sources.StateTable
      val dir = Files.createTempDirectory("graft_plans_adm_").toString
      val rows = for { h <- 0 until 20; i <- 0 until 15 } yield (
        f"host$h)/p$i%02d", s"http://host$h/p$i", s"host$h", h % 4,
        (h * 100 + i).toLong, i % 3, 1.0 / (i % 5 + 1), 0L, "")
      StateTable.commit(rows.toDF(CrawlRound.frontierCols: _*), dir, 0L, 0L,
        partitioned = false)
      val frontier = StateTable.read(spark, dir, Some(0L), Some(graft.model.Schemas.frontier))
      val hs = Seq(("host0", 0.2, 2L), ("host1", 1.2, 1L))
        .toDF("host", "tokens", "last_round")
      section("Admission: bounded per-host top-k aggregation (AdmitTopK)",
        "No `Window`, no frontier `Sort`: a partial `ObjectHashAggregate` " +
          "runs BEFORE the only exchange, so at most ⌈burst⌉ candidate " +
          "structs per host per input partition cross the wire — the " +
          "round-3 replacement for ranking the whole frontier.",
        fmt(CrawlRound.admitCandidates(
          frontier, hs, broadcastHostState = true,
          df => df.withColumn("delay", lit(1.0)), graft.model.CrawlConfig(), 2L)))
    }

    // 5. global top-k
    section("O2: global top-k is TakeOrderedAndProject, not a full sort",
      "Per-partition heaps + a driver-side merge of k rows.",
      fmt(SparkEntry.queries("q_o2_topk")(spark, sf)))

    // 6. IVF probe: partition-pruned index read
    {
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      val idx = Files.createTempDirectory("graft_plans_ivf_").toString
      graft.operators.Similarity.ivfWrite(emb.where(col("vec_id") =!= 0), "embedding", idx)
      section("L8: IVF probe reads only the probed bucket partitions",
        "`PartitionFilters` on `bucket` prune the index directories — the " +
          "scan touches the probed buckets, not the corpus.",
        fmt(graft.operators.Similarity.ivfProbe(spark, idx, "vec_id", "embedding", q, 10)))
    }

    // 7. the full frontier-expansion dataflow
    {
      val web = graft.sources.SyntheticWeb.WebConfig(nPages = 500, nHosts = 10)
      val pages = graft.sources.SyntheticWeb.pages(spark, web).toDF()
      val cfg = graft.model.CrawlConfig()
      val robotsBc = graft.operators.Robots.broadcastPolicies(
        spark, graft.sources.SyntheticWeb.robotsTable(spark, web), cfg)
      val frontier = Bench.seedFrontier(pages, 100, cfg)
      section("Frontier expansion: fetch → extract → canonicalize → dedup + OPIC as ONE plan",
        "The whole per-round dataflow is a single declarative plan " +
          "(what the dataflow scaling probe measures): no driver-side " +
          "loops between stages.",
        fmt(graft.plans.Crawler.expandOnce(spark, frontier, pages, robotsBc, cfg)))
    }

    // 8. match / record-linkage plans (round 4)
    section("J8: cross-set match is ONE shuffled full-outer join",
      "Full-outer has no broadcast arm in Spark; the shuffle is inherent " +
        "and becomes a co-located zipper when both sides are bucketed on " +
        "the key. No nested-loop fallback.",
      fmt(SparkEntry.queries("q_match_transfer")(spark, sf)))
    section("J9: fuzzy match — LSH candidate stage (count-first cap, ids-only)",
      "The LAZY candidate plan (nearMatchByText cuts it eagerly after " +
        "evaluating each banded side once): band keys join equi (no " +
        "cartesian anywhere), the heavy shuffle carries `(id, band_idx, " +
        "band_hash)` only, and the count-first cap's semi-joins sit below " +
        "the expansion — no collect_list/collect_set aggregation anywhere.", {
        val docs = spark.read.parquet(s"$sf/documents.parquet")
        fmt(graft.operators.Match.fuzzyCandidatePlan(
          graft.operators.Match.bandedSide(docs, "a_id", "doc_id", "text", 3, 64, 32),
          graft.operators.Match.bandedSide(docs, "b_id", "doc_id", "text", 3, 64, 32),
          maxBucketPairs = 1000000))
      })
    section("J9: fuzzy match — exact rerank + hash argmax over the candidates",
      "The per-entity best match is an `ObjectHashAggregate` over a typed " +
        "argmax Aggregator (builtin `max(struct)`/`max_by` would " +
        "SortAggregate); the `Scan ExistingRDD` leaf is the eagerly-cut " +
        "candidate set from the stage above.",
      fmt(SparkEntry.queries("q_match_fuzzy")(spark, sf)))

    // 9. the injected SQL functions: canon ∘ resolve → fused native kernel
    {
      spark.read.parquet(s"$sf/documents.parquet")
        .select(concat(lit("http://h"), col("doc_id"), lit(".example/a/b")).as("base"),
          lit("../c?x=1&utm_source=t").as("href"))
        .createOrReplaceTempView("plans_links")
      section("U9: canon_url(resolve_link(..)) fuses into one native kernel",
        "`canon_url` and `resolve_link` (injected via `spark.sql.extensions`) " +
          "build native codegen expressions, and `canon_url` over " +
          "`resolve_link` builds a single `resolve_canon_surt` call at " +
          "analysis — no closure dispatch, no intermediate resolved-URL " +
          "string, inside WholeStageCodegen.",
        fmt(spark.sql(
          "SELECT canon_url(resolve_link(base, href)) AS u FROM plans_links")))
    }

    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), md.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
