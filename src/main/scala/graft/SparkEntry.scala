package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions
import graft.operators.{Graph, Multimodal, Similarity, TextAnalysis, TextDedup}
import graft.sources.SyntheticWeb

/** Driver contract (SURVEY.md §0.5): one `queries` entry per implemented
  * operator family, each with an ANSI-SQL DuckDB oracle where expressible;
  * non-SQL operators (UDF canon/surt, sketches, ANN, stubs) ship without
  * `oracleSql` and are covered by the in-repo oracle + unit suites instead.
  *
  * Numeric-compare discipline for oracled queries: counts cast to BIGINT on
  * both sides; money sums aggregated in DECIMAL (exact, order-independent)
  * then rounded + cast to DOUBLE; other floats rounded to ≤6dp. Every query
  * embeds a total ORDER BY so the parquet↔DuckDB compare is stable.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Distinct word-trigram shingles per document (string form — the exact
    * shape the DuckDB oracles mirror): lowercase, whitespace-split, empties
    * dropped, windows of 3 joined by one space. ONE builder shared by the
    * jaccard / minhash-verify / clusters queries so a shingle-semantics
    * change cannot silently diverge their oracled pins.
    */
  private def trigramShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= lit(""))
    // floored: the shingle expression tree is the broadcast-build cost of the
    // verify joins — a single sub-16MB input partition ran it on 1 core of 32
    // (round-6 stage profile; no-op at scale — Parallelism.floor)
    graft.operators.Parallelism.floor(docs).select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(0), greatest(size(col("toks")) - 3, lit(0))),
        i => array_join(slice(col("toks"), i + lit(1), lit(3)), " "))).as("sh"))
  }

  /** Verified near-dup candidate pairs: MinHash-LSH candidates (b=32/r=2 —
    * recall 1.0 at threshold 0.5 on this corpus class, see
    * q_dedup_minhash_verify's banding note) reranked with exact trigram
    * Jaccard. Returns (a, b, jaccard) with jaccard UNROUNDED — callers
    * apply their own rounding/threshold so each query keeps its frozen
    * semantics.
    */
  private def nearDupPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cand = TextDedup.minhashCandidates(docs, "doc_id", "text",
      k = 3, m = 64, bands = 32)
    val sh = trigramShingles(docs)
    cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          greatest(size(array_union(col("sha"), col("shb"))), lit(1)))
      .select("a", "b", "jaccard")
  }

  /** Best-effort recursive delete of a temp dir (the one walk-and-delete,
    * shared by the three temp-dir demo queries).
    */
  private def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Flagship: one distilled frontier-expansion round (seeds → fetch →
    * extract → resolve → canonicalize → SURT → in-batch dedup → O1 order)
    * over a deterministic in-memory synthetic web — a single declarative
    * Catalyst plan exercising the engine's core path. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 200, nHosts = 10)
    val pages = SyntheticWeb.pages(spark, web).toDF()
    val seeds = SyntheticWeb.seeds(web, 8).toDF("raw")
      .select(UrlFunctions.canonUdf(col("raw")).as("url"))
      .where(col("url").isNotNull)
    seeds
      .join(pages.select("url", "html"), Seq("url"))
      .select(col("url").as("base"), explode(UrlFunctions.extractLinksUdf(col("html"))).as("l"))
      .withColumn("curl", UrlFunctions.canonUdf(UrlFunctions.resolveUdf(col("base"), col("l.href"))))
      .where(col("curl").isNotNull && col("curl").startsWith("http"))
      .withColumn("surt", UrlFunctions.surtUdf(col("curl")))
      .groupBy("surt")
      .agg(min(col("curl")).as("url"), count(lit(1)).as("n_refs"))
      .orderBy(col("surt"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- S1: fixed-schema scan with pushdown + pruning ----
    "q_s1_scan_prune" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .where(col("n_chars") > 200 && col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- A1: two-phase hash aggregation (decimal-exact sums) ----
    "q_a1_agg" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).as("sum_base"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double"), 2).as("revenue"),
          count(lit(1)).cast("long").as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- J: broadcast join chain + aggregation ----
    "q_j2_join_agg" -> ((s, dir) => {
      val customer = s.read.parquet(t(dir, "customer"))
      val orders = s.read.parquet(t(dir, "orders"))
      val nation = s.read.parquet(t(dir, "nation"))
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).cast("long").as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total"))
        .orderBy("n_name")
    }),

    // ---- J semi / anti ----
    "q_j3_semijoin" -> ((s, dir) => {
      val customer = s.read.parquet(t(dir, "customer"))
      val orders = s.read.parquet(t(dir, "orders"))
      customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    "q_j4_antijoin" -> ((s, dir) => {
      val part = s.read.parquet(t(dir, "part"))
      val li = s.read.parquet(t(dir, "lineitem")).where(col("l_quantity") > 49)
      part.join(li, part("p_partkey") === li("l_partkey"), "left_anti")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    }),

    // ---- D1: exact dedup, deterministic keep-min (not dropDuplicates) ----
    "q_d1_exact_dedup" -> ((s, dir) => {
      TextDedup.exactDedup(s.read.parquet(t(dir, "documents")), "doc_id", "text")
        .select(col("doc_id"), col("n_copies").cast("long").as("n_copies"))
        .orderBy("doc_id")
    }),

    // ---- D3: seen-set anti-join shape ----
    "q_d3_seen_antijoin" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders"))
      val seen = s.read.parquet(t(dir, "orders")).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("seen_key"))
      orders.join(seen, orders("o_orderkey") === seen("seen_key"), "left_anti")
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    }),

    // ---- W1/O2: per-key ranking (the frontier priority shape) ----
    "q_w1_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(t(dir, "orders"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // ---- W2/T1: token-bucket admission shape ----
    "q_w2_token_admission" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      s.read.parquet(t(dir, "events"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("user_id"), col("event_id"), col("rn").cast("long").as("rn"))
        .orderBy("user_id", "rn")
    }),

    // ---- W3: lag analytics ----
    "q_w3_lag" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      s.read.parquet(t(dir, "events"))
        .withColumn("delta", round(col("value") - lag("value", 1).over(w), 6))
        .select("user_id", "event_id", "delta")
        .orderBy("user_id", "event_id")
    }),

    // ---- W4: rolling frame ----
    // window ORDER BY must be TOTAL: the synthetic lineitem duplicates
    // (l_orderkey, l_linenumber) pairs (175 within one suppkey at sf0.1), so
    // without the l_quantity tie-break the 3-row frame depends on tie order
    // and the rolling sum diverges between engines (round-4 sf0.1 find; no
    // full-row duplicates exist, so this key is effectively unique — and a
    // full duplicate would have equal quantity, leaving the sum invariant)
    "q_w4_rolling" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_quantity").asc)
        .rowsBetween(-2, 0)
      s.read.parquet(t(dir, "lineitem"))
        .withColumn("roll_qty", round(sum("l_quantity").over(w), 2))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "roll_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    // ---- D6 companion: adaptive revisit scheduling (the due-set predicate
    // feeding Recrawl.scheduleRefetch). Cho/Garcia-Molina-style policy:
    // revisit interval inversely proportional to the observed change rate
    // (here: 'purchase' events stand in for observed content changes per
    // key), clamped to ≥1h; a key is due when last_seen + interval passes
    // the fixed reference instant. Integer epoch arithmetic end to end so
    // the boundary is engine-exact. One hash aggregation — the shape that
    // scales to a 10^10-row fetch log. ----
    "q_recrawl_due" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .groupBy(col("user_id").as("key"))
        .agg(
          count(lit(1)).as("n_visits"),
          count(when(col("event_type") === "purchase", 1)).as("n_changes"),
          unix_timestamp(max(col("ts"))).as("last_epoch"))
        .withColumn("interval_hours",
          greatest(lit(1L), floor(lit(168L) / (lit(1L) + col("n_changes")))))
        .withColumn("due",
          (col("last_epoch") + lit(3600L) * col("interval_hours")) < lit(1706745600L))
        .select("key", "n_visits", "n_changes", "interval_hours", "last_epoch", "due")
        .orderBy("key")
    }),

    // ---- A3: OPIC cash-split shape (contribution = value/n, sum per target).
    // n_links via a window count over the same l_orderkey partitioning the
    // self-join would shuffle for — one shuffle instead of two ----
    "q_a3_opic" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders"))
      val li = s.read.parquet(t(dir, "lineitem"))
      val w = Window.partitionBy("l_orderkey")
      // contributions are quantized to integer micro-units BEFORE the sum —
      // the same determinism move as the engine's [SPEC-O1] scoreKey: a
      // double sum's value depends on accumulation order (hash-agg merge
      // order here, DuckDB thread scheduling there), and at sf0.1 one
      // partkey's cash landed exactly on a .xx5 rounding boundary, flipping
      // the last cent between runs. Long sums are order-exact.
      li.withColumn("n_links", count(lit(1)).over(w))
        .join(orders.select(col("o_orderkey"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("contrib_micro",
          round(col("o_totalprice") * lit(1000000L) / col("n_links"), 0).cast("long"))
        .groupBy("l_partkey")
        .agg(round(sum("contrib_micro") / 1e6, 2).as("cash"))
        .orderBy("l_partkey")
    }),

    // ---- A4: rollup ----
    "q_a4_rollup" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // ---- A5: hot-key detection (the salting trigger) ----
    "q_a5_hotkeys" -> ((s, dir) => {
      // scale-invariant skew detector: keys above 1.05× the mean frequency
      val li = s.read.parquet(t(dir, "lineitem"))
      val counts = li.groupBy("l_suppkey").agg(count(lit(1)).cast("long").as("n"))
      val mean = counts.agg(avg(col("n"))).head().getDouble(0)
      counts.where(col("n") > mean * 1.05).orderBy("l_suppkey")
    }),

    // ---- A2: approx distinct (HLL++). The sketch value itself has no
    // DuckDB analogue, so the oracled surface is the HLL error BOUND
    // (|approx-exact|/exact ≤ 5% at default rsd 0.05 — deterministic for a
    // fixed input) plus the exact count ----
    "q_a2_approx_distinct" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          countDistinct("l_partkey").cast("long").as("exact_parts"))
        .select(col("l_returnflag"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("approx_within_5pct"),
          col("exact_parts"))
        .orderBy("l_returnflag")
    }),

    // ---- O2: global top-k (TakeOrderedAndProject) ----
    "q_o2_topk" -> ((s, dir) => {
      s.read.parquet(t(dir, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    }),

    // ---- O4: set ops ----
    "q_o4_except" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders")).select(col("o_custkey").as("custkey")).distinct()
      val building = s.read.parquet(t(dir, "customer"))
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("custkey"))
      orders.except(building).orderBy("custkey")
    }),
    "q_o4_intersect" -> ((s, dir) => {
      val orders = s.read.parquet(t(dir, "orders")).select(col("o_custkey").as("custkey")).distinct()
      val building = s.read.parquet(t(dir, "customer"))
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("custkey"))
      orders.intersect(building).orderBy("custkey")
    }),

    // ---- U3: host reversal as a pure builtin composition ----
    "q_u3_host_reverse" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .withColumn("host", concat(lit("h"), pmod(col("doc_id"), lit(40)), lit(".example.co.uk")))
        .withColumn("host_rev", UrlFunctions.hostReverseCol(col("host")))
        .select("doc_id", "host", "host_rev")
        .orderBy("doc_id")
    }),

    // ---- U1: builtin parse_url ----
    "q_u1_parse_url" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .withColumn("url", concat(lit("http://h"), pmod(col("doc_id"), lit(40)),
          lit(".example/d"), pmod(col("doc_id"), lit(7)), lit("/x.html?q="), col("doc_id")))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"))
        .orderBy("doc_id")
    }),

    // ---- U2/U4/U5: canonicalization family (UDF; oracle = in-repo suites) ----
    "q_u2_canon" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .withColumn("messy", concat(lit("HTTP://H"), pmod(col("doc_id"), lit(40)),
          lit(".Example.COM:80/a/../d"), pmod(col("doc_id"), lit(7)),
          lit("/x.html?b=2&utm_source=t&a=%41#frag")))
        .select(col("doc_id"), col("messy"),
          UrlFunctions.canonUdf(col("messy")).as("canon"),
          UrlFunctions.surtUdf(col("messy")).as("surt"),
          xxhash64(UrlFunctions.surtUdf(col("messy"))).as("url_hash"))
        .orderBy("doc_id")
    }),

    // ---- X1/X2: extraction over the deterministic synthetic corpus ----
    "q_x1_extract_links" -> ((s, dir) => {
      val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 100, nHosts = 10)
      SyntheticWeb.pages(s, web).toDF()
        .select(col("url"), explode(UrlFunctions.extractLinksUdf(col("html"))).as("l"))
        .select(col("url"), col("l.href").as("href"), col("l.anchor").as("anchor"))
        .orderBy("url", "href")
    }),
    "q_x2_extract_text" -> ((s, dir) => {
      val web = SyntheticWeb.WebConfig(seed = 42L, nPages = 100, nHosts = 10)
      SyntheticWeb.pages(s, web).toDF()
        .select(col("url"),
          (UrlFunctions.extractTextUdf(col("html")) === col("text")).as("byte_identical"),
          length(col("text")).as("text_len"))
        .orderBy("url")
    }),

    // ---- dates / math / json / arrays (§2.12 scalar demos) ----
    "q_dates_trunc" -> ((s, dir) => {
      s.read.parquet(t(dir, "orders"))
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("mon")
    }),
    "q_math_fns" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .where(pmod(col("l_orderkey"), lit(97)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_orderkey"), lit(7)).as("pm"),
          round(log2(col("l_quantity") + 1), 6).as("lg"),
          round(sqrt(col("l_extendedprice")), 6).as("sq"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_json_extract" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),
    "q_array_fns" -> ((s, dir) => {
      s.read.parquet(t(dir, "embeddings"))
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4).as("sum_all"))
        .orderBy("vec_id")
    }),

    // ---- map functions (§2.12). Every output column is SCALAR (keys joined
    // to one string): the driver's compare pipeline sorts column values and
    // cannot hash array cells. ----
    "q_map_fns" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .withColumn("m", map_from_entries(array(
          struct(lit("type").as("k"), col("event_type").as("v")),
          struct(lit("uid").as("k"), col("user_id").cast("string").as("v")))))
        .withColumn("m2", transform_keys(col("m"), (k, _) => upper(k)))
        .select(col("event_id"),
          element_at(col("m"), "type").as("evt_type"),
          element_at(col("m2"), "UID").as("uid_str"),
          concat_ws(",", map_keys(col("m2"))).as("keys"))
        .orderBy("event_id")
    }),

    // ---- sessionization (streaming-surface semantics in batch) ----
    "q_session_window" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // ---- text analysis family ----
    "q_text_quality" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id")
    }),
    "q_lang_id" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .withColumn("lang_pred", TextAnalysis.langIdUdf(col("text")))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("lang", "lang_pred")
    }),
    "q_fingerprint" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.fingerprintUdf(col("text"), lit(5)).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- dedup family over documents/embeddings ----
    "q_dedup_minhash" -> ((s, dir) => {
      TextDedup.minhashPairs(s.read.parquet(t(dir, "documents")),
          "doc_id", "text", k = 3, m = 64, bands = 16, threshold = 0.5)
        .orderBy("a", "b")
    }),
    // maxDist = 6 (not 10): with a 64-bit sketch, exact-recall banding gives
    // each of the maxDist+1 bands 64/(d+1) bits — at d=10 that is ~6-bit
    // bands whose 2^-6 collision rate makes candidate volume quadratic-ish
    // at scale. d=6 keeps 9-bit bands (2^-9 noise) while still covering the
    // near-dup hamming radius of this corpus; larger radii on 64-bit
    // sketches intrinsically trade recall bandwidth for candidate volume.
    "q_dedup_simhash" -> ((s, dir) => {
      TextDedup.simhashPairs(s.read.parquet(t(dir, "documents")),
          "doc_id", "text", maxDist = 6)
        .orderBy("a", "b")
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      TextDedup.embeddingPairs(s.read.parquet(t(dir, "embeddings")),
          "vec_id", "embedding", planes = 6, threshold = 0.25)
        .orderBy("a", "b")
    }),

    // ---- similarity search (brute force DuckDB-oracled via
    // list_cosine_similarity; both sides order by the ROUNDED cosine with a
    // vec_id tie-break so top-k membership is deterministic) ----
    "q_sim_bruteforce_topk" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
    }),
    "q_sim_lsh_topk" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.lshTopK(emb.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
    }),
    // ANN recall METRIC (r4 verdict #3), end-to-end DuckDB-oracled: recall@10
    // of hamming≤1 sign-LSH probing vs exact brute force over 8 sampled
    // queries. The sign-bucket family is SQL-expressible by design
    // (Similarity.signBucketCol) — planes = 3 pins a non-trivial recall
    // (mean ≈ 0.6-0.7 on this corpus, measured at sf0.01 and sf0.1), i.e.
    // the documented quality/pruning trade the plane count buys.
    "q_sim_recall" -> ((s, dir) => {
      Similarity.signLshRecall(s.read.parquet(t(dir, "embeddings")),
          "vec_id", "embedding", nQueries = 8, k = 10, planes = 3)
        .orderBy("qid")
    }),
    // persisted IVF index: bucket-partitioned write, then a PARTITION-PRUNED
    // probe (the scan reads only the probed bucket dirs — the 100 TB path)
    // ---- S8 WARC source/sink: write the deterministic synthetic corpus as
    // WARC/1.1 (one file per partition, no shuffle), read it back through
    // the byte-level record parser, and prove the html bytes survived by
    // extracting links from the re-read pages. Deterministic row count.
    "q_warc_roundtrip" -> ((s, dir) => {
      val pages = graft.sources.SyntheticWeb.pages(
        s, graft.sources.SyntheticWeb.WebConfig(seed = 42L, nPages = 300, nHosts = 12)).toDF()
      val warcDir = java.nio.file.Files.createTempDirectory("graft_warc_q_").toString
      try {
        graft.sources.Warc.writePages(pages.repartition(4), warcDir)
        val back = graft.sources.Warc.readPages(s, warcDir).toDF()
          .select(col("url"), col("warc_ts"),
            size(UrlFunctions.extractLinksUdf(col("html"))).as("n_links"),
            xxhash64(col("html")).as("html_hash"))
          .orderBy("url")
        val rows = back.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), back.schema)
      } finally deleteRecursively(warcDir)
    }),

    // ---- S9 sitemap seed source: deterministic urlset + gz urlset written
    // to a temp dir, read back through the parser — seeds for the crawl.
    "q_sitemap_seeds" -> ((s, dir) => {
      val web = graft.sources.SyntheticWeb.WebConfig(seed = 42L, nPages = 500, nHosts = 12)
      val urls = (0L until 200L).map(graft.sources.SyntheticWeb.pageUrl(web, _))
      val xml = urls.take(150).map(u =>
        s"<url><loc>${u.replace("&", "&amp;")}</loc></url>")
        .mkString("<urlset>", "", "</urlset>")
      val gzXml = {
        val bo = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bo)
        g.write(urls.drop(150).map(u => s"<url><loc>${u.replace("&", "&amp;")}</loc></url>")
          .mkString("<urlset>", "", "</urlset>").getBytes("UTF-8"))
        g.close(); bo.toByteArray
      }
      val smDir = java.nio.file.Files.createTempDirectory("graft_sitemap_q_").toString
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$smDir/a.xml"), xml.getBytes("UTF-8"))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$smDir/b.xml.gz"), gzXml)
        val seeds = graft.sources.Sitemaps.readSeeds(s, smDir)
          .toDF("url").orderBy("url")
        val rows = seeds.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), seeds.schema)
      } finally deleteRecursively(smDir)
    }),

    "q_sim_ivf_topk" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val q = emb.where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      // per-run UNIQUE index dir: a shared path keyed by dir.hashCode let two
      // concurrent harness runs race each other's overwrite/probe (and
      // math.abs(Int.MinValue) is negative). The top-k result is tiny, so it
      // is materialized here and the index deleted before returning.
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
      try {
        Similarity.ivfWrite(emb.where(col("vec_id") =!= 0), "embedding", idx, planes = 6)
        val probe = Similarity.ivfProbe(s, idx, "vec_id", "embedding", q, 10, planes = 6)
        val rows = probe.collect().toIndexedSeq // k = 10 rows
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), probe.schema)
      } finally deleteRecursively(idx)
    }),

    // ---- exact n-gram Jaccard verification (all-pairs on a BOUNDED sample;
    // candidate generation at scale is minhash/simhash — this is the exact
    // verify operator, DuckDB-oracled). Threshold 0.01, NOT 0.1: the sampled
    // sub-corpus contains background pairs (shared common trigrams) but no
    // near-duplicates, so 0.1 matched on zero rows — a vacuous oracle
    // (round-2 verdict #2). 0.01 keeps tens of nonzero-jaccard rows at every
    // SF, so the compare actually pins the shingle/slice/array semantics. ----
    "q_dedup_jaccard" -> ((s, dir) => {
      val d = trigramShingles(s.read.parquet(t(dir, "documents"))
        .where(pmod(col("doc_id"), lit(10)) === 0))
      // Inverted-index formulation (round 3; replaces the O(n²) NL join):
      // explode shingles and self-EQUI-join on the shingle, so only pairs
      // that actually share a shingle materialize; count(*) per (a,b) is
      // exactly |A∩B| (arrays are distinct), and |A∪B| = |A|+|B|-|A∩B|.
      // Pairs with zero shared shingles have jaccard 0 < threshold, so the
      // result is identical to the all-pairs oracle — but the plan is a
      // shuffled equi-join + hash aggregation, the shape that survives at
      // corpus scale where an NL self-join cannot.
      val sizes = d.select(col("doc_id"), size(col("sh")).as("n"))
      val ex = d.select(col("doc_id"), explode(col("sh")).as("g"))
      ex.as("x").join(ex.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .withColumn("jaccard", round(col("cnt").cast("double") /
          greatest(col("na") + col("nb") - col("cnt"), lit(1)), 6))
        .where(col("jaccard") >= 0.01)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    }),

    // ---- exact all-pairs embedding cosine over a bounded sample: the
    // verify-stage twin of q_dedup_jaccard for the embedding family,
    // DuckDB-oracled via list_cosine_similarity (round 4 — pins the
    // float→double cosine kernel itself, which the LSH-bucketed L4 pipeline
    // then reuses). The bounded NL join IS the verify semantics: at scale
    // the pair set comes from L4's capped LSH buckets; this query is the
    // exactness contract on a sampled sub-corpus. Threshold 0.3 keeps
    // 8/11/148 rows at sf0.001/0.01/0.1 (measured — non-vacuous at every
    // SF); round 5 absorbs float-order noise between the two engines. ----
    "q_dedup_cosine_exact" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
        .where(pmod(col("vec_id"), lit(10)) === 0)
      val l = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      val r = emb.select(col("vec_id").as("b"), col("embedding").as("vb"))
      l.join(r, col("a") < col("b"))
        .withColumn("cos", round(Similarity.cosineUdf(col("va"), col("vb")), 5))
        .where(col("cos") >= 0.3)
        .select("a", "b", "cos")
        .orderBy("a", "b")
    }),

    // ---- minhash→exact-verify, DuckDB-oracled END TO END (round-1 #10 /
    // round-2 verdict #2): the engine emits LSH candidate pairs verified by
    // exact string-trigram Jaccard ≥ 0.5; the oracle recomputes ALL pairs ≥
    // 0.5 in DuckDB. Equality holds iff LSH recall at the threshold is 1 on
    // this corpus — banding is sized for that: b=32 bands of r=2 rows gives
    // per-pair miss probability (1-j²)³² ≤ 1e-4 at j=0.5 and ≈6e-15 at the
    // corpus' actual near-dup similarity (j ≥ 0.8; background pairs ≤ 0.05,
    // measured — a wide gap, so the pinned compare is stable). ----
    "q_dedup_minhash_verify" -> ((s, dir) => {
      nearDupPairs(s.read.parquet(t(dir, "documents")))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .where(col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    }),

    // ---- dedup clustering: the step AFTER pair generation. The verified
    // near-dup pairs (the exact pipeline q_dedup_minhash_verify oracles end
    // to end) feed distributed hash-min connected components; the output is
    // the keep/drop decision per document — one representative (min id) per
    // cluster. DuckDB-oracled end to end via a recursive-CTE reachability
    // fixpoint over the same all-pairs ≥ 0.5 edge set. ----
    "q_dedup_clusters" -> ((s, dir) => {
      // same verified-pair pipeline as q_dedup_minhash_verify (unrounded
      // threshold, as before — the corpus' similarity gap makes the
      // boundary immaterial; see nearDupPairs)
      val pairs = nearDupPairs(s.read.parquet(t(dir, "documents")))
        .where(col("jaccard") >= 0.5)
        .select("a", "b")
      Graph.dedupClusters(pairs).orderBy("doc_id")
    }),

    // same clustering through the large-star/small-star arm (round 5 —
    // logarithmic-round CC for chain-shaped pair graphs); identical output
    // contract, same DuckDB recursive-CTE oracle
    "q_dedup_clusters_stars" -> ((s, dir) => {
      val pairs = nearDupPairs(s.read.parquet(t(dir, "documents")))
        .where(col("jaccard") >= 0.5)
        .select("a", "b")
      Graph.dedupClusters(pairs, algorithm = "stars").orderBy("doc_id")
    }),

    // ---- cross-set entity matching with attribute transfer (the
    // reference's match.py capability transposed; SURVEY §0.4): every
    // customer matched against its order-aggregate entity, B attributes
    // (order counts, order-exact integer cents) transferred onto matched
    // rows, every entity classified both / a_only / b_only. One full-outer
    // hash join — DuckDB-oracled. ----
    "q_match_transfer" -> ((s, dir) => {
      val cust = s.read.parquet(t(dir, "customer"))
        .select(col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
      val ords = s.read.parquet(t(dir, "orders"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))
      graft.operators.Match.matchByKey(cust, ords, "custkey")
        .orderBy("custkey")
    }),

    // ---- fuzzy cross-set match (record linkage): every even-id document
    // matched to its best near-duplicate odd-id document by word-trigram
    // Jaccard ≥ 0.5 — LSH-bucketed candidates + exact rerank + argmax
    // aggregation, DuckDB-oracled against the all-pairs argmax. ----
    "q_match_fuzzy" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      graft.operators.Match.nearMatchByText(
          docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 3, m = 64, bands = 32, threshold = 0.5)
        .orderBy("a_id")
    }),

    // ---- keyed snapshot diff (incremental export): per-customer order
    // stats at an early cutoff vs the full range; output is exactly the
    // keys whose entity was added or changed between the two versions
    // (null-safe struct comparison; unchanged keys emit nothing). Same
    // operator diffs the engine's versioned state tables (MatchSpec). ----
    "q_snapshot_diff" -> ((s, dir) => {
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))
      val orders = s.read.parquet(t(dir, "orders"))
      val before = agg(orders.where(col("o_orderdate") < "1996-01-01"))
      val after = agg(orders)
      graft.operators.Match.diffByKey(before, after, Seq("custkey"))
        .orderBy("custkey")
    }),

    // ---- batch PageRank (the offline companion of A3's online OPIC), 3
    // power iterations in order-exact integer micro-units over the
    // order→part bipartite graph (parts offset so the id spaces are
    // disjoint). DuckDB-oracled term for term. ----
    "q_pagerank" -> ((s, dir) => {
      val edges = s.read.parquet(t(dir, "lineitem"))
        .select(col("l_orderkey").as("src"),
          (col("l_partkey") + lit(1000000000L)).as("dst"))
      Graph.pagerankMicro(edges, iters = 3, damping = 0.85)
        .orderBy("id")
    }),

    // ---- multimodal: header metadata REAL for PNG/GIF/BMP/JPEG/WAV/MP4;
    // pixel/sample statistics REAL for BMP, 16-bit PCM WAV, PNG, GIF and
    // JPEG (PixelCodecs — from-scratch PNG/GIF decoders, JDK ImageIO for
    // JPEG); only MP4 SAMPLE decode remains the documented stub (H.264/AAC
    // need codec libs no JDK ships) ----
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.asMedia(s, s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.decode(media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("channels"), col("duration_ms"), col("ok"), col("n_samples"),
          round(col("sample_mean"), 6).as("sample_mean"),
          round(col("sample_rms"), 6).as("sample_rms"), col("sample_peak"))
        .orderBy("media_id")
    }),
    "q_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.asMedia(s, s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.sampleFrames(media, 4).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // ---- the multimodal RESIZE step (round 5): real decode (from-scratch
    // BMP/PNG/GIF codecs, JDK JPEG) → bilinear downscale → real PNG
    // re-encode; binary output pinned by its xxhash64 so the rows-only
    // check still covers byte determinism ----
    "q_multimodal_thumbs" -> ((s, dir) => {
      val media = Multimodal.asMedia(s, s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.thumbnails(media, maxW = 8, maxH = 8).toDF()
        .select(col("media_id"), col("src_width"), col("src_height"),
          col("width"), col("height"), xxhash64(col("png")).as("png_xxh64"))
        .orderBy("media_id")
    }),

    // ---- J5: hot-key salted join (output ≡ plain join; salt is internal) ----
    "q_j5_salted_join" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val sup = s.read.parquet(t(dir, "supplier"))
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.SkewJoin.saltedJoin(li, sup, key = "l_suppkey",
          rowId = "l_orderkey", salt = 4, hotFactor = 1.0)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- U8: builtin url_encode/url_decode round-trip self-check ----
    "q_u8_url_codec" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          url_encode(col("source")).as("enc"),
          (url_decode(url_encode(col("source"))) === col("source")).as("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // ---- the crawl engine distilled as a query ----
    "q_crawl_expand" -> ((s, dir) => entry(s)))

  def oracleSql: Map[String, String] = Map(
    "q_s1_scan_prune" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 200 AND lang = 'en' ORDER BY doc_id",

    "q_a1_agg" -> ("""
      SELECT l_returnflag, l_linestatus,
             round(cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
             round(cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
             round(cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) *
                   (cast(1 AS DECIMAL(18,2)) - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
             cast(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    "q_j2_join_agg" -> ("""
      SELECT n_name, cast(count(*) AS BIGINT) AS n_orders,
             round(cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),

    "q_j3_semijoin" -> ("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""),

    "q_j4_antijoin" -> ("""
      SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 49)
      ORDER BY p_partkey"""),

    "q_d1_exact_dedup" -> ("""
      SELECT cast(min(doc_id) AS BIGINT) AS doc_id, cast(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY text ORDER BY doc_id"""),

    "q_d3_seen_antijoin" -> ("""
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      ORDER BY o_orderkey"""),

    "q_w1_rank" -> ("""
      SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               cast(row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    "q_w2_token_admission" -> ("""
      SELECT user_id, event_id, rn FROM (
        SELECT user_id, event_id,
               cast(row_number() OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn
        FROM events) WHERE rn <= 2 ORDER BY user_id, rn"""),

    "q_w3_lag" -> ("""
      SELECT user_id, event_id,
             round(value - lag(value, 1) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC), 6) AS delta
      FROM events ORDER BY user_id, event_id"""),

    "q_w4_rolling" -> ("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(sum(l_quantity) OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll_qty
      FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber"""),

    "q_recrawl_due" -> ("""
      SELECT user_id AS key,
             count(*) AS n_visits,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_changes,
             greatest(1, 168 // (1 + count(*) FILTER (WHERE event_type = 'purchase'))) AS interval_hours,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch,
             (CAST(floor(epoch(max(ts))) AS BIGINT)
               + 3600 * greatest(1, 168 // (1 + count(*) FILTER (WHERE event_type = 'purchase'))))
               < 1706745600 AS due
      FROM events GROUP BY 1 ORDER BY key"""),

    "q_a3_opic" -> ("""
      WITH n AS (SELECT l_orderkey AS k, count(*) AS n_links FROM lineitem GROUP BY 1)
      SELECT l_partkey,
             round(sum(cast(round(o_totalprice * 1000000 / n_links, 0) AS BIGINT)) / 1000000.0, 2) AS cash
      FROM lineitem JOIN n ON l_orderkey = n.k
                    JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_partkey ORDER BY l_partkey"""),

    "q_a4_rollup" -> ("""
      SELECT l_returnflag, l_linestatus, cast(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    "q_a2_approx_distinct" -> ("""
      SELECT l_returnflag, TRUE AS approx_within_5pct,
             cast(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    "q_a5_hotkeys" -> ("""
      WITH c AS (SELECT l_suppkey, cast(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1)
      SELECT l_suppkey, n FROM c
      WHERE n > (SELECT avg(n) FROM c) * 1.05
      ORDER BY l_suppkey"""),

    "q_j5_salted_join" -> ("""
      SELECT l_orderkey, l_linenumber, l_suppkey, s_name
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ORDER BY l_orderkey, l_linenumber"""),

    "q_o2_topk" -> ("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),

    "q_o4_except" -> ("""
      SELECT custkey FROM (
        SELECT DISTINCT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY custkey"""),

    "q_o4_intersect" -> ("""
      SELECT custkey FROM (
        SELECT DISTINCT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      ORDER BY custkey"""),

    "q_u3_host_reverse" -> ("""
      SELECT doc_id, host, array_to_string(list_reverse(string_split(host, '.')), '.') AS host_rev
      FROM (SELECT doc_id, 'h' || cast(doc_id % 40 AS VARCHAR) || '.example.co.uk' AS host
            FROM documents) ORDER BY doc_id"""),

    "q_u1_parse_url" -> ("""
      SELECT doc_id,
             regexp_extract(url, 'http://([^/]+)/', 1) AS host,
             regexp_extract(url, 'http://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, '\?(.*)$', 1) AS query
      FROM (SELECT doc_id, 'http://h' || cast(doc_id % 40 AS VARCHAR) || '.example/d' ||
                   cast(doc_id % 7 AS VARCHAR) || '/x.html?q=' || cast(doc_id AS VARCHAR) AS url
            FROM documents) ORDER BY doc_id"""),

    "q_dates_trunc" -> ("""
      SELECT cast(date_trunc('month', o_orderdate) AS DATE) AS mon,
             cast(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1 ORDER BY mon"""),

    "q_math_fns" -> ("""
      SELECT l_orderkey, l_linenumber,
             l_orderkey % 7 AS pm,
             round(log2(l_quantity + 1), 6) AS lg,
             round(sqrt(l_extendedprice), 6) AS sq
      FROM lineitem WHERE l_orderkey % 97 = 0
      ORDER BY l_orderkey, l_linenumber"""),

    "q_json_extract" -> ("""
      SELECT event_id, cast(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events ORDER BY event_id"""),

    // semantics oracle for the map pipeline: map_from_entries keeps entry
    // order and transform_keys preserves it, so the expected key list is the
    // literal TYPE,UID and the element_at lookups are the source columns
    "q_map_fns" -> ("""
      SELECT event_id, event_type AS evt_type,
             cast(user_id AS VARCHAR) AS uid_str,
             'TYPE,UID' AS keys
      FROM events ORDER BY event_id"""),

    "q_array_fns" -> ("""
      SELECT vec_id, cast(len(embedding) AS BIGINT) AS dim,
             round(cast(embedding[1] AS DOUBLE), 6) AS first_val,
             round(cast(list_aggregate(cast(embedding AS DOUBLE[]), 'sum') AS DOUBLE), 4) AS sum_all
      FROM embeddings ORDER BY vec_id"""),

    "q_session_window" -> ("""
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 10 MINUTE THEN 1
                    WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                    ELSE 0 END AS new_sess
        FROM events),
      s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM g)
      SELECT user_id, min(ts) AS session_start, cast(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, session_start"""),

    "q_dedup_jaccard" -> ("""
      WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents WHERE doc_id % 10 = 0),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
                                      for i in range(0, greatest(len(toks)-3, 0) + 1)]) AS s
        FROM t)
      SELECT a.doc_id AS a, b.doc_id AS b,
             round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                   greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                  greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.01
      ORDER BY a, b"""),

    // exact all-pairs cosine over the sampled sub-corpus — pins the engine's
    // float→double cosine kernel against DuckDB's
    "q_dedup_cosine_exact" -> ("""
      WITH s AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id % 10 = 0)
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(a.v, b.v), 5) AS cos
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 5) >= 0.3
      ORDER BY a, b"""),

    "q_sim_bruteforce_topk" -> ("""
      WITH q AS (SELECT cast(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id,
             round(list_cosine_similarity(cast(embedding AS DOUBLE[]), qv), 6) AS cos
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY cos DESC, vec_id ASC LIMIT 10"""),

    // mirror of Similarity.signLshRecall term for term: sign buckets over
    // the first 3 coordinates, hamming≤1 probe, rank by 6dp-rounded cosine
    // with vec_id tie-break, recall@10 per query
    "q_sim_recall" -> ("""
      WITH b AS (
        SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
               ((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
                (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
                (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END))::BIGINT AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b WHERE vec_id < 8),
      c AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 8),
      brute AS (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id ASC) AS rk
        FROM c, q),
      lsh AS (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id ASC) AS rk
        FROM c, q WHERE bit_count(xor(bucket, qb)) <= 1)
      SELECT q.qid, coalesce(h.n_hits, 0) AS n_hits,
             coalesce(h.n_hits, 0) / 10.0 AS recall
      FROM q LEFT JOIN (
        SELECT bt.qid, count(*) AS n_hits
        FROM (SELECT qid, vec_id FROM brute WHERE rk <= 10) bt
        JOIN (SELECT qid, vec_id FROM lsh WHERE rk <= 10) lt
          ON bt.qid = lt.qid AND bt.vec_id = lt.vec_id
        GROUP BY bt.qid) h ON h.qid = q.qid
      ORDER BY q.qid"""),

    // all pairs at >= 0.5 — equality with the engine's LSH-candidates→verify
    // pipeline pins minhash recall AND the exact-jaccard semantics end to end
    "q_dedup_minhash_verify" -> ("""
      WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
                                      for i in range(0, greatest(len(toks)-3, 0) + 1)]) AS s
        FROM t)
      SELECT a.doc_id AS a, b.doc_id AS b,
             round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                   greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                  greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.5
      ORDER BY a, b"""),

    // pairs (same edge set q_dedup_minhash_verify pins) → connected
    // components as a recursive-CTE reachability fixpoint: comp(id) = min id
    // reachable over the symmetrized edge relation — exactly the hash-min
    // fixpoint the engine's distributed label propagation converges to
    "q_dedup_clusters" -> ("""
      WITH RECURSIVE t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
                                      for i in range(0, greatest(len(toks)-3, 0) + 1)]) AS s
        FROM t),
      pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.5),
      und AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM und
        UNION
        SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r),
      cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      sz AS (SELECT cluster_id, cast(count(*) AS BIGINT) AS cluster_size
             FROM cc GROUP BY cluster_id)
      SELECT cc.id AS doc_id, cc.cluster_id, sz.cluster_size,
             cc.id = cc.cluster_id AS keep
      FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id"""),

    // the stars arm must produce the IDENTICAL clustering — same oracle
    "q_dedup_clusters_stars" -> ("""
      WITH RECURSIVE t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
                                      for i in range(0, greatest(len(toks)-3, 0) + 1)]) AS s
        FROM t),
      pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.5),
      und AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM und
        UNION
        SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r),
      cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      sz AS (SELECT cluster_id, cast(count(*) AS BIGINT) AS cluster_size
             FROM cc GROUP BY cluster_id)
      SELECT cc.id AS doc_id, cc.cluster_id, sz.cluster_size,
             cc.id = cc.cluster_id AS keep
      FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id"""),

    // full-outer keyed match with presence classification — mirrors
    // Match.matchByKey; per-row integer cents before the sum keep the
    // aggregate order-exact in both engines
    "q_match_transfer" -> ("""
      WITH cust AS (
        SELECT c_custkey AS custkey, c_name, c_mktsegment FROM customer),
      ords AS (
        SELECT o_custkey AS custkey, cast(count(*) AS BIGINT) AS n_orders,
               cast(sum(cast(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders GROUP BY o_custkey)
      SELECT coalesce(cust.custkey, ords.custkey) AS custkey,
             c_name, c_mktsegment, n_orders, total_cents,
             CASE WHEN cust.custkey IS NOT NULL AND ords.custkey IS NOT NULL THEN 'both'
                  WHEN cust.custkey IS NOT NULL THEN 'a_only'
                  ELSE 'b_only' END AS match_status
      FROM cust FULL OUTER JOIN ords ON cust.custkey = ords.custkey
      ORDER BY custkey"""),

    // all-pairs even×odd trigram-Jaccard argmax — the complete-recall
    // recompute of the engine's LSH-candidates→rerank→argmax pipeline
    // (same shingle SQL the end-to-end minhash oracle pins); ties broken
    // to the smallest b_id on the 6-dp-quantized jaccard, mirroring
    // Match.nearMatchByText's max_by ordered by (jaccard, -b_id)
    "q_match_fuzzy" -> ("""
      WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([array_to_string(toks[i+1:i+3], ' ')
                                      for i in range(0, greatest(len(toks)-3, 0) + 1)]) AS s
        FROM t),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                     greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        WHERE round(cast(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                    greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) >= 0.5),
      best AS (SELECT a_id, max(jaccard) AS jaccard FROM pairs GROUP BY a_id)
      SELECT p.a_id AS a_id, min(p.b_id) AS b_id, p.jaccard AS jaccard
      FROM pairs p JOIN best USING (a_id, jaccard)
      GROUP BY p.a_id, p.jaccard ORDER BY a_id"""),

    // keyed diff: keys added or changed between the cutoff aggregate and the
    // full aggregate (removal impossible on an append-only fact table);
    // IS DISTINCT FROM mirrors the operator's null-safe struct comparison
    "q_snapshot_diff" -> ("""
      WITH before AS (
        SELECT o_custkey AS custkey, cast(count(*) AS BIGINT) AS n_orders,
               cast(sum(cast(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey),
      after AS (
        SELECT o_custkey AS custkey, cast(count(*) AS BIGINT) AS n_orders,
               cast(sum(cast(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders GROUP BY o_custkey)
      SELECT coalesce(b.custkey, a.custkey) AS custkey,
             CASE WHEN b.custkey IS NULL THEN 'added'
                  WHEN a.custkey IS NULL THEN 'removed'
                  WHEN (b.n_orders IS DISTINCT FROM a.n_orders)
                    OR (b.total_cents IS DISTINCT FROM a.total_cents) THEN 'changed'
             END AS change
      FROM before b FULL OUTER JOIN after a ON b.custkey = a.custkey
      WHERE CASE WHEN b.custkey IS NULL THEN 'added'
                 WHEN a.custkey IS NULL THEN 'removed'
                 WHEN (b.n_orders IS DISTINCT FROM a.n_orders)
                   OR (b.total_cents IS DISTINCT FROM a.total_cents) THEN 'changed'
            END IS NOT NULL
      ORDER BY custkey"""),

    // 3 PageRank power iterations in integer micro-units, mirroring
    // Graph.pagerankMicro term for term: identical IEEE double expressions
    // ((1-0.85)*1e9/n; 0.85*pr/od), half-up rounding to BIGINT per edge
    // contribution, order-exact long sums
    "q_pagerank" -> ("""
      WITH edges AS (
        SELECT DISTINCT l_orderkey AS s, l_partkey + 1000000000 AS d FROM lineitem),
      nodes AS (SELECT s AS id FROM edges UNION SELECT d FROM edges),
      c AS (SELECT cast(count(*) AS DOUBLE) AS n FROM nodes),
      deg AS (SELECT s, count(*) AS od FROM edges GROUP BY s),
      p0 AS (SELECT id, cast(round(1000000000.0 / c.n, 0) AS BIGINT) AS pr
             FROM nodes, c),
      i1 AS (
        SELECT n.id,
               cast(round((1-0.85) * 1000000000 / c.n, 0) AS BIGINT) +
               cast(coalesce(sum(cast(round(0.85 * p.pr / deg.od, 0) AS BIGINT)), 0) AS BIGINT) AS pr
        FROM nodes n CROSS JOIN c
        LEFT JOIN edges e ON e.d = n.id
        LEFT JOIN deg ON deg.s = e.s
        LEFT JOIN p0 p ON p.id = e.s
        GROUP BY n.id, c.n),
      i2 AS (
        SELECT n.id,
               cast(round((1-0.85) * 1000000000 / c.n, 0) AS BIGINT) +
               cast(coalesce(sum(cast(round(0.85 * p.pr / deg.od, 0) AS BIGINT)), 0) AS BIGINT) AS pr
        FROM nodes n CROSS JOIN c
        LEFT JOIN edges e ON e.d = n.id
        LEFT JOIN deg ON deg.s = e.s
        LEFT JOIN i1 p ON p.id = e.s
        GROUP BY n.id, c.n),
      i3 AS (
        SELECT n.id,
               cast(round((1-0.85) * 1000000000 / c.n, 0) AS BIGINT) +
               cast(coalesce(sum(cast(round(0.85 * p.pr / deg.od, 0) AS BIGINT)), 0) AS BIGINT) AS pr
        FROM nodes n CROSS JOIN c
        LEFT JOIN edges e ON e.d = n.id
        LEFT JOIN deg ON deg.s = e.s
        LEFT JOIN i2 p ON p.id = e.s
        GROUP BY n.id, c.n)
      SELECT id, pr AS pr_micro FROM i3 ORDER BY id"""),

    "q_text_quality" -> ("""
      SELECT doc_id,
             cast(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens_ws,
             cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
             round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) /
                   greatest(length(text), 1), 6) AS punct_ratio,
             round(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                   t -> t IN ('the','a','an','of','to','in','and','or','is','are','on','for','with','by','at','from'))) /
                   greatest(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')), 1)::DOUBLE, 6) AS stopword_ratio
      FROM documents ORDER BY doc_id"""))

}
