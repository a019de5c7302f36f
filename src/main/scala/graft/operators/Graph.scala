package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives the crawl/data pipeline needs at corpus
  * scale: connected components (dedup pair-clustering — the step AFTER
  * MinHash/SimHash pair generation that turns near-dup PAIRS into dedup
  * CLUSTERS with one kept representative) and fixed-iteration PageRank (the
  * batch companion of the crawler's online OPIC score, A3).
  *
  * Both are expressed as iterated Catalyst plans — equi-join + hash
  * aggregation per superstep, the only shapes that survive at 10^10 edges —
  * never as driver-side graph walks. No RDDs, no collect of vertex data.
  */
object Graph {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** [[connectedComponentsWithStatus]]'s result: the (id, comp) frame,
    * whether the fixpoint was reached, and how many supersteps ran. An
    * unconverged result is a SOUND under-approximation (every label is the
    * min over some reachable subset, so clusters may be split, never wrongly
    * merged).
    *
    * `components` is a lazy plan over the operator's last local checkpoints:
    * every action on it re-reads those blocks, nothing is in the
    * CacheManager. [[CCResult.release]] frees the blocks eagerly once the
    * caller is done; a caller that lets the frame become unreachable
    * instead leaves them to Spark's `ContextCleaner`.
    */
  final case class CCResult(components: DataFrame, converged: Boolean, iters: Int) {
    /** Free the checkpoint blocks backing `components` (Dataset.unpersist
      * cannot: localCheckpoint persistence lives at the RDD level, outside
      * the CacheManager).
      */
    def release(): Unit = releaseCheckpoint(components)
  }

  /** Unpersist every RDD a localCheckpoint-backed frame reads (no-op for any
    * other plan shape — memory hygiene degrades gracefully, correctness
    * never depends on it).
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** `df` local-checkpointed (eagerly), with its row count read by an
    * `Observation` on that same materializing action — no separate count
    * job. The count only sizes partitioning ([[Parallelism.partsFor]]).
    */
  private def checkpointCounted(df: DataFrame, name: String): (DataFrame, Long) = {
    val obs = new Observation(name)
    val ckpt = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (ckpt, obs.get("n").asInstanceOf[Long])
  }

  /** Connected components over an undirected edge list via hash-min label
    * propagation: each superstep takes the min component id over a vertex
    * and its neighbors, until a fixpoint (no label changed) or `maxIter`.
    *
    * Input: two columns (`aCol`, `bCol`) of long vertex ids, one row per
    * (unordered) edge. Output: (id BIGINT, comp BIGINT) — `comp` is the
    * minimum vertex id reachable from `id`; vertices are the edge
    * endpoints (isolated vertices have no edges to carry them here and
    * trivially form singleton components upstream).
    *
    * Scale shape: each superstep is one shuffled equi-join (messages along
    * edges) plus one hash aggregation (min per vertex) — map-side partial
    * mins bound the exchange. Convergence is detected WITHOUT an extra
    * pass: the changed-label count rides the superstep's own materializing
    * action via `Dataset.observe` (each superstep observes its own fresh
    * Observation, so the one-action-per-observation rule holds). Hash-min
    * converges in O(component diameter) supersteps — near-dup clusters are
    * shallow (stars around a popular document), so the practical bound is
    * small; a pathological chain is cut off by `maxIter` with the labels
    * still a sound (if unconverged) under-approximation, and
    * [[connectedComponentsStars]] is the O(log²) arm for chain-shaped
    * graphs. The cutoff is OBSERVABLE, not silent: the returned
    * [[CCResult]] carries `converged`/`iters`, so callers can warn, retry
    * wider, or fail.
    *
    * Materialization: only what the loop re-reads. The symmetrized edge
    * table is hash-partitioned by `s` and local-checkpointed ONCE (its row
    * count, which only sizes the superstep partitioning, rides that same
    * action), so every superstep's message join reuses that layout. The
    * first superstep starts from the neighbor-min labels
    * comp₀(v) = min(N(v) ∪ {v}), a plan over the edge checkpoint with no
    * checkpoint of its own. Each superstep `localCheckpoint`s its labels: a
    * superstep references the previous labels twice (messages ∪ self), so
    * carrying lineage forward would DOUBLE the plan and the RDD dependency
    * graph per superstep (2^30 at a diameter-30 component). The previous
    * superstep's blocks are released as soon as the next is materialized,
    * the edge table's once the loop ends. The trade is the standard
    * iterative-graph one (GraphX checkpointing): a lost executor's
    * checkpoint blocks are recovered by re-running the operator, not by
    * lineage recompute (local checkpoints are never replicated).
    */
  def connectedComponentsWithStatus(
      edges: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 20): CCResult = {
    val default = edges.sparkSession.sparkContext.defaultParallelism
    val e = edges.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("d"))
    // symmetrize once; both directions are needed so min labels flow both
    // ways. The layout is hash(s) at the shuffle width, which AQE coalesces
    // to the table's size (one partition for a tiny pair graph).
    val (und, nMsgs) = checkpointCounted(
      e.unionAll(e.select(col("d").as("s"), col("s").as("d"))).repartition(col("s")),
      "cc_edges")
    val parts = Parallelism.partsFor(und, nMsgs)
    // aliasing the partition key preserves the layout, so this aggregation
    // plans with NO exchange
    var verts = und.groupBy("s").agg(min("d").as("mn"))
      .select(col("s").as("id"), least(col("s"), col("mn")).as("comp"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor messages ∪ self; min(comp) per vertex. The self row also
      // carries the previous label so "changed" is computable in the same
      // aggregation (min over at most one non-null old value per id).
      val msgs = und.join(verts, und("s") === verts("id"))
        .select(col("d").as("id"), col("comp"), lit(null).cast("long").as("old"))
      val self = verts.select(col("id"), col("comp"), col("comp").as("old"))
      val obs = new Observation(s"cc_iter_$iter")
      // below the default width the agg exchange is pinned at `parts`
      // (single-digit tasks on tiny graphs); at scale the plain groupBy
      // keeps its map-side partial min (guide §2.3)
      val grouped = {
        val u = msgs.unionByName(self)
        (if (parts < default) u.repartition(parts, col("id")) else u)
          .groupBy("id")
          .agg(min("comp").as("comp"), min("old").as("old"))
      }
      // the eager checkpoint's own materializing action fires the observation
      val next = grouped
        .observe(obs, coalesce(
          sum(when(col("comp") < col("old"), 1L).otherwise(0L)), lit(0L)).as("n_changed"))
        .select("id", "comp")
        .localCheckpoint(true)
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      // release AFTER `next` is materialized; superstep 1's labels are a
      // plan over `und`, not a checkpoint of their own
      if (iter > 0) releaseCheckpoint(verts)
      verts = next
      iter += 1
    }
    // with no superstep run the labels still read `und`
    if (iter > 0) releaseCheckpoint(und)
    CCResult(verts, converged, iter)
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log²) worst-case arm for graphs where hash-min's
    * O(component diameter) supersteps would be linear in the corpus (a
    * near-dup chain: each doc similar only to its neighbors). Star rounds
    * shortcut exponentially instead:
    *
    *  - large-star, per node u over the symmetric neighbor view: emit
    *    (v, min(Γ(u) ∪ {u})) for every neighbor v > u;
    *  - small-star, per node u over high→low canonical edges: with
    *    m = min(N(u) ∪ {u}), emit (u, m) and (v, m) for v ∈ N(u) \ {m}.
    *
    * Both preserve the component partition exactly; the fixpoint is a star
    * forest (every edge child→root). Each round is two equi-join + hash-agg
    * pairs plus a distinct — the same shuffle shapes as a hash-min
    * superstep, O(|E|) work per round, no driver-side graph state.
    *
    * Convergence is detected by the star-forest property itself — no node
    * appears as both a child (hi side) and a parent (lo side); the check is
    * one vertex-sized left-semi probe per round. That check is SOUND (a
    * star forest is exactly the fixpoint of both operations), not a
    * probabilistic edge-set hash. At `maxRounds` the labels (per-node min
    * over the current neighbor view) are the same sound under-approximation
    * hash-min returns, flagged via [[CCResult.converged]].
    *
    * Materialization: the canonical (hi, lo) edge SET is local-checkpointed
    * once with its self-loops kept (its row count, which only sizes the
    * per-round partitioning, rides that same action); the rounds start
    * from it filtered to hi ≠ lo, and each round checkpoints its edge set
    * (lineage truncation, as in hash-min). The labels are a lazy plan over
    * the last round's checkpoint and the first edge set, whose endpoints
    * are the vertex set: a vertex whose only edges are self-loops
    * re-enters as its own singleton component.
    *
    * Output contract matches [[connectedComponentsWithStatus]]: (id, comp)
    * over every edge endpoint, comp = min reachable id; the two arms are
    * asserted equal in GraphSpec, and q_dedup_clusters_stars crosses this
    * arm against the same DuckDB recursive-CTE oracle as the hash-min arm.
    */
  def connectedComponentsStars(
      edges: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxRounds: Int = 50): CCResult = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    // canonical high→low edge set; `distinct` gives the set semantics the
    // star operations assume
    val (all, nEdges) = checkpointCounted(
      edges.select(greatest(a, b).as("hi"), least(a, b).as("lo")).distinct(),
      "cc_star_edges")
    // below the default width every distinct/agg exchange is pinned at
    // `parts`; at scale `pin` is the identity (see Parallelism)
    val parts = Parallelism.partsFor(all, nEdges)
    val default = edges.sparkSession.sparkContext.defaultParallelism
    def pin(df: DataFrame, key: String): DataFrame =
      if (parts < default) df.repartition(parts, col(key)) else df
    var cur = all.filter(col("hi") =!= col("lo"))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // ---- large-star ----
      val und = pin(cur.select(col("hi").as("s"), col("lo").as("d"))
        .unionAll(cur.select(col("lo").as("s"), col("hi").as("d"))), "s")
      val mins = und.groupBy("s").agg(min("d").as("mn"))
        .select(col("s"), least(col("mn"), col("s")).as("m"))
      // each edge is emitted exactly once, from its smaller endpoint's
      // grouping; m ≤ s < d keeps the high→low canonical form
      val ls = pin(und.join(mins, "s").where(col("d") > col("s"))
        .select(col("d").as("hi"), col("m").as("lo")), "hi")
        .distinct()
      // ---- small-star ----
      val mins2 = ls.groupBy("hi").agg(min("lo").as("m"))
      val next = pin(ls.join(mins2, "hi").where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionAll(mins2.select(col("hi"), col("m").as("lo"))), "hi")
        .distinct()
        .localCheckpoint(true)
      // star forest ⟺ no node is both a child and a parent ⟺ fixpoint
      converged = next.join(next.select(col("lo").as("hi")).distinct(), Seq("hi"), "left_semi")
        .isEmpty
      // the first round read `all`, which the labels still need
      if (round > 0) releaseCheckpoint(cur)
      cur = next
      round += 1
    }
    // labels from the final edge set: comp(v) = min(neighbors(v) ∪ {v})
    // over every endpoint v of `all`, in one aggregation. On a star forest
    // this is child→root / root→root exactly; unconverged it is the
    // hash-min-style sound under-approximation.
    val comps = cur.select(col("hi").as("id"), col("lo").as("comp"))
      .unionAll(cur.select(col("lo").as("id"), col("hi").as("comp")))
      .unionAll(all.select(col("hi").as("id"), col("hi").as("comp")))
      .unionAll(all.select(col("lo").as("id"), col("lo").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
    CCResult(comps, converged, round)
  }

  /** [[connectedComponentsWithStatus]] with the legacy DataFrame-only
    * surface; a maxIter cutoff is logged as a warning rather than returned.
    * The result is the same lazy plan over local checkpoints: nothing is
    * put in the CacheManager, and its blocks are freed by Spark's
    * `ContextCleaner` once the frame is unreachable. Callers that want to
    * free them eagerly use [[connectedComponentsWithStatus]] +
    * [[CCResult.release]]. Executor loss after return is recovered by
    * re-running the operator, the same non-fault-tolerant trade
    * `localCheckpoint` itself makes.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 20): DataFrame = {
    val r = connectedComponentsWithStatus(edges, aCol, bCol, maxIter)
    if (!r.converged) log.warn(
      s"connectedComponents stopped at maxIter=$maxIter before the fixpoint; " +
        "labels are a sound under-approximation (clusters may be split)")
    r.components
  }

  /** Dedup clustering: near-dup pairs → connected components → one kept
    * representative (the min doc id) per cluster. Output per document that
    * appears in at least one pair: (doc_id, cluster_id, cluster_size,
    * keep) — `keep` marks the cluster representative; every other member
    * is a near-duplicate to drop. This is the operator a training-data
    * pipeline actually runs after MinHash/LSH: pair lists are not
    * actionable, keep/drop decisions are.
    *
    * Convergence surface: `maxIter` is exposed; hitting it logs a warning
    * by default — the labels are then a sound under-approximation (split
    * clusters whose keep representative may be missing or duplicated — a
    * truncated min label needn't be a member of the group it labels — but
    * never a wrong merge) — or throws when `requireConverged` is set.
    * `algorithm = "stars"` selects the large-star/small-star arm
    * ([[connectedComponentsStars]]) whose round count is logarithmic in the
    * component diameter — the arm to run when pair graphs may chain
    * (template boilerplate corpora).
    *
    * The returned frame is a lazy plan over the components' local
    * checkpoints (`cluster_size` is a window count per component), so the
    * caller's own action computes it once and nothing enters the
    * CacheManager; the checkpoint blocks are freed by Spark's
    * `ContextCleaner` once the frame is unreachable. As with
    * [[connectedComponents]], executor loss after return is recovered by
    * re-running the operator, not by lineage recompute.
    */
  def dedupClusters(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20, requireConverged: Boolean = false,
      algorithm: String = "hashmin"): DataFrame = {
    require(algorithm == "hashmin" || algorithm == "stars",
      s"unknown CC algorithm '$algorithm' (hashmin|stars)")
    val r =
      if (algorithm == "stars") connectedComponentsStars(pairs, aCol, bCol, maxIter)
      else connectedComponentsWithStatus(pairs, aCol, bCol, maxIter)
    if (!r.converged) {
      val msg = s"dedupClusters: connected components unconverged at maxIter=$maxIter — " +
        "cluster ids are a sound under-approximation (some clusters split; a split " +
        "cluster's keep representative may be missing or duplicated)"
      if (requireConverged) { r.release(); throw new IllegalStateException(msg) }
      log.warn(msg)
    }
    r.components.select(
      col("id").as("doc_id"),
      col("comp").as("cluster_id"),
      count(lit(1)).over(Window.partitionBy("comp")).as("cluster_size"),
      (col("id") === col("comp")).as("keep"))
  }

  /** Fixed-iteration PageRank over a directed edge list, in integer
    * micro-units (1e9 = total teleport-normalized mass 1.0) so the
    * per-vertex sums are order-exact — the same determinism move as the
    * engine's [SPEC-O1] `scoreKey` and the A3 OPIC oracle: a double sum
    * depends on accumulation order (hash-agg merge order here, DuckDB
    * thread scheduling there); long sums do not. Each edge contribution is
    * quantized ONCE (`round(damping * pr / outdeg)` as a long) and then
    * summed exactly.
    *
    * Semantics (deliberately oracle-expressible): pr₀ = round(1e9 / N) per
    * vertex; prₜ₊₁(v) = round((1-d)·1e9 / N) + Σ_{u→v} round(d · prₜ(u) /
    * outdeg(u)). Dangling vertices leak their damped mass (no
    * redistribution) — the classic simplified formulation, stated so the
    * DuckDB oracle can mirror it term for term.
    *
    * Scale shape: per iteration one equi-join of edges against the rank
    * table (shuffle on the source id) + one hash aggregation on the
    * destination id; the edge×outdeg table is computed once and persisted.
    * At cluster scale both sides would be pre-bucketed by the join key in
    * Iceberg, making each superstep shuffle-free on the edge side.
    */
  def pagerankMicro(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    // round 6 (guide §2.4): the edge set is distinct'd ONCE into a persisted
    // frame (the old lazy `e` recomputed the distinct separately under
    // `nodes` and under `eDeg`), its count sizes every downstream shuffle
    // (tiny graphs → single-task stages; at scale `parts` saturates at the
    // default width and `pin` is the identity), and the edge×outdeg table is
    // hash-partitioned by the join key `s` once, so each iteration's rank
    // join reuses that layout instead of re-exchanging the cached edges —
    // the three concurrent eDeg exchanges were the largest stages in the
    // round-5 q_pagerank profile.
    val eDist = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = eDist.count()
    val parts = Parallelism.partsFor(eDist, nE)
    val default = edges.sparkSession.sparkContext.defaultParallelism
    def pin(df: DataFrame, key: String): DataFrame =
      if (parts < default) df.repartition(parts, col(key)) else df
    val eS = eDist.repartition(parts, col("s"))
    // grouping and joining on the partition key: deg + the attach join plan
    // with no further exchange above eS's one
    val eDeg = eS.join(eS.groupBy("s").agg(count(lit(1)).as("od")), "s")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = pin(eDist.select(col("s").as("id")).unionAll(eDist.select(col("d").as("id"))), "id")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    // both constants follow the exact double-expression the oracle uses:
    // (1-d) evaluated in IEEE double, then ×1e9, then /n, then half-up round
    val pr0 = math.round(1e9 / n)
    val teleport = math.round((1.0 - damping) * 1e9 / n)
    var pr = nodes.withColumn("pr", lit(pr0))
    for (_ <- 1 to iters) {
      val contribs = pin(eDeg.join(pr, eDeg("s") === pr("id"))
        .select(col("d").as("id"),
          round(lit(damping) * col("pr") / col("od"), 0).cast("long").as("c")), "id")
        .groupBy("id").agg(sum("c").as("inmass"))
      pr = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), (lit(teleport) + coalesce(col("inmass"), lit(0L))).as("pr"))
    }
    // materialize the (vertex-sized) result, then drop the edge-sized
    // intermediates — otherwise nodes/eDeg cached blocks outlive the call
    // for the session lifetime (the returned frame is persisted, callers
    // unpersist it when done)
    val result = pr.select(col("id"), col("pr").as("pr_micro"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    nodes.unpersist()
    eDeg.unpersist()
    eDist.unpersist()
    result
  }
}
