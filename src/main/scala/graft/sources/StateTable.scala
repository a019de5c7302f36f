package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot protocol over Parquet — `[SPEC-S2]` (SURVEY.md §1.4).
  *
  * No Iceberg/Delta jar exists on disk, so the contract's "Iceberg state
  * tables" is satisfied by this explicit substitution: atomic snapshot
  * commits, a snapshot log with per-round counters, time-travel reads, and
  * resume-from-last-committed. Layout per table:
  *
  * {{{
  * <dir>/snap-<v>/part-*.parquet   # immutable data files for version v
  * <dir>/_log/<v>.json             # manifest: version, round, n_rows, counters
  * <dir>/_log/CURRENT              # atomic pointer "<v>" (ATOMIC_MOVE)
  * }}}
  *
  * Commit = write snap-<v> fully → write manifest → atomically move CURRENT.
  * A killed run leaves a dangling snap-<v> no CURRENT references; resume reads
  * CURRENT and ignores orphans (BASELINE.json: "a killed run resumes from the
  * last committed snapshot with per-partition lineage and fetch/dedup
  * counters"). Commits are idempotent per version (exactly-once sink, ST4).
  *
  * The API is deliberately thin (read/commit/currentVersion) so a real Iceberg
  * catalog could replace it without touching any operator.
  */
object StateTable {

  /** `compactedThrough == version` marks a COMPACTED snapshot: its data files
    * hold the union of every delta ≤ version (an Iceberg rewrite-data-files
    * analogue, committed as a normal append-mode snapshot so history is never
    * mutated); -1 on plain deltas and full-snapshot tables.
    */
  final case class Manifest(
      version: Long,
      round: Long,
      nRows: Long,
      counters: Map[String, Long],
      parent: Long,
      compactedThrough: Long = -1L)

  private def logDir(dir: String): Path = Paths.get(dir, "_log")
  private def currentFile(dir: String): Path = logDir(dir).resolve("CURRENT")
  def snapPath(dir: String, v: Long): String = s"$dir/snap-$v"

  /** (stateDir, tableName) when `dir` is a table inside a state dir that has
    * committed at round level ([[RoundLog]] — one manifest + one CURRENT per
    * crawl round instead of four of each). Every manifest/version/CURRENT
    * lookup below consults BOTH logs, per-table first, so mixed chains
    * (seed commits and maintenance ops per-table, rounds round-level,
    * legacy state dirs entirely per-table) read identically.
    */
  private def roundScope(dir: String): Option[(String, String)] = {
    val p = Paths.get(dir).toAbsolutePath.normalize
    val parent = p.getParent
    if (parent != null && RoundLog.exists(parent.toString))
      Some((parent.toString, p.getFileName.toString))
    else None
  }

  def currentVersion(dir: String): Option[Long] = {
    val f = currentFile(dir)
    val perTable = if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
    // the round CURRENT counts for this table only if its manifest names it
    val viaRound = roundScope(dir).flatMap { case (sd, tbl) =>
      RoundLog.currentVersion(sd).filter(v => RoundLog.tableManifest(sd, tbl, v).isDefined)
    }
    (perTable, viaRound) match {
      case (Some(a), Some(b)) => Some(math.max(a, b))
      case (a, b) => a.orElse(b)
    }
  }

  def manifest(dir: String, v: Long): Option[Manifest] = {
    val f = logDir(dir).resolve(s"$v.json")
    if (Files.exists(f)) Some(parseManifest(Files.readString(f)))
    else roundScope(dir).flatMap { case (sd, tbl) => RoundLog.tableManifest(sd, tbl, v) }
  }

  /** The data files of a snapshot dir by Spark's rule: no path component
    * starting with `_` or `.` — not `_temporary` (an unfinished task's
    * output), `.crc` checksums or a `_SUCCESS` marker. Listed through
    * `java.nio`: Hadoop's local filesystem starts a process per listed entry
    * when it has no native library.
    */
  private def dataFiles(path: String): Seq[Path] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return Seq.empty
    val stream = Files.walk(root)
    try stream.iterator.asScala.filter { f =>
      Files.isRegularFile(f) && root.relativize(f).iterator.asScala.forall { c =>
        val n = c.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
    }.toVector
    finally stream.close()
  }

  private def hasDataFiles(path: String): Boolean = dataFiles(path).nonEmpty

  private def isPartitionedLayout(path: String): Boolean = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return false
    val stream = Files.list(p)
    try stream.iterator.asScala.exists(_.getFileName.toString.startsWith("host_bucket="))
    finally stream.close()
  }

  private def readPaths(
      spark: SparkSession,
      paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val withData = paths.filter(hasDataFiles)
    if (withData.isEmpty) {
      val s = schema.getOrElse(throw new IllegalStateException(
        "empty snapshot and no schema provided"))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    } else if (withData.exists(isPartitionedLayout) && withData.length > 1) {
      // each partitioned snapshot is its own discovery root (manifest-style);
      // multiple partitioned roots under one read conflict on layout inference
      withData.map { p =>
        val r = schema.map(spark.read.schema).getOrElse(spark.read)
        val df = r.parquet(p)
        schema.map(s => df.select(s.fieldNames.map(df.col).toIndexedSeq: _*)).getOrElse(df)
      }.reduce(_ unionByName _)
    } else {
      // flat layout (append-mode tables): ONE read over all snapshot dirs —
      // a single listing/planning pass however many deltas have accumulated
      val r = schema.map(spark.read.schema).getOrElse(spark.read)
      val df = r.parquet(withData: _*)
      schema.map(s => df.select(s.fieldNames.map(df.col).toIndexedSeq: _*)).getOrElse(df)
    }
  }

  /** Row count from parquet footers — driver-side, no Spark job, no Hadoop
    * filesystem (footers open through parquet's `LocalInputFile`).
    */
  private[graft] def footerRowCount(path: String): Long = {
    // footer reads in parallel — 64-bucket snapshots would otherwise cost
    // ~10ms × files of serial driver time per commit
    import scala.collection.parallel.CollectionConverters._
    dataFiles(path).par.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(f))
      try reader.getRecordCount
      finally reader.close()
    }.sum
  }

  /** Read snapshot `version` (or the CURRENT one). Fails if none committed. */
  def read(
      spark: SparkSession,
      dir: String,
      version: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val v = version.orElse(currentVersion(dir))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $dir"))
    readPaths(spark, Seq(snapPath(dir, v)), schema)
  }

  /** Read an APPEND-mode table at `version`: the union of all committed
    * deltas ≤ version (Iceberg-style append commits — the seen set and the
    * fetch log never rewrite history; a round only adds its delta). When a
    * compacted snapshot ≤ version exists, the chain starts THERE: one
    * compacted base + the deltas after it, so the read plans O(rounds since
    * compaction) directories instead of O(rounds).
    */
  def readAppended(
      spark: SparkSession,
      dir: String,
      version: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val v = version.orElse(currentVersion(dir))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $dir"))
    val vs = chainAt(dir, v)
    require(vs.nonEmpty, s"no committed snapshot ≤ $v in $dir")
    readPaths(spark, vs.map(snapPath(dir, _)), schema)
  }

  def delPath(dir: String, v: Long): String = s"$dir/dels-$v"

  /** Reserved manifest-counter key recording a version's tombstone count. */
  val DelsCounter = "dels"

  /** Stage-1b of a MERGE-ON-READ delta commit: write version `v`'s tombstone
    * keys (between [[writeSnap]] and [[finalizeCommit]], like bloom sidecars,
    * so a committed version always has its dels present), at the width
    * [[writeSnap]]'s `maxRows` rule gives. Returns the row count, which the
    * caller must record as the [[DelsCounter]] counter — readers size the
    * anti-join arm from manifests alone.
    */
  def writeDels(
      delKeys: DataFrame, dir: String, version: Long, maxRows: Option[Long] = None): Long = {
    val path = delPath(dir, version)
    dataWriter(sized(delKeys, maxRows)).parquet(path)
    footerRowCount(path)
  }

  /** `df` coalesced to [[graft.operators.Parallelism.partsFor]] its row
    * bound — one file per ~1M rows, so a small delta is one file however
    * wide the session is; no bound keeps the upstream width (the fail-safe
    * direction: an unknown-size delta is never funnelled into few tasks).
    */
  private def sized(df: DataFrame, maxRows: Option[Long]): DataFrame =
    maxRows.fold(df)(n => df.coalesce(graft.operators.Parallelism.partsFor(df, n)))

  /** Overwrite writer with no `_SUCCESS` marker: the manifest is the commit
    * point, and no reader looks for the marker.
    */
  private def dataWriter(df: DataFrame) = df.write.mode("overwrite")
    .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** The versions a merge-on-read at `v` unions: the NEWEST full snapshot ≤
    * v (any version committed without the [[DelsCounter]] — a seed commit, a
    * full-rewrite commit, or a compaction) plus the delta versions after it.
    * Full snapshots each hold the complete table, so the chain must start at
    * the latest one — unioning two full snapshots would double-count
    * (distinct from [[chainAt]], whose append tables are all-delta).
    */
  private[graft] def mergedChain(dir: String, v: Long): Seq[Long] = {
    val chain = chainAt(dir, v)
    val baseIdx = chain.lastIndexWhere(cv =>
      manifest(dir, cv).exists(m => !m.counters.contains(DelsCounter)))
    if (baseIdx >= 0) chain.drop(baseIdx) else chain
  }

  /** Tombstones accumulated over the merged chain at `v`, manifests only. */
  def totalDels(dir: String, version: Long): Long =
    delsIn(dir, mergedChain(dir, version))

  /** Tombstone count over an explicit chain, manifests only. */
  private def delsIn(dir: String, vs: Seq[Long]): Long =
    vs.flatMap(manifest(dir, _)).map(_.counters.getOrElse(DelsCounter, 0L)).sum

  /** Read a MERGE-ON-READ table at `version`: (base ∪ news) minus the
    * accumulated tombstone keys — Iceberg equality-deletes analogue. Each
    * round commits only its new rows plus the keys it removed
    * ([[writeDels]]), so the per-round write is O(delta), not O(table);
    * [[shouldCompact]]-driven compaction folds the chain into a full base.
    *
    * Deletes are SEQUENCE-SCOPED, as in Iceberg: a tombstone committed at
    * version d removes only rows committed at versions v < d (round 4 —
    * the earlier order-free subtraction required the caller to guarantee a
    * deleted key never reappears in later news, which the recrawl/expiry
    * operator breaks by design: it deletes a seen surt precisely so the
    * crawl can re-add it). [[subtractDelsSequenced]] keeps the common case
    * (all tombstones ≤ the newest del version, news after it untouched) a
    * single multi-path scan with no join on the untouched suffix.
    */
  def readMerged(
      spark: SparkSession,
      dir: String,
      version: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      keyCol: String = "surt",
      broadcastMaxDels: Long = 500000L): DataFrame = {
    val v = version.orElse(currentVersion(dir))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $dir"))
    val vs = mergedChain(dir, v)
    require(vs.nonEmpty, s"no committed snapshot ≤ $v in $dir")
    subtractDelsSequenced(spark, dir, vs, schema, keyCol, broadcastMaxDels)
  }

  /** Read an ALL-DELTA append table at `version` with merge-on-read
    * tombstones: union of the [[chainAt]] chain (compacted base + deltas,
    * every delta partial — unlike [[readMerged]]'s full-snapshot bases)
    * minus the sequence-scoped tombstones. With no tombstones in the chain
    * this is exactly [[readAppended]]. The seen table reads through this
    * once the recrawl/expiry operator may have tombstoned entries.
    */
  def readAppendedMerged(
      spark: SparkSession,
      dir: String,
      version: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      keyCol: String = "surt",
      broadcastMaxDels: Long = 500000L): DataFrame = {
    val v = version.orElse(currentVersion(dir))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot in $dir"))
    val vs = chainAt(dir, v)
    require(vs.nonEmpty, s"no committed snapshot ≤ $v in $dir")
    subtractDelsSequenced(spark, dir, vs, schema, keyCol, broadcastMaxDels)
  }

  /** Union the chain's news minus its tombstones, scoping every tombstone to
    * STRICTLY EARLIER news versions (Iceberg equality-delete sequencing).
    *
    * Plan shape: news at versions ≥ the newest del version can never be
    * deleted (strict <) — they read as ONE untouched multi-path scan with no
    * join, so a chain whose tombstones all sit at its tip (the frontier's
    * steady state: every round dels admitted surts from EARLIER rounds) pays
    * one anti-join on the prefix only. The anti-join is an equi-join on the
    * key with the sequence comparison as its residual condition — a
    * BroadcastHashJoin while the manifests bound the tombstones under
    * `broadcastMaxDels` (narrow ≤K·chain keys); above the gate it falls back
    * to a distributed anti-join, the same fail-safe trade as D3.
    */
  private def subtractDelsSequenced(
      spark: SparkSession,
      dir: String,
      vs: Seq[Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      keyCol: String,
      broadcastMaxDels: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    // del-carrying versions come from the COMMITTED manifests (DelsCounter),
    // never from directory listing: a dels-<v> dir left by a crashed,
    // never-finalized commit is an orphan, and applying it would delete live
    // rows with tombstones no manifest accounts for (the broadcast gate
    // below is manifest-counted and would see 0 for them). Orphans stay
    // inert until a later commit at v overwrites them or GC removes them.
    val delVs = vs.filter(dv =>
      manifest(dir, dv).exists(_.counters.getOrElse(DelsCounter, 0L) > 0L))
    if (delVs.isEmpty) readPaths(spark, vs.map(snapPath(dir, _)), schema)
    else {
      val maxDel = delVs.max
      val (affectedVs0, clearVs0) = vs.partition(_ < maxDel)
      // versions with no data files (e.g. an expiry commit: tombstones only,
      // zero news) contribute nothing — skip them rather than feed an empty
      // per-version scan to the union
      val affectedVs = affectedVs0.filter(av => hasDataFiles(snapPath(dir, av)))
      val clearVs = clearVs0.filter(cv => hasDataFiles(snapPath(dir, cv)))
      // no distinct on the build side: an anti-join tolerates duplicate keys,
      // and a key is tombstoned at most once while it is live (a re-added key
      // may be tombstoned again LATER — distinct sequence numbers, both kept)
      // read with the key's field from the table schema when there is one:
      // a schemaless read starts a schema-inference job per dels version
      val delsReader = schema
        .map(s => spark.read.schema(org.apache.spark.sql.types.StructType(Seq(s(keyCol)))))
        .getOrElse(spark.read)
      val dels = delVs.map { dv =>
        delsReader.parquet(delPath(dir, dv))
          .select(col(keyCol).as("__del_key"), lit(dv).as("__del_seq"))
      }.reduce(_ unionByName _)
      val build = if (delsIn(dir, vs) <= broadcastMaxDels) broadcast(dels) else dels
      val kept = affectedVs.map { av =>
        readPaths(spark, Seq(snapPath(dir, av)), schema).withColumn("__seq", lit(av))
      }.reduceOption(_ unionByName _).map { affected =>
        affected.join(
          build,
          affected(keyCol) === build("__del_key") && build("__del_seq") > affected("__seq"),
          "left_anti").drop("__seq")
      }
      val clear =
        if (clearVs.isEmpty) None
        else Some(readPaths(spark, clearVs.map(snapPath(dir, _)), schema))
      (kept, clear) match {
        case (Some(k), Some(c)) => k.unionByName(c)
        case (Some(k), None) => k
        case (None, Some(c)) => c
        case (None, None) => readPaths(spark, Seq.empty, schema) // empty w/ schema
      }
    }
  }

  /** The snapshot versions a read at `v` must union: the newest compacted
    * base ≤ v (if any) plus every delta after it.
    */
  private[graft] def chainAt(dir: String, v: Long): Seq[Long] = {
    val all = versions(dir).filter(_ <= v)
    compactedBase(dir, v) match {
      case Some(b) => all.filter(_ >= b)
      case None => all
    }
  }

  /** Newest version ≤ v whose snapshot is compacted (holds the union ≤ it). */
  private[graft] def compactedBase(dir: String, v: Long): Option[Long] =
    versions(dir).filter(_ <= v).reverse
      .find(bv => manifest(dir, bv).exists(_.compactedThrough == bv))

  /** Append-mode commit: snap-<v> holds ONLY this version's delta, written
    * flat (no partition dirs) so the whole chain reads in a single pass.
    */
  def commitAppend(
      delta: DataFrame,
      dir: String,
      version: Long,
      round: Long,
      counters: Map[String, Long] = Map.empty): Manifest =
    commit(delta, dir, version, round, counters, partitioned = false)

  /** Commit `df` as snapshot `version`. When `partitioned`, lays out by
    * host_bucket (directory-level pruning — SURVEY.md §4.2); append-mode
    * tables stay flat so any number of deltas reads in one pass. Idempotent:
    * an already-logged version is a no-op (with CURRENT repaired forward if
    * a crash left it behind the manifest).
    */
  def commit(
      df: DataFrame,
      dir: String,
      version: Long,
      round: Long,
      counters: Map[String, Long] = Map.empty,
      partitioned: Boolean = true): Manifest =
    alreadyCommitted(dir, version).getOrElse {
      val nRows = writeSnap(df, dir, version, partitioned)
      finalizeCommit(dir, version, round, nRows, counters)
    }

  /** The manifest for `version` when it was already logged (idempotent
    * replay). Also repairs a stale CURRENT: a crash between the manifest
    * write and the ATOMIC_MOVE would otherwise leave CURRENT behind forever,
    * because the idempotent replay of the round no-ops the commit.
    */
  def alreadyCommitted(dir: String, version: Long): Option[Manifest] = {
    val logged = logDir(dir).resolve(s"$version.json")
    if (Files.exists(logged)) {
      if (currentVersion(dir).forall(_ < version)) advanceCurrent(dir, version)
      Some(parseManifest(Files.readString(logged)))
    } else roundScope(dir) match {
      // round-committed: the repair-forward belongs to the ROUND pointer
      case Some((sd, tbl)) =>
        RoundLog.alreadyCommitted(sd, version).flatMap(_.tables.get(tbl))
      case None => None
    }
  }

  /** Stage 1 of a commit: write the snap-<v> data files (overwrite — safe to
    * retry) and return the footer row count. Visible to nobody until
    * [[finalizeCommit]] publishes the manifest + CURRENT, so side artifacts
    * derived from the data (e.g. bloom sidecars) can be written in between —
    * a reader never sees a committed version whose sidecars are missing.
    * `maxRows` is the caller's bound on the rows of `df`; a flat write
    * coalesces to the width it implies (see [[sized]]).
    */
  def writeSnap(
      df: DataFrame,
      dir: String,
      version: Long,
      partitioned: Boolean = true,
      maxRows: Option[Long] = None): Long = {
    val path = snapPath(dir, version)
    // one writer task per bucket directory: without the repartition each of
    // the N shuffle partitions opens a file in every bucket dir (N×B tiny
    // files per snapshot — the classic partitionBy write amplification)
    if (partitioned && df.columns.contains("host_bucket"))
      dataWriter(df.repartition(org.apache.spark.sql.functions.col("host_bucket")))
        .partitionBy("host_bucket").parquet(path)
    else dataWriter(sized(df, maxRows)).parquet(path)
    // driver-side footer count — no Spark job
    footerRowCount(path)
  }

  /** Stage 2 of a commit: publish manifest then atomically advance CURRENT.
    * `compacted = true` marks this snapshot as holding the full union ≤
    * version (see [[Manifest.compactedThrough]]).
    */
  def finalizeCommit(
      dir: String,
      version: Long,
      round: Long,
      nRows: Long,
      counters: Map[String, Long] = Map.empty,
      compacted: Boolean = false): Manifest = {
    Files.createDirectories(logDir(dir))
    val logged = logDir(dir).resolve(s"$version.json")
    val m = Manifest(version, round, nRows, counters, version - 1,
      if (compacted) version else -1L)
    Files.writeString(logged, renderManifest(m), StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    advanceCurrent(dir, version)
    m
  }

  private def advanceCurrent(dir: String, version: Long): Unit = {
    Files.createDirectories(logDir(dir))
    val tmp = logDir(dir).resolve(s"CURRENT.tmp.$version")
    Files.writeString(tmp, version.toString, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, currentFile(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Total rows across the append chain ≤ version, from manifests (no IO
    * beyond the _log dir — used for e.g. bloom sizing). Compaction-aware: a
    * compacted base's nRows already counts everything ≤ it.
    */
  def totalRows(dir: String, version: Long): Long =
    chainAt(dir, version).flatMap(manifest(dir, _)).map(_.nRows).sum

  /** Whether an append table should fold its delta chain into a compacted
    * snapshot THIS commit. Geometric policy balancing the two costs:
    * rewriting the full table too often is quadratic write amplification;
    * never rewriting makes reads plan O(rounds) directories and blocks GC.
    * Compact when the chain has ≥ `every` deltas AND the accumulated delta
    * rows are ≥ 1/4 of the base (≤ ~5 rewrites per size doubling — amortized
    * O(1) writes per row, like the bloom doubling), or unconditionally when
    * the chain hits 8× `every` (a hard directory-count bound for the
    * long-tail regime of many tiny deltas).
    */
  def shouldCompact(dir: String, prevVersion: Long, every: Int): Boolean = {
    if (every <= 0) return false
    val chain = chainAt(dir, prevVersion)
    if (chain.isEmpty) return false
    val chainLen = chain.length + 1 // + this round's delta
    if (chainLen < every) return false
    if (chainLen >= every * 8) return true
    val base = compactedBase(dir, prevVersion)
    base match {
      case None => true // no base yet: first compaction bounds the seed chain
      case Some(b) =>
        val baseRows = manifest(dir, b).map(_.nRows).getOrElse(0L)
        val deltaRows = chain.filter(_ > b).flatMap(manifest(dir, _)).map(_.nRows).sum
        deltaRows * 4 >= baseRows
    }
  }

  /** Snapshot expiration (Iceberg expire_snapshots analogue): delete every
    * snapshot no read within the retention window [current-keep+1, current]
    * can reference. Full-snapshot tables (`append = false`): any retained
    * version reads standalone → everything older goes. Append tables: a
    * retained read at w needs its compacted base and the deltas after it, so
    * only versions BELOW the base serving the oldest retained version are
    * deletable — if no such base exists, nothing is deleted (every delta is
    * still referenced). Returns the deleted versions.
    */
  def expire(dir: String, keepVersions: Int, append: Boolean): Seq[Long] = {
    require(keepVersions >= 2, "retention < 2 would break concurrent-commit resume")
    currentVersion(dir) match {
      case None => Seq.empty
      case Some(cur) =>
        val retainFrom = cur - keepVersions + 1
        val cutoff =
          if (!append) retainFrom
          else compactedBase(dir, retainFrom).getOrElse(return Seq.empty)
        val dead = versions(dir).filter(_ < cutoff)
        dead.foreach { v =>
          rmTree(Paths.get(snapPath(dir, v)))
          rmTree(Paths.get(delPath(dir, v))) // merge-on-read tombstones ride along
          Files.deleteIfExists(logDir(dir).resolve(s"$v.json"))
        }
        // round-committed manifests GC table-by-table (each table has its own
        // chain-aware cutoff); the round file dies when its last table does
        roundScope(dir).foreach { case (sd, tbl) => RoundLog.expireTable(sd, tbl, dead) }
        dead
    }
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** All committed versions, ascending (time-travel surface): per-table log
    * ∪ the table's versions in the parent round log.
    */
  def versions(dir: String): Seq[Long] = {
    val d = logDir(dir)
    val perTable =
      if (!Files.exists(d)) Seq.empty[Long]
      else {
        val stream = Files.list(d)
        try stream.iterator.asScala
          .map(_.getFileName.toString)
          .filter(_.endsWith(".json"))
          .map(_.stripSuffix(".json").toLong)
          .toSeq
        finally stream.close()
      }
    val viaRound = roundScope(dir) match {
      case Some((sd, tbl)) => RoundLog.versionsFor(sd, tbl)
      case None => Seq.empty[Long]
    }
    (perTable ++ viaRound).distinct.sorted
  }

  // --- minimal JSON (flat manifests only; no external json lib on classpath) ---

  private[sources] def renderManifest(m: Manifest): String = {
    val cs = m.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"version":${m.version},"round":${m.round},"n_rows":${m.nRows},"parent":${m.parent},"compacted_through":${m.compactedThrough},"counters":$cs}"""
  }

  private[sources] def parseManifest(s: String): Manifest = {
    def num(key: String): Long = {
      val p = ("\"" + key + "\":").r.pattern
      val mtch = p.matcher(s)
      if (!mtch.find()) 0L
      else {
        var i = mtch.end
        val sb = new StringBuilder
        while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '-')) { sb.append(s.charAt(i)); i += 1 }
        sb.toString.toLong
      }
    }
    val counters: Map[String, Long] = {
      val start = s.indexOf("\"counters\":{")
      if (start < 0) Map.empty
      else {
        val body = s.substring(start + 12, s.indexOf('}', start))
        if (body.trim.isEmpty) Map.empty
        else body.split(",").iterator.map { kv =>
          val Array(k, v) = kv.split(":", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
        }.toMap
      }
    }
    // explicit -1 default: a pre-compaction manifest missing the key must not
    // read as "compacted through version 0"
    val ct = if (s.contains("\"compacted_through\":")) num("compacted_through") else -1L
    Manifest(num("version"), num("round"), num("n_rows"), counters, num("parent"), ct)
  }
}
