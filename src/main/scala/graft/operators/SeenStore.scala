package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.functions.{Bloom64, Cuckoo64}
import graft.model.CrawlConfig

/** The pluggable URL-seen filter kernel behind the sidecars — the contract
  * names BOTH arms ("bloom/cuckoo-filter URL-seen"): bloom (default —
  * smallest bits/key at fpp 1e-3, forgets only by full rebuild) and cuckoo
  * (round 4 — fpp ≈ 1.2e-4 at 16-bit fingerprints, supports in-place
  * DELETE, which keeps the fast path tight across recrawl expiry instead of
  * routing every expired URL through the exact anti-join until the next
  * amortized rebuild). Selected per crawl via `CrawlConfig.seenFilter`; the
  * sidecar chain records the kind per version, so mixed chains (a kind
  * switch mid-crawl) stay correct — see [[SeenStore.update]].
  */
private[graft] sealed trait FilterKind extends Serializable {
  def name: String
  /** Shape parameter recorded in the version meta (bloom: bit count m;
    * cuckoo: bucket count). Doubling the shape doubles capacity for both.
    */
  def optimalShape(expected: Long, fpp: Double): Long
  def empty(shape: Long): Array[Long]
  def put(arr: Array[Long], key: Long): Unit
  def mightContain(arr: Array[Long], key: Long): Boolean
  /** Merge `b` into `a` (same shape); mutates and returns `a`. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long]
  def saturation(arr: Array[Long]): Double
  /** Saturation above which the sidecar forces an amortized doubling
    * rebuild from the full seen set.
    */
  def saturationLimit: Double
}

private[graft] case object BloomKind extends FilterKind {
  val name = "bloom"
  def optimalShape(expected: Long, fpp: Double): Long = Bloom64.optimalBits(expected, fpp)
  def empty(shape: Long): Array[Long] = Bloom64.emptyBits(shape)
  def put(arr: Array[Long], key: Long): Unit = Bloom64.put(arr, key)
  def mightContain(arr: Array[Long], key: Long): Boolean = Bloom64.mightContain(arr, key)
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = Bloom64.merge(a, b)
  def saturation(arr: Array[Long]): Double = Bloom64.saturation(arr)
  val saturationLimit = 0.5
}

private[graft] case object CuckooKind extends FilterKind {
  val name = "cuckoo"
  // fpp is fixed by the 16-bit fingerprint width (≈1.2e-4 — below the bloom
  // default); sizing is load-driven only
  def optimalShape(expected: Long, fpp: Double): Long = Cuckoo64.optimalBuckets(expected)
  def empty(shape: Long): Array[Long] = Cuckoo64.emptyBuckets(shape)
  def put(arr: Array[Long], key: Long): Unit = { Cuckoo64.insert(arr, key); () }
  def mightContain(arr: Array[Long], key: Long): Boolean = Cuckoo64.mightContain(arr, key)
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = Cuckoo64.merge(a, b)
  def saturation(arr: Array[Long]): Double = Cuckoo64.saturation(arr)
  val saturationLimit = Cuckoo64.SaturationLimit
}

private[graft] object FilterKind {
  def apply(name: String): FilterKind = name match {
    case "bloom" => BloomKind
    case "cuckoo" => CuckooKind
    case other => throw new IllegalArgumentException(
      s"unknown seen-filter kind '$other' (expected bloom|cuckoo)")
  }
}

/** Typed UDAF building a per-bucket filter of either kind from Long keys
  * (generalizes A6's BloomAggregator, which remains the bloom-only demo).
  */
class FilterAggregator(kind: FilterKind, shape: Long)
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  override def zero: Array[Long] = kind.empty(shape)
  override def reduce(b: Array[Long], key: Long): Array[Long] = { kind.put(b, key); b }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = kind.merge(a, b)
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

/** URL-seen filter sidecars — SURVEY.md D2/A6/D5, the DRUM-inspired fast
  * path, with a pluggable kernel (bloom default, cuckoo for deletability —
  * see [[FilterKind]]).
  *
  * One filter per host_bucket, kept as a MERGE-ON-READ chain of little-endian
  * long files under `<seenDir>/_bloom/<version>/`: `bucket-<k>.bloom` is a
  * FULL filter, `bucket-<k>.keys` holds the sorted, distinct `url_hash` keys
  * one steady round added to the bucket. Full filters are written only where
  * the filter is rebuilt or rewritten — the seed build, a kind switch, an
  * undersized shape, the saturation doubling, a compaction's forceFull and a
  * cuckoo expiry deletion — so a steady round's sidecar write grows with its
  * new keys, not with |seen| (the frontier's delta-commit shape, applied to
  * the filters). Everything is written FROM THE EXECUTORS by the task that
  * holds the bucket — filters never round-trip through the driver (at 10^10
  * URLs / fpp 1e-3 that would be ~GBs of driver traffic per round); only
  * per-bucket saturation scalars are collected, to gate the doubling rebuild.
  *
  * Version resolution is per bucket ([[resolveBucket]]): the filter for
  * bucket B at version v is the NEWEST `bucket-B.bloom` at any version ≤ v,
  * with every later `bucket-B.keys` ≤ v re-inserted in version order (on an
  * empty filter of the first keys version's shape when B has no full file).
  * A version that did not touch B holds no file for it: B gained no entries.
  * Each version's `meta` records `<kind>:<shape>` (legacy bare numbers parse
  * as bloom), and a chain is interpreted under its base version's kind, so
  * mixed chains after a kind switch stay correct bucket by bucket. Every full
  * write resets its bucket's chain, and a compaction's forceFull gives every
  * non-empty bucket a full file at the compacted base: no chain is longer
  * than the seen table's own delta chain or reaches below that base, which
  * is what lets retention GC drop whole version dirs below it. A resolved
  * bloom filter is bit-identical to a one-shot build of the bucket's keys
  * (OR is order-free); a resolved cuckoo filter holds the same members, its
  * fingerprints possibly placed differently.
  *
  * Crash consistency: sidecars are written BETWEEN the seen delta's data
  * write and the round publish, each version's `meta` LAST, so a committed
  * seen version always has complete sidecars and a version without meta is
  * invisible to resolution. Every (re)write of a version's sidecars first
  * clears that version's dir, so a replay after a kill between the meta and
  * the publish never leaves a `.bloom` and a `.keys` file of one bucket side
  * by side, nor a file of a bucket the replay does not touch. The probe is
  * additionally fail-safe: if no filter chain exists at all for the probed
  * version (legacy state, deleted sidecars), it returns TRUE — "maybe seen" —
  * routing every candidate to the exact anti-join rather than re-admitting
  * seen URLs.
  *
  * Probe semantics: mightContain=false ⇒ definitely unseen (admit without
  * touching the exact set); true ⇒ maybe seen ⇒ resolved by the exact
  * anti-join (D3). Membership therefore stays exact while the anti-join's
  * probe side shrinks to (new ∪ false-positives) — the property P4 test pins
  * "no false negatives", for both kinds.
  *
  * Paths use java.nio against the shared state directory — the same explicit
  * substitution as StateTable (`[SPEC-S2]`): on a real cluster this is a
  * shared filesystem / object store behind the same thin API.
  */
object SeenStore {

  private val FullExt = ".bloom"
  private val KeysExt = ".keys"

  private def bloomDir(seenDir: String, v: Long): Path = Paths.get(seenDir, "_bloom", v.toString)
  private def bucketFile(seenDir: String, v: Long, bucket: Int, ext: String): Path =
    bloomDir(seenDir, v).resolve(s"bucket-$bucket$ext")

  /** Committed sidecar versions, ascending (a version dir with a meta file). */
  private[graft] def bloomVersions(seenDir: String): Seq[Long] = {
    val root = Paths.get(seenDir, "_bloom")
    if (!Files.exists(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator.asScala
      .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("meta")))
      .map(_.getFileName.toString.toLong).toSeq.sorted
    finally s.close()
  }

  /** Parse a version meta line: `<kind>:<shape>`, or a bare number (legacy
    * round-1..3 chains) meaning bloom.
    */
  private[graft] def parseMeta(s: String): (FilterKind, Long) = {
    val t = s.trim
    val i = t.indexOf(':')
    if (i < 0) (BloomKind, t.toLong)
    else (FilterKind(t.substring(0, i)), t.substring(i + 1).toLong)
  }

  private[graft] def metaOf(seenDir: String, v: Long): (FilterKind, Long) =
    parseMeta(Files.readString(bloomDir(seenDir, v).resolve("meta")))

  /** (kind, shape) recorded for the newest sidecar version ≤ v (None = no
    * chain).
    */
  private[graft] def latestMeta(seenDir: String, v: Long): Option[(FilterKind, Long)] =
    bloomVersions(seenDir).filter(_ <= v).lastOption.map(metaOf(seenDir, _))

  /** Empty version v's sidecar dir, meta included, before a (re)write. */
  private def resetDir(seenDir: String, v: Long): Unit = {
    expireBloom(seenDir, Seq(v))
    Files.createDirectories(bloomDir(seenDir, v))
  }

  private def writeLongs(target: Path, longs: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(longs.length * 8)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    longs.foreach(bb.putLong)
    // tmp name unique PER ATTEMPT: under task retry/speculation two attempts
    // of the same bucket may run concurrently on the shared FS — a fixed tmp
    // name would interleave their writes and the ATOMIC_MOVE could publish a
    // corrupted filter (false negatives ⇒ P4 violation). Each attempt stages
    // to its own file; whichever move lands last wins with complete bytes.
    // (Keys files and bloom filters are identical across attempts; cuckoo
    // attempts may differ in fingerprint PLACEMENT when partial-agg order
    // differs, but every attempt's table covers the same key set, so either
    // complete file is correct.)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID.toString)
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp-$attempt")
    Files.write(tmp, bb.array())
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Remove staging files a failed/lost task attempt left behind in this
    * version's sidecar dir (called at commit time, after all attempts
    * finished).
    */
  private def cleanOrphanTmps(seenDir: String, v: Long): Unit = {
    val d = bloomDir(seenDir, v)
    if (!Files.exists(d)) return
    val s = Files.list(d)
    try s.iterator.asScala
      .filter(_.getFileName.toString.contains(".tmp-"))
      .foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def readLongs(p: Path): Option[Array[Long]] =
    if (!Files.exists(p)) None
    else {
      val bytes = Files.readAllBytes(p)
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val arr = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < arr.length) { arr(i) = bb.getLong(); i += 1 }
      Some(arr)
    }

  /** The filter for `bucket` at version v and the kind it is read under:
    * the newest full filter ≤ v, with every later keys file ≤ v re-inserted
    * in version order. None = the chain holds no file for the bucket.
    */
  private[graft] def resolveBucket(
      seenDir: String, v: Long, bucket: Int): Option[(FilterKind, Array[Long])] = {
    val newestFirst = bloomVersions(seenDir).filter(_ <= v).reverseIterator
    var keyVersions = List.empty[Long] // ascending: prepended newest first
    var base: Option[(FilterKind, Array[Long])] = None
    while (base.isEmpty && newestFirst.hasNext) {
      val bv = newestFirst.next()
      base = readLongs(bucketFile(seenDir, bv, bucket, FullExt)).map(metaOf(seenDir, bv)._1 -> _)
      if (base.isEmpty && Files.exists(bucketFile(seenDir, bv, bucket, KeysExt)))
        keyVersions = bv :: keyVersions
    }
    val start = base.orElse(keyVersions.headOption.map { kv =>
      val (kind, shape) = metaOf(seenDir, kv)
      kind -> kind.empty(shape)
    })
    for ((kind, bits) <- start; kv <- keyVersions)
      readLongs(bucketFile(seenDir, kv, bucket, KeysExt)).get.foreach(kind.put(bits, _))
    start
  }

  /** All buckets resolved at version v — DRIVER-side; tests/tools only, never
    * on the round path.
    */
  def readAll(seenDir: String, v: Long): Map[Int, Array[Long]] = {
    val buckets = bloomVersions(seenDir).filter(_ <= v).flatMap { bv =>
      val s = Files.list(bloomDir(seenDir, bv))
      try s.iterator.asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }.collect { case f if f.startsWith("bucket-") && (f.endsWith(FullExt) || f.endsWith(KeysExt)) =>
      f.stripPrefix("bucket-").takeWhile(_ != '.').toInt
    }.distinct
    buckets.flatMap(b => resolveBucket(seenDir, v, b).map { case (_, bits) => b -> bits }).toMap
  }

  /** Runs `f(bucket, keys)` on the executors once per host bucket of `df`,
    * with the bucket's `url_hash` keys sorted and distinct, and collects the
    * results. Rows are shuffled by bucket and sorted within each partition,
    * so a task buffers ONE bucket's keys at a time — O(bucket) heap, not an
    * O(partition) materialization (an expiry selection can be huge).
    */
  private def perBucketKeys[T: ClassTag](df: DataFrame)(f: (Int, Array[Long]) => T): Array[T] =
    df.select(col("host_bucket"), col("url_hash"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("host_bucket"))
      .sortWithinPartitions(col("host_bucket"), col("url_hash"))
      .rdd.mapPartitions { it =>
        val rows = it.buffered
        new Iterator[T] {
          def hasNext: Boolean = rows.hasNext
          def next(): T = {
            val bucket = rows.head.getInt(0)
            val keys = Array.newBuilder[Long]
            var last = 0L
            var first = true
            while (rows.hasNext && rows.head.getInt(0) == bucket) {
              val k = rows.next().getLong(1)
              if (first || k != last) keys += k
              last = k
              first = false
            }
            f(bucket, keys.result())
          }
        }
      }.collect()

  /** Build full per-bucket filters of `df` at (kind, shape) and write them
    * from the executors, each resetting its bucket's chain.
    */
  private def writeFull(
      df: DataFrame, kind: FilterKind, shape: Long, seenDir: String, newVersion: Long): Unit = {
    resetDir(seenDir, newVersion)
    val agg = udaf(new FilterAggregator(kind, shape))
    // explicit repartition after the agg: the result is one row per bucket,
    // so AQE would coalesce the tiny shuffle to ONE partition and a single
    // task would then write every bucket file serially (~1s per round
    // measured); an explicit width keeps the file IO parallel
    df.groupBy(col("host_bucket")).agg(agg(col("url_hash")).as("bloom"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("host_bucket"))
      .rdd.foreachPartition(_.foreach { row =>
        writeLongs(bucketFile(seenDir, newVersion, row.getInt(0), FullExt),
          row.getSeq[Long](1).toArray)
      })
  }

  /** Steady-state delta: write each touched bucket's new keys as
    * `bucket-<k>.keys` and return the max saturation of the bucket's filter
    * at `prevVersion` plus those keys. A predecessor of a DIFFERENT kind or
    * shape (a bucket left unrebuilt across a mid-chain kind switch) reads as
    * saturation 1.0, so the caller rebuilds from the full seen set in this
    * same update.
    */
  private def writeKeys(
      delta: DataFrame,
      kind: FilterKind,
      shape: Long,
      seenDir: String,
      prevVersion: Long,
      newVersion: Long): Double = {
    resetDir(seenDir, newVersion)
    val sats = perBucketKeys(delta) { (bucket, keys) =>
      writeLongs(bucketFile(seenDir, newVersion, bucket, KeysExt), keys)
      val (prevKind, bits) =
        resolveBucket(seenDir, prevVersion, bucket).getOrElse(kind -> kind.empty(shape))
      if (prevKind != kind || bits(0) != shape) 1.0
      else { keys.foreach(kind.put(bits, _)); kind.saturation(bits) }
    }
    if (sats.isEmpty) 0.0 else sats.max
  }

  /** Incremental update: a steady round writes only its delta's keys at the
    * previous shape (one sort of the delta — never a full-seen rescan). A
    * missing chain (first commit, or a legacy/crashed sidecar), a KIND switch
    * (cfg.seenFilter ≠ the chain's recorded kind), and an undersized or
    * saturated generation each trigger one amortized full rebuild from
    * `fullSeen` at the next power-of-two shape. The version's meta marker is
    * written LAST — a version without meta is invisible to resolution and
    * re-built on replay.
    */
  def update(
      spark: SparkSession,
      seenDir: String,
      prevVersion: Option[Long],
      newVersion: Long,
      delta: DataFrame,
      fullSeen: => DataFrame,
      expectedPerBucket: Long,
      cfg: CrawlConfig,
      forceFull: Boolean = false): Unit = {
    val kind = FilterKind(cfg.seenFilter)
    val wantShape = kind.optimalShape(math.max(1024L, expectedPerBucket), cfg.bloomFpp)
    val prevMeta = prevVersion.flatMap(latestMeta(seenDir, _))
    def full(shape: Long): Long = { writeFull(fullSeen, kind, shape, seenDir, newVersion); shape }
    val shape = if (forceFull) {
      // compaction rounds force a full rebuild: every non-empty bucket gets a
      // file AT this version, so sidecar dirs below a compacted base are
      // fully shadowed and become GC-able together with their data snapshots
      val same = prevMeta.collect { case (pk, ps) if pk == kind => ps }
      full(math.max(wantShape, same.getOrElse(wantShape)))
    } else prevMeta match {
      // no usable chain: rebuild from the FULL seen set (delta alone would
      // under-cover when prior seen versions exist — fail-safe rebuild)
      case None => full(wantShape)
      // kind switch: the old chain's filters cannot take the new kind's
      // keys — one full rebuild re-covers every bucket under the new kind
      case Some((prevKind, _)) if prevKind != kind => full(wantShape)
      case Some((_, ps)) if wantShape > ps => full(math.max(wantShape, ps * 2))
      case Some((_, ps)) =>
        val sat = writeKeys(delta, kind, ps, seenDir, prevVersion.get, newVersion)
        if (sat > kind.saturationLimit) full(ps * 2) else ps
    }
    cleanOrphanTmps(seenDir, newVersion)
    Files.writeString(bloomDir(seenDir, newVersion).resolve("meta"), s"${kind.name}:$shape")
  }

  /** Delete expired keys from the sidecar chain at a recrawl expiry commit
    * (D5). Cuckoo arm: each touched bucket's resolved filter has the expired
    * fingerprints removed and is written at `newVersion` as a FULL filter
    * (resetting the bucket's chain) — O(expired) work, executor-side, and the
    * fast path stays tight. Bloom arm (or no chain): a deliberate NO-OP —
    * bloom cannot forget, and its stale positives are fail-safe (the exact
    * anti-join, which reads the tombstoned seen table, resolves them to
    * "unseen"); the next amortized rebuild drops them from the bits.
    * Deletion is only sound for keys actually present in the seen set — the
    * caller semi-joins its selector against seen before calling (see
    * Recrawl).
    */
  def deleteFromSidecars(
      spark: SparkSession,
      seenDir: String,
      prevVersion: Long,
      newVersion: Long,
      expired: DataFrame): Unit = {
    latestMeta(seenDir, prevVersion) match {
      case Some((kind, shape)) if kind == CuckooKind =>
        resetDir(seenDir, newVersion)
        perBucketKeys(expired) { (bucket, keys) =>
          resolveBucket(seenDir, prevVersion, bucket).foreach { case (pk, bits) =>
            if (pk == CuckooKind) {
              keys.foreach(Cuckoo64.delete(bits, _))
              writeLongs(bucketFile(seenDir, newVersion, bucket, FullExt), bits)
            }
            // non-cuckoo legacy bucket: leave it — stale positives are safe
          }
          bucket
        }
        cleanOrphanTmps(seenDir, newVersion)
        Files.writeString(bloomDir(seenDir, newVersion).resolve("meta"), s"${kind.name}:$shape")
      case _ => () // bloom chain or no chain: stale positives are fail-safe
    }
  }

  /** GC the sidecar dirs of expired data versions. Only called with versions
    * StateTable.expire already deleted — i.e. versions below a compacted
    * base, whose forceFull rebuild gives every non-empty bucket a full file
    * at the base, so no retained probe's chain reaches a deleted file.
    */
  def expireBloom(seenDir: String, deadVersions: Seq[Long]): Unit =
    deadVersions.foreach { v =>
      val d = bloomDir(seenDir, v)
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator.asScala.foreach(Files.deleteIfExists(_))
        finally s.close()
      }
    }

  /** Map-side probe column: true ⇒ maybe seen (must hit exact anti-join).
    * Loads only the probed bucket's filter, lazily, on the executor that
    * needs it (cached per JVM) — nothing is broadcast from the driver.
    */
  def maybeSeenUdf(seenDir: String, version: Long): UserDefinedFunction =
    udf((bucket: Int, urlHash: Long) => BloomProbe.maybeSeen(seenDir, version, bucket, urlHash))
}

/** Executor-local cache of resolved bucket filters. Entries are keyed by
  * (dir, version, bucket); inserting a newer version evicts older versions of
  * the same bucket so steady-state memory is one filter per locally-probed
  * bucket. Thread-safe; loads of the same key may race benignly (same bytes).
  */
private[graft] object BloomProbe {

  private final case class Key(dir: String, version: Long, bucket: Int)
  // value: Loaded = resolved filter + its chain's kind; FailSafe = no chain
  // (treat as maybe-seen); Empty = chain exists, bucket has no entries
  // (definitely unseen)
  private final case class Loaded(kind: FilterKind, bits: Array[Long])
  private object FailSafe
  private object Empty
  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  def maybeSeen(seenDir: String, version: Long, bucket: Int, urlHash: Long): Boolean = {
    val key = Key(seenDir, version, bucket)
    var v = cache.get(key)
    if (v == null) {
      v = load(seenDir, version, bucket)
      cache.put(key, v)
      // evict older generations of this bucket
      cache.keySet.removeIf(k =>
        k.dir == seenDir && k.bucket == bucket && k.version < version)
    }
    v match {
      case Loaded(kind, bits) => kind.mightContain(bits, urlHash)
      case Empty => false
      case _ => true // FailSafe
    }
  }

  private def load(seenDir: String, version: Long, bucket: Int): AnyRef =
    if (!SeenStore.bloomVersions(seenDir).exists(_ <= version)) FailSafe
    else SeenStore.resolveBucket(seenDir, version, bucket) match {
      case Some((kind, bits)) => Loaded(kind, bits)
      case None => Empty
    }

  private[graft] def clear(): Unit = cache.clear()
}
