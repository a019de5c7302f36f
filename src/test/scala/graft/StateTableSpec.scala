package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.CrawlRound
import graft.sources.StateTable

/** S3/S4 snapshot protocol: atomic commit, time travel, crash injection. */
class StateTableSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("commit + read + CURRENT pointer") {
    val dir = tmpDir("st")
    StateTable.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, 0L, 0L, Map("n" -> 2L))
    assert(StateTable.currentVersion(dir).contains(0L))
    assert(StateTable.read(spark, dir).count() == 2)
    val m = StateTable.manifest(dir, 0L).get
    assert(m.nRows == 2 && m.counters("n") == 2L)
  }

  test("time travel across versions") {
    val dir = tmpDir("st")
    StateTable.commit(Seq(1).toDF("k"), dir, 0L, 0L)
    StateTable.commit(Seq(1, 2, 3).toDF("k"), dir, 1L, 1L)
    assert(StateTable.read(spark, dir, Some(0L)).count() == 1)
    assert(StateTable.read(spark, dir, Some(1L)).count() == 3)
    assert(StateTable.read(spark, dir).count() == 3) // CURRENT = 1
    assert(StateTable.versions(dir) == Seq(0L, 1L))
  }

  test("merge-on-read: news − tombstones, time travel, compaction, both arms") {
    val dir = tmpDir("st-mor")
    def commitDelta(v: Long, news: Seq[String], dels: Seq[String]): Unit = {
      val n = StateTable.writeSnap(news.map(s => (s, s.length)).toDF("surt", "x"),
        dir, v, partitioned = false)
      val nd = StateTable.writeDels(dels.toDF("surt"), dir, v)
      StateTable.finalizeCommit(dir, v, v, n, Map(StateTable.DelsCounter -> nd))
    }
    // v0 full base {a,b,c}; v1 +{d,e} −{a}; v2 +{f} −{b,d}
    StateTable.commit(Seq("a", "b", "c").map(s => (s, s.length)).toDF("surt", "x"),
      dir, 0L, 0L, partitioned = false)
    commitDelta(1L, Seq("d", "e"), Seq("a"))
    commitDelta(2L, Seq("f"), Seq("b", "d"))
    def at(v: Long, gate: Long = 500000L): Seq[String] =
      StateTable.readMerged(spark, dir, Some(v), broadcastMaxDels = gate)
        .select("surt").as[String].collect().sorted.toSeq
    assert(at(0L) == Seq("a", "b", "c"))
    assert(at(1L) == Seq("b", "c", "d", "e"))
    assert(at(2L) == Seq("c", "e", "f"))
    // gate 0 forces the distributed anti-join arm: identical membership
    assert(at(2L, gate = 0L) == Seq("c", "e", "f"))
    assert(StateTable.totalDels(dir, 2L) == 3L)
    // v3 compacts the live set into a full base; v4 deltas on top of it
    val live3 = Seq("c", "e", "f", "g")
    val n3 = StateTable.writeSnap(live3.map(s => (s, s.length)).toDF("surt", "x"),
      dir, 3L, partitioned = false)
    StateTable.finalizeCommit(dir, 3L, 3L, n3, compacted = true)
    commitDelta(4L, Seq("h"), Seq("c"))
    assert(at(3L) == Seq("c", "e", "f", "g"))
    assert(at(4L) == Seq("e", "f", "g", "h"))
    // pre-base tombstones must NOT re-apply to the compacted base
    assert(StateTable.totalDels(dir, 4L) == 1L, "chain dels must start at the base")
    // time travel below the base still merges the old chain
    assert(at(2L) == Seq("c", "e", "f"))
  }

  test("merge-on-read deletes are sequence-scoped: a re-added key survives") {
    // The recrawl/expiry shape: v1 tombstones a key with NO news (an expiry
    // commit), v2 re-adds it. Iceberg sequencing — a delete applies only to
    // STRICTLY EARLIER news — must keep the re-added row; the old order-free
    // subtraction would kill it forever.
    val dir = tmpDir("st-seq")
    StateTable.commit(Seq("a", "b").toDF("surt"), dir, 0L, 0L, partitioned = false)
    val nd1 = StateTable.writeDels(Seq("a").toDF("surt"), dir, 1L)
    StateTable.finalizeCommit(dir, 1L, 1L, 0L, Map(StateTable.DelsCounter -> nd1))
    val n2 = StateTable.writeSnap(Seq("a").toDF("surt"), dir, 2L, partitioned = false)
    StateTable.finalizeCommit(dir, 2L, 2L, n2, Map(StateTable.DelsCounter -> 0L))
    def at(v: Long, gate: Long = 500000L): Seq[String] =
      StateTable.readMerged(spark, dir, Some(v), broadcastMaxDels = gate)
        .select("surt").as[String].collect().sorted.toSeq
    assert(at(1L) == Seq("b"), "expiry tombstone removes the key")
    assert(at(2L) == Seq("a", "b"), "re-added key must survive the older tombstone")
    assert(at(2L, gate = 0L) == Seq("a", "b"), "distributed arm agrees")
    // a SECOND expiry of the re-added key removes it again (two tombstones
    // for one key at distinct sequence numbers coexist)
    val nd3 = StateTable.writeDels(Seq("a").toDF("surt"), dir, 3L)
    StateTable.finalizeCommit(dir, 3L, 3L, 0L, Map(StateTable.DelsCounter -> nd3))
    assert(at(3L) == Seq("b"))

    // same semantics through the ALL-DELTA chain read (the seen table's
    // shape: every snap is a partial delta, never a full base)
    val ad = tmpDir("st-seq-ad")
    StateTable.commitAppend(Seq("a", "b").toDF("surt"), ad, 0L, 0L)
    val andd = StateTable.writeDels(Seq("a").toDF("surt"), ad, 1L)
    StateTable.finalizeCommit(ad, 1L, 1L, 0L, Map(StateTable.DelsCounter -> andd))
    StateTable.commitAppend(Seq("a", "c").toDF("surt"), ad, 2L, 2L,
      Map(StateTable.DelsCounter -> 0L))
    def atAd(v: Long): Seq[String] =
      StateTable.readAppendedMerged(spark, ad, Some(v))
        .select("surt").as[String].collect().sorted.toSeq
    assert(atAd(0L) == Seq("a", "b"))
    assert(atAd(1L) == Seq("b"))
    assert(atAd(2L) == Seq("a", "b", "c"), "all-delta chain: re-add survives")
  }

  test("merge-on-read with a table schema starts no job before the action") {
    // each shape carries two tombstone versions; with the table's schema
    // given, building the read must not infer the dels files' schema
    def front(surts: Seq[String]) =
      surts.map(s => (s, s"http://$s/", s, 0, s.length.toLong, 1, 0.5, 0L, ""))
        .toDF(graft.model.Schemas.frontier.fieldNames.toIndexedSeq: _*)
    def delta(dir: String, v: Long, news: DataFrame, dels: Seq[String]): Unit = {
      val n = StateTable.writeSnap(news, dir, v, partitioned = false)
      val nd = StateTable.writeDels(dels.toDF("surt"), dir, v)
      StateTable.finalizeCommit(dir, v, v, n, Map(StateTable.DelsCounter -> nd))
    }
    val state = tmpDir("st-mor-jobs")
    val fDir = CrawlRound.frontierDir(state)
    StateTable.commit(front(Seq("a", "b", "c")), fDir, 0L, 0L, partitioned = false)
    delta(fDir, 1L, front(Seq("d")), Seq("a"))
    delta(fDir, 2L, front(Seq("e")), Seq("b", "d"))
    val (frontier, fJobs) = jobsStartedBy(CrawlRound.readFrontier(spark, state, Some(2L)))
    assert(fJobs == 0, s"building the frontier read started $fJobs job(s)")
    assert(frontier.select("surt").as[String].collect().sorted.toSeq == Seq("c", "e"))

    // the seen table's all-delta chain
    val sDir = tmpDir("st-mor-jobs-seen")
    val seenSchema = StructType(Seq(StructField("surt", StringType)))
    StateTable.commitAppend(Seq("a", "b").toDF("surt"), sDir, 0L, 0L)
    delta(sDir, 1L, Seq("c").toDF("surt"), Seq("a"))
    delta(sDir, 2L, Seq("d").toDF("surt"), Seq("c"))
    val (seen, sJobs) = jobsStartedBy(
      StateTable.readAppendedMerged(spark, sDir, Some(2L), Some(seenSchema)))
    assert(sJobs == 0, s"building the seen read started $sJobs job(s)")
    assert(seen.select("surt").as[String].collect().sorted.toSeq == Seq("b", "d"))
  }

  test("append-mode read unions deltas") {
    val dir = tmpDir("st")
    StateTable.commitAppend(Seq(1).toDF("k"), dir, 0L, 0L)
    StateTable.commitAppend(Seq(2, 3).toDF("k"), dir, 1L, 1L)
    assert(StateTable.readAppended(spark, dir, Some(0L)).count() == 1)
    assert(StateTable.readAppended(spark, dir, Some(1L)).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("crash injection: dangling snap without CURRENT move is invisible (resume)") {
    val dir = tmpDir("st")
    StateTable.commit(Seq(1).toDF("k"), dir, 0L, 0L)
    // simulate a crash: data written for v1 but no manifest/CURRENT
    Seq(9, 9, 9).toDF("k").write.parquet(StateTable.snapPath(dir, 1L))
    assert(StateTable.currentVersion(dir).contains(0L))
    assert(StateTable.read(spark, dir).count() == 1)
    // retry of the same commit overwrites the orphan and completes
    StateTable.commit(Seq(4, 5).toDF("k"), dir, 1L, 1L)
    assert(StateTable.read(spark, dir).count() == 2)
  }

  test("commit is idempotent per version (exactly-once sink, ST4)") {
    val dir = tmpDir("st")
    StateTable.commit(Seq(1, 2).toDF("k"), dir, 0L, 0L)
    val m2 = StateTable.commit(Seq(7, 7, 7, 7).toDF("k"), dir, 0L, 0L) // ignored
    assert(m2.nRows == 2)
    assert(StateTable.read(spark, dir).count() == 2)
  }

  test("crash injection: stale CURRENT behind a logged manifest is repaired") {
    val dir = tmpDir("st")
    StateTable.commit(Seq(1).toDF("k"), dir, 0L, 0L)
    StateTable.commit(Seq(1, 2).toDF("k"), dir, 1L, 1L)
    // simulate a crash between manifest write and the CURRENT move for v1
    Files.writeString(Paths.get(dir, "_log", "CURRENT"), "0")
    assert(StateTable.currentVersion(dir).contains(0L))
    // idempotent replay of the same commit must repair the pointer forward
    val m = StateTable.commit(Seq(9, 9, 9).toDF("k"), dir, 1L, 1L) // data ignored
    assert(m.nRows == 2)
    assert(StateTable.currentVersion(dir).contains(1L))
    assert(StateTable.read(spark, dir).count() == 2)
  }

  test("staged commit: writeSnap is invisible until finalizeCommit") {
    val dir = tmpDir("st")
    StateTable.commit(Seq(1).toDF("k"), dir, 0L, 0L)
    val n = StateTable.writeSnap(Seq(2, 3).toDF("k"), dir, 1L)
    assert(n == 2)
    assert(StateTable.currentVersion(dir).contains(0L)) // not yet published
    assert(StateTable.manifest(dir, 1L).isEmpty)
    val m = StateTable.finalizeCommit(dir, 1L, 1L, n, Map("x" -> 7L))
    assert(m.nRows == 2 && StateTable.currentVersion(dir).contains(1L))
    assert(StateTable.manifest(dir, 1L).get.counters("x") == 7L)
  }

  test("compaction: reads plan from the base; time travel below it still works") {
    val dir = tmpDir("st")
    StateTable.commitAppend(Seq(1).toDF("k"), dir, 0L, 0L)
    StateTable.commitAppend(Seq(2, 3).toDF("k"), dir, 1L, 1L)
    // v2 = compacted snapshot: full union <=2 ({1,2,3} plus v2's delta {4})
    val n = StateTable.writeSnap(Seq(1, 2, 3, 4).toDF("k"), dir, 2L, partitioned = false)
    StateTable.finalizeCommit(dir, 2L, 2L, n, compacted = true)
    StateTable.commitAppend(Seq(5).toDF("k"), dir, 3L, 3L)
    // chain at 3 = base + deltas after it, NOT the whole history
    assert(StateTable.chainAt(dir, 3L) == Seq(2L, 3L))
    assert(StateTable.readAppended(spark, dir, Some(3L)).as[Int].collect().sorted.toSeq == (1 to 5))
    // no double counting across the compaction boundary
    assert(StateTable.totalRows(dir, 3L) == 5L)
    // time travel BELOW the base reads the original delta chain
    assert(StateTable.readAppended(spark, dir, Some(1L)).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // reads >= base reference nothing below it: deleting v0/v1 changes nothing
    import scala.jdk.CollectionConverters._
    Seq(0L, 1L).foreach { v =>
      val p = Paths.get(StateTable.snapPath(dir, v))
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    assert(StateTable.readAppended(spark, dir, Some(3L)).as[Int].collect().sorted.toSeq == (1 to 5))
  }

  test("shouldCompact: geometric policy (chain length AND delta-vs-base rows)") {
    val dir = tmpDir("st")
    assert(!StateTable.shouldCompact(dir, 0L, 2), "empty table")
    StateTable.commitAppend(Seq(1, 2, 3, 4).toDF("k"), dir, 0L, 0L)
    assert(!StateTable.shouldCompact(dir, 0L, 0), "0 disables")
    assert(StateTable.shouldCompact(dir, 0L, 2), "no base yet + chain at cadence")
    val n = StateTable.writeSnap(Seq(1, 2, 3, 4, 5).toDF("k"), dir, 1L, partitioned = false)
    StateTable.finalizeCommit(dir, 1L, 1L, n, compacted = true)
    StateTable.commitAppend(Seq(6).toDF("k"), dir, 2L, 2L)
    // chain long enough but deltas (1 row) < base/4 (5/4) → hold back the
    // rewrite (write-amplification guard)
    assert(!StateTable.shouldCompact(dir, 2L, 2))
    StateTable.commitAppend(Seq(7).toDF("k"), dir, 3L, 3L)
    StateTable.commitAppend(Seq(8).toDF("k"), dir, 4L, 4L)
    // 3 delta rows * 4 >= 5 base rows → compact
    assert(StateTable.shouldCompact(dir, 4L, 2))
  }

  test("expire: retention GC never deletes a referenced snapshot") {
    // full-snapshot table: any retained version reads standalone
    val full = tmpDir("st")
    (0L to 4L).foreach(v => StateTable.commit(Seq(v.toInt).toDF("k"), full, v, v))
    assert(StateTable.expire(full, keepVersions = 2, append = false) == Seq(0L, 1L, 2L))
    assert(StateTable.versions(full) == Seq(3L, 4L))
    assert(StateTable.read(spark, full, Some(3L)).count() == 1)
    assert(StateTable.read(spark, full, Some(4L)).count() == 1)

    // append table WITHOUT a compacted base: every delta is referenced → no-op
    val noBase = tmpDir("st")
    (0L to 3L).foreach(v => StateTable.commitAppend(Seq(v.toInt).toDF("k"), noBase, v, v))
    assert(StateTable.expire(noBase, keepVersions = 2, append = true).isEmpty)
    assert(StateTable.versions(noBase) == Seq(0L, 1L, 2L, 3L))

    // append table with a base at v2: only versions below the base die
    val app = tmpDir("st")
    StateTable.commitAppend(Seq(1).toDF("k"), app, 0L, 0L)
    StateTable.commitAppend(Seq(2).toDF("k"), app, 1L, 1L)
    val n = StateTable.writeSnap(Seq(1, 2, 3).toDF("k"), app, 2L, partitioned = false)
    StateTable.finalizeCommit(app, 2L, 2L, n, compacted = true)
    StateTable.commitAppend(Seq(4).toDF("k"), app, 3L, 3L)
    StateTable.commitAppend(Seq(5).toDF("k"), app, 4L, 4L)
    assert(StateTable.expire(app, keepVersions = 2, append = true) == Seq(0L, 1L))
    assert(StateTable.readAppended(spark, app, Some(4L)).as[Int].collect().sorted.toSeq == (1 to 5))
    assert(StateTable.readAppended(spark, app, Some(3L)).as[Int].collect().sorted.toSeq == (1 to 4))
    // idempotent: a second pass finds nothing more to delete
    assert(StateTable.expire(app, keepVersions = 2, append = true).isEmpty)
  }

  test("host_bucket column triggers partitioned layout (directory pruning)") {
    val dir = tmpDir("st")
    val df = Seq(("a", 0), ("b", 1), ("c", 1)).toDF("surt", "host_bucket")
    StateTable.commit(df, dir, 0L, 0L)
    assert(Files.exists(Paths.get(StateTable.snapPath(dir, 0L), "host_bucket=0")))
    val back = StateTable.read(spark, dir)
    assert(back.columns.toSet == Set("surt", "host_bucket"))
    assert(back.where($"host_bucket" === 1).count() == 2)
  }

  test("empty dataframe round-trips with explicit schema") {
    val dir = tmpDir("st")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], graft.model.Schemas.hostState)
    StateTable.commit(empty, dir, 0L, 0L)
    val back = StateTable.read(spark, dir, None, Some(graft.model.Schemas.hostState))
    assert(back.count() == 0 && back.columns.length == 5)
  }

  test("footer counts follow Spark's data-file rule; writes leave no _SUCCESS") {
    import scala.jdk.CollectionConverters._
    def names(p: String): Seq[String] = {
      val w = Files.walk(Paths.get(p))
      try w.iterator.asScala.map(_.getFileName.toString).toVector finally w.close()
    }
    val dir = tmpDir("st-files")
    val rows = (1 to 40).map(i => (s"s$i", i))
    val n = StateTable.writeSnap(rows.toDF("surt", "x").repartition(3), dir, 1L,
      partitioned = false)
    val nd = StateTable.writeDels(Seq("s1", "s2").toDF("surt").repartition(2), dir, 1L)
    assert(n == 40L && nd == 2L)
    Seq(StateTable.snapPath(dir, 1L), StateTable.delPath(dir, 1L)).foreach { p =>
      assert(!names(p).exists(_.contains("_SUCCESS")), s"_SUCCESS marker in $p")
    }
    // what a killed task, the checksummed local filesystem and an older
    // writer leave beside the data: an unfinished attempt's part file, a
    // .crc file and a _SUCCESS marker, each a copy of a data file's bytes
    val snap = Paths.get(StateTable.snapPath(dir, 1L))
    val part = names(snap.toString).find(_.endsWith(".parquet")).get
    val tmp = snap.resolve("_temporary/0/_temporary/attempt_0")
    Files.createDirectories(tmp)
    Files.copy(snap.resolve(part), tmp.resolve("part-x.parquet"))
    Files.copy(snap.resolve(part), snap.resolve(".part-x.parquet.crc"))
    Files.copy(snap.resolve(part), snap.resolve("_SUCCESS"))
    assert(StateTable.footerRowCount(snap.toString) == 40L)
    // Spark's reader skips the same names: the count is the read's rows
    assert(spark.read.parquet(snap.toString).count() == 40L)
    // a dir holding only an unfinished attempt has no data
    val orphan = Paths.get(StateTable.snapPath(dir, 2L), "_temporary", "0")
    Files.createDirectories(orphan)
    Files.copy(snap.resolve(part), orphan.resolve("part-y.parquet"))
    assert(StateTable.footerRowCount(StateTable.snapPath(dir, 2L)) == 0L)
    StateTable.finalizeCommit(dir, 2L, 2L, 0L)
    val schema = StructType(Seq(StructField("surt", StringType), StructField("x", IntegerType)))
    assert(StateTable.read(spark, dir, Some(2L), Some(schema)).count() == 0L)
  }
}
