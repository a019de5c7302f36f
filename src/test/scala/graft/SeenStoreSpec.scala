package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CrawlConfig
import graft.operators.{BloomKind, BloomProbe, FilterAggregator, FilterKind, SeenStore}

/** The merge-on-read sidecar chain on its own: random key batches over
  * versions, full rebuilds at random points, both filter kinds.
  */
class SeenStoreSpec extends AnyFunSuite with SparkTestSession with SeededProps {

  import spark.implicits._

  private val Buckets = 4

  /** One step: a batch of new keys, a forced full rebuild or not, and the
    * expected per-bucket size the caller passes (a jump forces an
    * undersized-shape rebuild).
    */
  private case class Step(keys: Seq[Long], forceFull: Boolean, expected: Long)

  private val step: Gen[Step] = for {
    n <- Gen.choose(0, 1500)
    keys <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
    forceFull <- Gen.frequency(1 -> true, 3 -> false)
    expected <- Gen.frequency(4 -> 1024L, 1 -> 2500L)
  } yield Step(keys.distinct, forceFull, expected)
  private val chain: Gen[List[Step]] = Gen.choose(2, 6).flatMap(Gen.listOfN(_, step))

  private def bucketOf(key: Long): Int = java.lang.Math.floorMod(key, Buckets.toLong).toInt
  private def frame(keys: Seq[Long]) =
    keys.map(k => (bucketOf(k), k)).toDF("host_bucket", "url_hash")

  /** Filters a one-shot FilterAggregator build gives each bucket. */
  private def oneShot(kind: FilterKind, shape: Long, keys: Seq[Long]): Map[Int, Seq[Long]] = {
    val agg = udaf(new FilterAggregator(kind, shape))
    frame(keys).groupBy("host_bucket").agg(agg(col("url_hash")))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
  }

  for (kindName <- Seq("bloom", "cuckoo"))
    test(s"$kindName sidecar chain: P4 at every version" +
        (if (kindName == "bloom") ", bit-identical to a one-shot build" else "")) {
      val cfg = CrawlConfig(buckets = Buckets, seenFilter = kindName)
      val kind = FilterKind(kindName)
      var keysWritten = false
      forAll(chain, n = 6, seed = 7L) { steps =>
        val seenDir = tmpDir(s"seen-chain-$kindName")
        val upTo = steps.scanLeft(Seq.empty[Long])(_ ++ _.keys).tail
        steps.zipWithIndex.foreach { case (st, v) =>
          SeenStore.update(spark, seenDir, if (v == 0) None else Some(v - 1L), v.toLong,
            frame(st.keys), frame(upTo(v)), st.expected, cfg, forceFull = st.forceFull)
        }
        upTo.zipWithIndex.foreach { case (all, v) =>
          val names = sidecarFiles(seenDir, v.toLong)
          keysWritten ||= names.exists(_.endsWith(".keys"))
          assert(!names.exists(f => f.endsWith(".keys") &&
            names.contains(f.stripSuffix(".keys") + ".bloom")),
            s"v$v holds a .bloom and a .keys file of one bucket: $names")
          all.foreach { k =>
            assert(BloomProbe.maybeSeen(seenDir, v.toLong, bucketOf(k), k),
              s"$kindName lost key $k at v$v")
          }
          if (kind == BloomKind) {
            val shape = SeenStore.latestMeta(seenDir, v.toLong).get._2
            val resolved = SeenStore.readAll(seenDir, v.toLong).map { case (b, bits) => b -> bits.toSeq }
            assert(resolved == oneShot(kind, shape, all), s"bloom chain at v$v differs from a one-shot build")
          }
        }
      }
      assert(keysWritten, "no version wrote a keys file — the delta arm never ran")
    }

  test("a bucket left on the old kind across a kind switch forces a full rebuild") {
    val seenDir = tmpDir("seen-switch")
    val bloom = CrawlConfig(buckets = Buckets)
    val cuckoo = bloom.copy(seenFilter = "cuckoo")
    val b0 = Seq(4L, 8L, 12L) // bucket 0
    val b1 = Seq(5L, 9L)      // bucket 1
    SeenStore.update(spark, seenDir, None, 0L, frame(b0 ++ b1), frame(b0 ++ b1), 1024L, bloom)
    // the switch rebuilds from a seen set without bucket 1 (all of it
    // expired), so bucket 1 keeps its bloom file from v0
    SeenStore.update(spark, seenDir, Some(0L), 1L, frame(Nil), frame(b0), 1024L, cuckoo)
    val (_, shape1) = SeenStore.latestMeta(seenDir, 1L).get
    assert(SeenStore.resolveBucket(seenDir, 1L, 1).exists(_._1 == BloomKind))
    // a steady cuckoo round adding to bucket 1 cannot insert into a bloom
    // filter: it rebuilds everything at twice the shape instead
    val news = Seq(13L)
    SeenStore.update(spark, seenDir, Some(1L), 2L, frame(news), frame(b0 ++ news), 1024L, cuckoo)
    assert(SeenStore.latestMeta(seenDir, 2L).contains((FilterKind("cuckoo"), shape1 * 2)))
    assert(sidecarFiles(seenDir, 2L).forall(f => f == "meta" || f.endsWith(".bloom")), sidecarFiles(seenDir, 2L))
    (b0 ++ news).foreach(k => assert(BloomProbe.maybeSeen(seenDir, 2L, bucketOf(k), k)))
  }
}
