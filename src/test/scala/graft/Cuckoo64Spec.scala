package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cuckoo64
import graft.operators.{BloomKind, CuckooKind, FilterKind}

/** D5 cuckoo-filter kernel: membership, deletion, merge, overflow fail-safe
  * (SURVEY.md §2.5; Fan et al. CoNEXT 2014 semantics).
  */
class Cuckoo64Spec extends AnyFunSuite {

  private def keys(seed: Long, n: Int): Array[Long] = {
    val rnd = new Random(seed)
    Array.fill(n)(rnd.nextLong())
  }

  test("no false negatives at sized load") {
    val ks = keys(1L, 20000)
    val cf = Cuckoo64.emptyBuckets(Cuckoo64.optimalBuckets(ks.length))
    ks.foreach(k => assert(Cuckoo64.insert(cf, k), s"insert failed below sized load"))
    assert(!Cuckoo64.overflowed(cf))
    ks.foreach(k => assert(Cuckoo64.mightContain(cf, k)))
    val sat = Cuckoo64.saturation(cf)
    assert(sat > 0.2 && sat <= 0.75, s"sizing off: saturation $sat")
  }

  test("false-positive rate well under the bloom default") {
    val ks = keys(2L, 20000)
    val cf = Cuckoo64.emptyBuckets(Cuckoo64.optimalBuckets(ks.length))
    ks.foreach(Cuckoo64.insert(cf, _))
    val inserted = ks.toSet
    val probes = keys(3L, 50000).filterNot(inserted)
    val fps = probes.count(Cuckoo64.mightContain(cf, _))
    // 16-bit fingerprints, 4-way buckets: theoretical fpp ≈ 8/2^16 ≈ 1.2e-4
    assert(fps.toDouble / probes.length < 0.005, s"$fps/${probes.length} false positives")
  }

  test("delete removes keys; remaining keys keep zero false negatives") {
    val ks = keys(4L, 10000)
    val cf = Cuckoo64.emptyBuckets(Cuckoo64.optimalBuckets(ks.length))
    ks.foreach(Cuckoo64.insert(cf, _))
    val (gone, kept) = ks.splitAt(ks.length / 2)
    gone.foreach(k => assert(Cuckoo64.delete(cf, k), "delete of an inserted key must succeed"))
    // the hard guarantee: deletion never creates a false negative for a
    // key still in the set
    kept.foreach(k => assert(Cuckoo64.mightContain(cf, k)))
    // deleted keys read absent modulo the residual fp rate
    val stillThere = gone.count(Cuckoo64.mightContain(cf, _))
    assert(stillThere.toDouble / gone.length < 0.005, s"$stillThere deleted keys still probe true")
    // deleting everything empties the table exactly
    kept.foreach(Cuckoo64.delete(cf, _))
    assert(Cuckoo64.saturation(cf) == 0.0)
  }

  test("duplicate insertions store duplicate copies (delete soundness)") {
    val cf = Cuckoo64.emptyBuckets(1024)
    val k = 0x1234abcdL
    assert(Cuckoo64.insert(cf, k) && Cuckoo64.insert(cf, k))
    assert(Cuckoo64.delete(cf, k))
    assert(Cuckoo64.mightContain(cf, k), "one copy must survive the first delete")
    assert(Cuckoo64.delete(cf, k))
    assert(!Cuckoo64.mightContain(cf, k))
  }

  test("merge re-covers both key sets; shape mismatch throws") {
    val a = Cuckoo64.emptyBuckets(8192)
    val b = Cuckoo64.emptyBuckets(8192)
    val ka = keys(5L, 5000)
    val kb = keys(6L, 5000)
    ka.foreach(Cuckoo64.insert(a, _))
    kb.foreach(Cuckoo64.insert(b, _))
    Cuckoo64.merge(a, b)
    assert(!Cuckoo64.overflowed(a))
    (ka ++ kb).foreach(k => assert(Cuckoo64.mightContain(a, k)))
    val small = Cuckoo64.emptyBuckets(64)
    intercept[IllegalArgumentException](Cuckoo64.merge(a, small))
  }

  test("overflow fails safe: everything probes true, deletes refuse") {
    val cf = Cuckoo64.emptyBuckets(4) // 16 slots
    val ks = keys(7L, 64)
    ks.foreach(Cuckoo64.insert(cf, _))
    assert(Cuckoo64.overflowed(cf))
    assert(Cuckoo64.saturation(cf) == 1.0, "overflowed filter must read saturated")
    keys(8L, 100).foreach(k => assert(Cuckoo64.mightContain(cf, k)))
    assert(!Cuckoo64.delete(cf, ks.head), "overflowed filter must refuse deletes")
    // merging an overflowed side poisons the target (fail-safe propagates)
    val ok = Cuckoo64.emptyBuckets(4)
    Cuckoo64.merge(ok, cf)
    assert(Cuckoo64.overflowed(ok))
  }

  test("FilterKind dispatch: parse round-trips") {
    assert(FilterKind("bloom") == BloomKind && FilterKind("cuckoo") == CuckooKind)
    intercept[IllegalArgumentException](FilterKind("xor"))
    // meta parsing: tagged and legacy (bare number = bloom) forms
    assert(graft.operators.SeenStore.parseMeta("cuckoo:4096") == ((CuckooKind, 4096L)))
    assert(graft.operators.SeenStore.parseMeta("65536") == ((BloomKind, 65536L)))
  }
}
