package graft.sim

import graft.text.TextHash

import scala.collection.mutable

/** Lossless Jaccard ≥ t set-similarity join over sets of 64-bit element
  * hashes: the AllPairs prefix filter (Bayardo et al., WWW 2007) with
  * PPJoin's length and positional filters (Xiao et al., WWW 2008), then
  * exact verification. Every pair with J ≥ t is returned and no other.
  *
  * The index is built once from the small side (R–S shape):
  *  - elements are ordered globally by (document frequency asc, hash asc)
  *    over the indexed sets, so a prefix holds a set's rarest elements —
  *    TF-IDF rarest-token blocking, made lossless by posting the whole
  *    prefix instead of one token;
  *  - each set is stored as a sorted array of element ranks, and its
  *    prefix (length `prefixLength`) posts to an inverted index that
  *    records each element's position in the set.
  *
  * `probe` ranks a set the same way; elements absent from the index rank
  * first and never match. Sets are taken as sets (duplicates ignored);
  * an empty set matches nothing. The instance is immutable and
  * serializable, so one broadcast copy serves every task.
  *
  * Floating-point guard: every bound that rounds `t · n` subtracts 1e-9
  * before rounding (`0.55 · 100` is `55.00000000000001`, whose plain
  * ceiling would shorten the prefix by one and lose pairs sitting on the
  * bound) — the guard `Dedup.ngramJaccardNearDups` already uses.
  */
final class SetSimJoin private (
    threshold: Double,
    elems: Array[Long],       // distinct indexed element hashes, ascending
    rankOf: Array[Int],       // global rank of elems(k)
    sets: Array[Array[Int]],  // each indexed set as ascending ranks
    postStart: Array[Int],    // postings of rank r: [postStart(r), postStart(r + 1))
    postSet: Array[Int],
    postPos: Array[Int]) extends Serializable {
  import SetSimJoin._

  /** Every indexed set `k` with Jaccard(set, indexed k) ≥ `threshold`, as
    * (k, jaccard) ascending by k. `jaccard = inter / (na + nb − inter)`,
    * the expression `TextHash.charTrigramJaccard` evaluates, so the value
    * is bit-identical to it on trigram sets.
    */
  def probe(set: Array[Long]): Array[(Int, Double)] = {
    val xs = TextHash.distinctSorted(set.clone())
    val nx = xs.length
    if (nx == 0) return Array.empty
    val ranks = new Array[Int](nx)
    var m = 0
    var i = 0
    while (i < nx) {
      val k = java.util.Arrays.binarySearch(elems, xs(i))
      if (k >= 0) { ranks(m) = rankOf(k); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(ranks, 0, m)
    // absent elements occupy positions 0 until absent of the ranked set
    val absent = nx - m
    val px = prefixLength(nx, threshold)
    val minLen = threshold * nx - Eps
    val maxLen = nx / threshold + Eps
    val seen = mutable.HashSet.empty[Int]
    val out = mutable.ArrayBuffer.empty[(Int, Double)]
    i = 0
    while (i < m && absent + i < px) {
      var p = postStart(ranks(i))
      val end = postStart(ranks(i) + 1)
      while (p < end) {
        val y = postSet(p)
        // both sides share one order, so the first posting met for y is
        // the pair's first common element: nothing before (absent + i)
        // in x or before postPos(p) in y is shared
        if (seen.add(y)) {
          val ny = sets(y).length
          if (ny >= minLen && ny <= maxLen &&
              math.min(nx - absent - i, ny - postPos(p)) >=
                requiredOverlap(nx, ny, threshold)) {
            val inter = mergeCount(ranks, m, sets(y))
            val jaccard = inter.toDouble / (nx + ny - inter)
            if (jaccard >= threshold) out += ((y, jaccard))
          }
        }
        p += 1
      }
      i += 1
    }
    out.toArray.sortBy(_._1)
  }
}

object SetSimJoin {

  private val Eps = 1e-9

  /** AllPairs prefix length of a size-n set at threshold t. */
  def prefixLength(n: Int, t: Double): Int =
    n - math.ceil(t * n - Eps).toInt + 1

  /** Least |a ∩ b| with Jaccard ≥ t: ⌈t/(1+t) · (na + nb)⌉. */
  def requiredOverlap(na: Int, nb: Int, t: Double): Int =
    math.ceil(t / (1 + t) * (na + nb) - Eps).toInt

  /** |a ∩ b| of the ascending a(0 until na) and ascending b. */
  private def mergeCount(a: Array[Int], na: Int, b: Array[Int]): Int = {
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter
  }

  /** Index `sets` (set k is probed back as index k) for Jaccard ≥ t,
    * 0 < t ≤ 1. A pair with no shared element has Jaccard 0, so t = 0
    * cannot be served by a prefix filter.
    */
  def build(sets: Seq[Array[Long]], t: Double): SetSimJoin = {
    require(t > 0 && t <= 1, s"threshold must be in (0, 1], got $t")
    val ds = sets.map(s => TextHash.distinctSorted(s.clone())).toArray
    // distinct elements with their document frequency
    val all = ds.flatten
    java.util.Arrays.sort(all)
    val elemB = mutable.ArrayBuilder.make[Long]
    val dfB = mutable.ArrayBuilder.make[Int]
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j) == all(i)) j += 1
      elemB += all(i); dfB += j - i
      i = j
    }
    val elems = elemB.result()
    val df = dfB.result()
    val order = elems.indices.sortWith((a, b) =>
      df(a) < df(b) || (df(a) == df(b) && elems(a) < elems(b)))
    val rankOf = new Array[Int](elems.length)
    order.indices.foreach(r => rankOf(order(r)) = r)
    val ranked = ds.map { s =>
      val r = s.map(e => rankOf(java.util.Arrays.binarySearch(elems, e)))
      java.util.Arrays.sort(r)
      r
    }
    // postings in CSR form, by rank, each list ascending by set index
    val postStart = new Array[Int](elems.length + 1)
    ranked.foreach { r =>
      (0 until math.min(r.length, prefixLength(r.length, t)))
        .foreach(j => postStart(r(j) + 1) += 1)
    }
    (0 until elems.length).foreach(r => postStart(r + 1) += postStart(r))
    val fill = postStart.clone()
    val postSet = new Array[Int](postStart(elems.length))
    val postPos = new Array[Int](postSet.length)
    ranked.indices.foreach { k =>
      val r = ranked(k)
      (0 until math.min(r.length, prefixLength(r.length, t))).foreach { j =>
        postSet(fill(r(j))) = k; postPos(fill(r(j))) = j
        fill(r(j)) += 1
      }
    }
    new SetSimJoin(t, elems, rankOf, ranked, postStart, postSet, postPos)
  }
}
