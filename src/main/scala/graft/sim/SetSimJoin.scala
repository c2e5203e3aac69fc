package graft.sim

import graft.text.TextHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Lossless set-similarity join over sets of 64-bit element hashes: the
  * AllPairs prefix filter (Bayardo et al., WWW 2007) with PPJoin's length
  * and positional filters (Xiao et al., WWW 2008), then exact
  * verification. Every pair with score ≥ t is returned and no other. This
  * file holds graft's only prefix-length, length-filter and
  * required-overlap formulas, so `Linker` and `Dedup` only tokenize and
  * name columns.
  *
  * Two measures of a probe set x against an indexed set y, both
  * `inter / (wx · (|x| − inter) + |y|)`:
  *  - `jaccard` (wx = 1): |x ∩ y| / |x ∪ y|;
  *  - `containment` (wx = 0): |x ∩ y| / |y|, the share of the indexed set
  *    found in the probe (a benchmark item embedded in a long document).
  *
  * Two shapes:
  *  - R–S (this class): an index built once from the small side and
  *    broadcast; the large side probes it row by row, with no shuffle.
  *    Elements are ordered globally by (document frequency asc, hash asc)
  *    over the indexed sets, so a prefix holds a set's rarest elements —
  *    TF-IDF rarest-token blocking, made lossless by posting the whole
  *    prefix instead of one token. Each set is stored as a sorted array of
  *    element ranks, and its prefix (`prefixLength`, the same for both
  *    measures) posts to an inverted index that records each element's
  *    position in the set.
  *  - Self-join (`selfJoin`): the same filters as a distributed plan over
  *    (id, set) rows, for a corpus too large to index on the driver.
  *
  * Floating-point guard: every bound that rounds `t · n` subtracts 1e-9
  * before rounding (`0.55 · 100` is `55.00000000000001`, whose plain
  * ceiling would shorten the prefix by one and lose pairs sitting on the
  * bound), and the length filters widen by the same amount.
  */
final class SetSimJoin private (
    threshold: Double,
    wx: Int,                  // weight of |x| − inter in the score's denominator
    elems: Array[Long],       // distinct indexed element hashes, ascending
    rankOf: Array[Int],       // global rank of elems(k)
    sets: Array[Array[Int]],  // each indexed set as ascending ranks
    postStart: Array[Int],    // postings of rank r: [postStart(r), postStart(r + 1))
    postSet: Array[Int],
    postPos: Array[Int]) extends Serializable {
  import SetSimJoin._

  private val overlapCoef = threshold / (1 + threshold * wx)

  /** Least |x ∩ y| with score ≥ t: ⌈t / (1 + t·wx) · (wx·nx + ny)⌉, that
    * is ⌈t/(1+t) · (nx + ny)⌉ for Jaccard and ⌈t · ny⌉ for containment.
    */
  private[sim] def requiredOverlap(nx: Int, ny: Int): Int =
    math.ceil(overlapCoef * (wx * nx + ny) - Eps).toInt

  /** Every indexed set `k` whose score against `set` is ≥ `threshold`,
    * ascending by k, with the exact intersection count. The Jaccard score
    * is `inter / (nx + ny − inter)`, the expression
    * `TextHash.charTrigramJaccard` evaluates, so it is bit-identical to it
    * on trigram sets.
    */
  def probe(set: Array[Long]): Array[Match] = {
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
    // containment has no probe-side prefix: a long document may hold the
    // indexed set anywhere
    val px = if (wx == 0) nx else prefixLength(nx, threshold)
    // Jaccard: t·nx ≤ ny ≤ nx/t; containment: ⌈t·ny⌉ ≤ nx
    val minLen = threshold * wx * nx - Eps
    val maxLen = nx / threshold + Eps
    val seen = mutable.HashSet.empty[Int]
    val out = mutable.ArrayBuffer.empty[Match]
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
                requiredOverlap(nx, ny)) {
            val inter = mergeCount(ranks, m, sets(y))
            val score = inter.toDouble / (wx * (nx - inter) + ny)
            if (score >= threshold) out += Match(y, inter, score)
          }
        }
        p += 1
      }
      i += 1
    }
    out.toArray.sortBy(_.index)
  }
}

object SetSimJoin {

  /** Indexed set `index` scored `score` against a probe, sharing `inter`
    * elements with it.
    */
  final case class Match(index: Int, inter: Int, score: Double)

  private val Eps = 1e-9

  /** AllPairs prefix length of a size-n set at threshold t. */
  private[sim] def prefixLength(n: Int, t: Double): Int =
    n - math.ceil(t * n - Eps).toInt + 1

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
    * 0 < t ≤ 1. A pair with no shared element has score 0, so t = 0
    * cannot be served by a prefix filter. Sets are taken as sets
    * (duplicates ignored); an empty set matches nothing.
    */
  def jaccard(sets: Seq[Array[Long]], t: Double): SetSimJoin = build(sets, t, 1)

  /** Index `sets` for containment |x ∩ y| / |y| ≥ t of indexed set y in
    * the probe x, 0 < t ≤ 1; otherwise as [[jaccard]].
    */
  def containment(sets: Seq[Array[Long]], t: Double): SetSimJoin =
    build(sets, t, 0)

  private def build(sets: Seq[Array[Long]], t: Double, wx: Int): SetSimJoin = {
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
    new SetSimJoin(t, wx, elems, rankOf, ranked, postStart, postSet, postPos)
  }

  /** Self-join shape: every pair of rows of `sets` (`id: long`,
    * `set: array<long>` of distinct elements) with Jaccard ≥ t, 0 < t ≤ 1,
    * as (id_a, id_b, jaccard) with id_a < id_b. Rows with an empty set
    * pair with nothing.
    *
    * The plan runs the R–S filters as joins, because here the indexed
    * side is the whole input:
    *  - elements are ordered by (document frequency asc, element asc) over
    *    `sets`, and a window ranks each set's elements in that order;
    *  - the prefix rows (`prefixLength`) with df ≥ 2 self-join on the
    *    element. Dropping df = 1 rows after the positions are fixed is
    *    lossless: an element shared by two sets has df ≥ 2;
    *  - the length filter and the PPJoin positional bound at each shared
    *    prefix element prune candidates before the pair dedup; a true
    *    pair always survives through its first shared element;
    *  - candidates verify by exact `size(array_intersect)` against
    *    `sets`.
    *
    * Every shuffle carries (id, element) longs. `sets` feeds the df count,
    * the prefix and the verify, so a caller that computes it with a UDF
    * should materialize it first.
    */
  def selfJoin(sets: DataFrame, t: Double): DataFrame = {
    require(t > 0 && t <= 1, s"threshold must be in (0, 1], got $t")
    // explode_outer + a null filter, not explode: for a plain explode
    // Catalyst infers `size(set) > 0 AND isnotnull(set)` below the
    // generator, which runs an unmaterialized `set` UDF twice more per row
    val elems = sets.select(col("id"), explode_outer(col("set")).as("e"))
      .filter(col("e").isNotNull)
    val dfreq = elems.groupBy("e").agg(count(lit(1)).as("df"))
    // n counted by the window, not size(set): over an unmaterialized
    // `sets`, size would run the caller's UDF a second time
    val bySet = Window.partitionBy("id")
    val prefix = graft.core.SparkUtil.materializeOnce(
      elems.join(dfreq, "e")
        .withColumn("n", count(lit(1)).over(bySet))
        .withColumn("p",
          row_number().over(bySet.orderBy(col("df").asc, col("e").asc)))
        .filter(col("p") <= col("n") - ceil(col("n") * t - Eps) + 1)
        .filter(col("df") >= 2L)
        .select("e", "id", "n", "p"))
    def side(s: String) = prefix.select(col("e"), col("id").as(s"id_$s"),
      col("n").as(s"n_$s"), col("p").as(s"p_$s"))
    // positions are 1-based: overlap ≤ 1 + min(n_a − p_a, n_b − p_b)
    val overlapBound = lit(1) +
      least(col("n_a") - col("p_a"), col("n_b") - col("p_b"))
    val requiredOverlap = (col("n_a") + col("n_b")) * (t / (1.0 + t)) - Eps
    val cand = side("a").join(side("b"), "e")
      .filter(col("id_a") < col("id_b") &&
        col("n_b") >= col("n_a") * t - Eps &&
        col("n_a") >= col("n_b") * t - Eps &&
        overlapBound >= requiredOverlap)
      .select("id_a", "id_b", "n_a", "n_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard")
  }
}
