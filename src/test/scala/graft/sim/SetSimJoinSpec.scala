package graft.sim

import graft.SparkSpec
import graft.kg.Linker
import graft.text.TextHash

class SetSimJoinSpec extends SparkSpec {
  import SetSimJoin.Match
  import spark.implicits._

  private def inter(a: Array[Long], b: Array[Long]): Int =
    a.toSet.intersect(b.toSet).size

  private def jaccard(a: Array[Long], b: Array[Long]): Double =
    inter(a, b).toDouble / (a.toSet.size + b.toSet.size - inter(a, b))

  test("a pair on both bounds at t = 0.55 is returned: the prefix length " +
      "takes 0.55 · 100 = 55.00000000000001 as 55") {
    val t = 0.55
    assert(t * 100 > 55.0 && math.ceil(t * 100) == 56.0)
    val b = (1L to 55L).toArray
    val ix = SetSimJoin.jaccard(Seq(b), t)
    // 45 elements absent from the index rank first: B's first element
    // sits at position 46 of A, the last of A's prefix
    val a = b ++ (1001L to 1045L)
    val got = ix.probe(a)
    assert(got.toSeq == Seq(Match(0, 55, 55.0 / 100)))
    assert(got.head.score == 0.55)
    assert(SetSimJoin.prefixLength(100, t) == 46)
    // positional bound at that match: min(100 - 45, 55 - 0) = 55, and
    // t/(1+t) · 155 = 55 exactly
    assert(ix.requiredOverlap(100, 55) == 55)
    // one shared element fewer is below the threshold
    assert(ix.probe(b.tail ++ (1001L to 1046L)).isEmpty)

    // the required overlap on its bound: J = 4/25 = 0.16 exactly, and
    // t/(1+t) · 29 = 4.000000000000001, whose plain ceiling demands 5
    // shared elements where the positional bound allows 4; t · 25 = 4.0,
    // so the prefix and length bounds are exact
    val t2 = 0.16
    assert(t2 / (1 + t2) * 29 > 4.0 && t2 * 25 == 4.0)
    val b2 = (1L to 4L).toArray
    val ix2 = SetSimJoin.jaccard(Seq(b2), t2)
    assert(ix2.requiredOverlap(25, 4) == 4)
    assert(ix2.probe(b2 ++ (1001L to 1021L)).toSeq == Seq(Match(0, 4, 0.16)))

    // containment on every bound: 7 of |B| = 25 shared, and
    // 0.28 · 25 = 7.000000000000001. B's prefix must hold 19 elements
    // (the shared ones are B's last 7 in rank order, the first at
    // position 18), the overlap demands 7, and the probe's 7 elements
    // pass the length filter ⌈t · 25⌉ ≤ 7 (7 / 0.28 = 24.999999999999996)
    val t3 = 0.28
    assert(t3 * 25 > 7.0 && 7 / t3 < 25.0)
    val b3 = (1L to 25L).toArray
    val ix3 = SetSimJoin.containment(Seq(b3), t3)
    assert(SetSimJoin.prefixLength(25, t3) == 19)
    assert(ix3.requiredOverlap(7, 25) == 7)
    assert(ix3.probe((19L to 25L).toArray).toSeq == Seq(Match(0, 7, 0.28)))
    assert(ix3.probe((20L to 25L).toArray ++ Array(1001L)).isEmpty)

    // the self-join shape on the two Jaccard pairs: the extra elements
    // have df 1 and rank first, like the absent ones above
    def selfJoin(sets: Seq[(Long, Array[Long])], t: Double) =
      SetSimJoin.selfJoin(sets.toDF("id", "set"), t)
        .as[(Long, Long, Double)].collect().toSeq
    // both id orders, so each side of the length filter meets 55 · t
    assert(selfJoin(Seq(1L -> b, 2L -> a), t) == Seq((1L, 2L, 0.55)))
    assert(selfJoin(Seq(1L -> a, 2L -> b), t) == Seq((1L, 2L, 0.55)))
    assert(selfJoin(Seq(1L -> b2, 2L -> (b2 ++ (1001L to 1021L))), t2) ==
      Seq((1L, 2L, 0.16)))
  }

  test("elements absent from the index never match; empty sets match " +
      "nothing; duplicates are ignored") {
    val ix = SetSimJoin.jaccard(Seq(Array(1L, 2L, 3L), Array(7L, 8L)), 0.5)
    assert(ix.probe(Array(100L, 200L, 300L)).isEmpty)
    assert(ix.probe(Array.empty[Long]).isEmpty)
    assert(ix.probe(Array(3L, 1L, 2L, 2L, 100L)).toSeq == Seq(Match(0, 3, 0.75)))
    assert(ix.probe(Array(8L, 7L, 7L)).toSeq == Seq(Match(1, 2, 1.0)))
    assert(SetSimJoin.jaccard(Seq(Array.empty[Long]), 0.5).probe(Array(1L)).isEmpty)
    intercept[IllegalArgumentException](SetSimJoin.jaccard(Seq(Array(1L)), 0.0))
    val cx = SetSimJoin.containment(
      Seq(Array(1L, 2L, 3L), Array(7L, 7L, 8L), Array.empty[Long]), 0.5)
    assert(cx.probe(Array(100L, 200L)).isEmpty)
    assert(cx.probe(Array(3L, 1L, 1L, 100L, 200L, 300L)).toSeq ==
      Seq(Match(0, 2, 2.0 / 3)))
    assert(cx.probe(Array(8L)).toSeq == Seq(Match(1, 1, 0.5)))
    intercept[IllegalArgumentException](SetSimJoin.containment(Seq(Array(1L)), 0.0))
  }

  test("probe equals brute-force Jaccard on random sets, bit-identical " +
      "to charTrigramJaccard's expression") {
    // the containment index is checked against brute force on the same sets
    val rnd = new scala.util.Random(7)
    // a skewed universe: low element ids are frequent, so prefixes and
    // document frequencies vary
    def set(): Array[Long] = Array.fill(1 + rnd.nextInt(30))(
      (math.abs(rnd.nextGaussian()) * 25).toLong - 10L)
    val indexed = Seq.fill(120)(set())
    val probes = Seq.fill(150)(set()) ++ indexed.take(20).map(s => s ++ Array(999L))
    for (t <- Seq(0.2, 0.5, 0.55, 0.7, 0.9, 1.0)) {
      val ix = SetSimJoin.jaccard(indexed, t)
      val cx = SetSimJoin.containment(indexed, t)
      probes.foreach { p =>
        val want = indexed.indices.map(k =>
          Match(k, inter(p, indexed(k)), jaccard(p, indexed(k))))
          .filter(_.score >= t)
        assert(ix.probe(p).toSeq == want, s"t=$t probe ${p.toSeq}")
        val wantC = indexed.indices.map { k =>
          val n = inter(p, indexed(k))
          Match(k, n, n.toDouble / indexed(k).toSet.size)
        }.filter(_.score >= t)
        assert(cx.probe(p).toSeq == wantC, s"t=$t containment probe ${p.toSeq}")
      }
    }
    val (a, b) = ("protein kinase alpa", "protein kinase alpha")
    val got = SetSimJoin.jaccard(Seq(TextHash.charTrigramSet(b)), 0.55)
      .probe(TextHash.charTrigramSet(a))
    assert(got.map(_.score).toSeq == Seq(TextHash.charTrigramJaccard(a, b)))
  }

  test("linkFuzzy: a mention equal to its surface is excluded; two " +
      "concepts with one surface are both returned") {
    val dict = Seq(
      ("C:1", "Gamma Receptor", "g"),
      ("C:2", "gamma receptor", "g2"),
      ("C:3", "protein kinase", "pk")).toDF("concept_id", "label", "synonyms")
    val mentions = Seq(("c1", 0, "gamma receptors"), ("c1", 1, "gamma receptor"),
      ("c1", 2, "protein kinase")).toDF("conv_id", "turn_idx", "mention")
    val got = Linker.linkFuzzy(mentions, dict)
      .select("mention", "concept_id", "confidence").as[(String, String, Double)]
      .collect().sortBy(_._2).toSeq
    val j = TextHash.charTrigramJaccard("gamma receptors", "gamma receptor")
    assert(got == Seq(("gamma receptors", "C:1", j * 0.9),
      ("gamma receptors", "C:2", j * 0.9)))
  }
}
