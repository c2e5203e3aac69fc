package graft.sim

import graft.SparkSpec
import graft.kg.Linker
import graft.text.TextHash

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = a.toSet.intersect(b.toSet).size
    inter.toDouble / (a.toSet.size + b.toSet.size - inter)
  }

  test("a pair on both bounds at t = 0.55 is returned: the prefix length " +
      "takes 0.55 · 100 = 55.00000000000001 as 55") {
    val t = 0.55
    assert(t * 100 > 55.0 && math.ceil(t * 100) == 56.0)
    val b = (1L to 55L).toArray
    val ix = SetSimJoin.build(Seq(b), t)
    // 45 elements absent from the index rank first: B's first element
    // sits at position 46 of A, the last of A's prefix
    val a = b ++ (1001L to 1045L)
    val got = ix.probe(a)
    assert(got.toSeq == Seq(0 -> 55.0 / 100))
    assert(got.head._2 == 0.55)
    assert(SetSimJoin.prefixLength(100, t) == 46)
    // positional bound at that match: min(100 - 45, 55 - 0) = 55, and
    // t/(1+t) · 155 = 55 exactly
    assert(SetSimJoin.requiredOverlap(100, 55, t) == 55)
    // one shared element fewer is below the threshold
    assert(ix.probe(b.tail ++ (1001L to 1046L)).isEmpty)
  }

  test("elements absent from the index never match; empty sets match " +
      "nothing; duplicates are ignored") {
    val ix = SetSimJoin.build(Seq(Array(1L, 2L, 3L), Array(7L, 8L)), 0.5)
    assert(ix.probe(Array(100L, 200L, 300L)).isEmpty)
    assert(ix.probe(Array.empty[Long]).isEmpty)
    assert(ix.probe(Array(3L, 1L, 2L, 2L, 100L)).toSeq == Seq(0 -> 0.75))
    assert(ix.probe(Array(8L, 7L, 7L)).toSeq == Seq(1 -> 1.0))
    assert(SetSimJoin.build(Seq(Array.empty[Long]), 0.5).probe(Array(1L)).isEmpty)
    intercept[IllegalArgumentException](SetSimJoin.build(Seq(Array(1L)), 0.0))
  }

  test("probe equals brute-force Jaccard on random sets, bit-identical " +
      "to charTrigramJaccard's expression") {
    val rnd = new scala.util.Random(7)
    // a skewed universe: low element ids are frequent, so prefixes and
    // document frequencies vary
    def set(): Array[Long] = Array.fill(1 + rnd.nextInt(30))(
      (math.abs(rnd.nextGaussian()) * 25).toLong - 10L)
    val indexed = Seq.fill(120)(set())
    val probes = Seq.fill(150)(set()) ++ indexed.take(20).map(s => s ++ Array(999L))
    for (t <- Seq(0.2, 0.5, 0.55, 0.7, 0.9, 1.0)) {
      val ix = SetSimJoin.build(indexed, t)
      probes.foreach { p =>
        val want = indexed.indices.map(k => k -> jaccard(p, indexed(k)))
          .filter(_._2 >= t)
        assert(ix.probe(p).toSeq == want, s"t=$t probe ${p.toSeq}")
      }
    }
    val (a, b) = ("protein kinase alpa", "protein kinase alpha")
    val got = SetSimJoin.build(Seq(TextHash.charTrigramSet(b)), 0.55)
      .probe(TextHash.charTrigramSet(a))
    assert(got.toSeq == Seq(0 -> TextHash.charTrigramJaccard(a, b)))
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
