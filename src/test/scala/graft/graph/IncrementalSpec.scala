package graft.graph

import graft.SparkSpec

/** mergeDelta(cc(base), delta) must be row-identical to cc(base ∪ delta)
  * — the whole value proposition of incremental canonicalization is that
  * the cheap path is EXACTLY the recompute, not an approximation.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def seededEdges(n: Int, pPct: Int, seed: Long): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    for {
      a <- 0 until n
      b <- (a + 1) until n
      if math.floorMod(next(), 100L) < pPct
    } yield (a.toLong, b.toLong)
  }

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("delta merge equals full recompute on a seeded split") {
    val all = seededEdges(80, 3, seed = 19L)
    // delta = every 4th edge; base = the rest
    val (delta, base) = all.zipWithIndex.partition(_._2 % 4 == 0) match {
      case (d, b) => (d.map(_._1), b.map(_._1))
    }
    val baseLabels = Components.connectedComponents(base.toDF("src", "dst"))
    val merged = Incremental.mergeDelta(baseLabels, delta.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val full = labelsOf(all)
    // merged covers base nodes ∪ delta nodes; full covers the same set
    assert(merged == full)
  }

  test("a delta edge bridging two existing components relabels BOTH to " +
      "the joint minimum, and untouched components keep their label") {
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val baseLabels = Components.connectedComponents(base.toDF("src", "dst"))
    val merged = Incremental.mergeDelta(baseLabels,
      Seq((3L, 10L)).toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 20L -> 20L, 21L -> 20L))
  }

  test("brand-new nodes: isolated pair joins as its own component; a new " +
      "node attaching to an old component takes (or sets) its label") {
    val base = Seq((5L, 6L))
    val baseLabels = Components.connectedComponents(base.toDF("src", "dst"))
    val merged = Incremental.mergeDelta(baseLabels,
      Seq((100L, 101L), (2L, 5L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    // new node 2 < old label 5: the joint component takes the NEW min
    assert(merged == Map(5L -> 2L, 6L -> 2L, 2L -> 2L,
      100L -> 100L, 101L -> 100L))
  }

  test("empty delta is the identity") {
    val base = Seq((1L, 2L), (3L, 4L))
    val baseLabels = Components.connectedComponents(base.toDF("src", "dst"))
    val merged = Incremental.mergeDelta(baseLabels,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("string ids (CURIE-shaped): the union-find and the distributed " +
      "base labelings, and mergeDelta over each, equal the full recompute") {
    val base = Seq(("A:1", "B:1"), ("B:2", "C:7")).toDF("src", "dst")
    val delta = Seq(("B:1", "B:2"), ("D:9", "D:8")).toDF("src", "dst")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().toMap
    val local = Components.connectedComponents(base)
    val distributed = Components.connectedComponents(base, localCutoff = 0)
    val fullBase = Map("A:1" -> "A:1", "B:1" -> "A:1", "B:2" -> "B:2",
      "C:7" -> "B:2")
    assert(labels(local) == fullBase && labels(distributed) == fullBase)
    val full = labels(Components.connectedComponents(base.union(delta)))
    assert(full == Map("A:1" -> "A:1", "B:1" -> "A:1", "B:2" -> "A:1",
      "C:7" -> "A:1", "D:9" -> "D:8", "D:8" -> "D:8"))
    for (baseLabels <- Seq(local, distributed))
      assert(labels(Incremental.mergeDelta(baseLabels, delta)) == full)
  }
}
