package graft.graph

import graft.SparkSpec
import graft.core.Schema._
import graft.text.TextHash
import org.apache.spark.sql.functions._

/** The one CC kernel: its large-star/small-star rounds must agree exactly
  * with the driver-local union-find — including on deep chains where the
  * star algorithm's O(log² n) round bound is the point.
  */
class ComponentsStarSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, String)].collect().toMap

  test("star CC equals min-label CC on chains, cliques, rings and randoms") {
    def n(i: Int) = f"n$i%04d"
    val chain = (0 until 60).map(i => (i, i + 1)) // deep path
    val clique = for { i <- 100 until 110; j <- 100 until 110; if i < j }
      yield (i, j)
    val ring = (200 until 220).map(i => (i, if (i == 219) 200 else i + 1))
    val random = (0 until 80).map { k =>
      val a = 300 + math.floorMod(TextHash.mix(7L, k.toLong), 40L).toInt
      val b = 300 + math.floorMod(TextHash.mix(11L, k.toLong), 40L).toInt
      (a, b)
    }.filter(e => e._1 != e._2)
    // a self-loop-only node, and a self-loop on a chain member
    val loops = Seq((900, 900), (30, 30))
    val graph = chain ++ clique ++ ring ++ random ++ loops
    // U+E000 is the UTF-8 (Spark) min; U+1D11E is the UTF-16 min
    val clef = new String(Character.toChars(0x1D11E))
    val straddle = Seq((clef, "\uE000"))
    val byString = graph.map { case (a, b) => (n(a), n(b)) } ++ straddle
    val byLong = graph.map { case (a, b) => (a.toLong, b.toLong) }

    def bothWays[T](edges: org.apache.spark.sql.DataFrame): Map[T, T] = {
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap
      val byStar = labels(Components.connectedComponents(edges, localCutoff = 0))
      val byLocal = labels(Components.connectedComponents(edges))
      assert(byLocal.keySet == byStar.keySet)
      assert(byLocal == byStar, "union-find fast path vs star rounds")
      byStar
    }
    val s = bothWays[String](byString.toDF("src", "dst"))
    // the deep chain really is one component rooted at its minimum
    assert(s(n(60)) == n(0) && s(n(30)) == n(0))
    assert(s(n(900)) == n(900))
    assert(s(clef) == "\uE000" && s("\uE000") == "\uE000")
    val l = bothWays[Long](byLong.toDF("src", "dst"))
    assert(l(60L) == 0L && l(219L) == 200L && l(900L) == 900L)
    assert(l.size == s.size - 2)

    // the distributed rounds fail loud past the round cap
    val e = intercept[IllegalStateException](Components.connectedComponents(
      chain.map { case (a, b) => (n(a), n(b)) }.toDF("src", "dst"),
      maxIter = 1, localCutoff = 0))
    assert(e.getMessage.contains("did not converge"))
  }

  test("star CC labels every endpoint and uses the min member as root") {
    val edges = Seq(("b", "a"), ("c", "b"), ("x", "y"), ("q", "q"))
      .toDF("src", "dst")
    val got = labelsOf(Components.connectedComponents(edges, localCutoff = 0))
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x",
      "y" -> "x", "q" -> "q"))
  }

  test("directed cycles across components merge into one label, however long") {
    def rows(triples: Seq[(String, String, String)]) =
      triples.toDF(SubjectId, PredicateId, ObjectId)
    // one directed 2-cycle between {a, b} and c
    val short = rows(Seq(("a", SkosExactMatch, "b"),
      ("a", SkosNarrowMatch, "c"), ("c", SkosNarrowMatch, "b")))
    // x1 ↔ x2, x1 → y → x2, and x1 → z_k → z_{k-1} (z_0 = y): one directed
    // cycle needing a merge pass per z_k
    def z(k: Int) = if (k == 0) "y" else s"z$k"
    val long = rows(Seq(("x1", SkosExactMatch, "x2"),
      ("x1", SkosNarrowMatch, "y"), ("y", SkosNarrowMatch, "x2")) ++
      (1 to 12).flatMap(k => Seq(("x1", SkosNarrowMatch, z(k)),
        (z(k), SkosNarrowMatch, z(k - 1)))))
    for ((df, root) <- Seq(short -> "a", long -> "x1")) {
      val got = labelsOf(Components.componentLabels(df))
      assert(got.values.toSet == Set(root), got)
    }
  }
}
