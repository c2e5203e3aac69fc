package graft.graph

import graft.SparkSpec
import graft.text.TextHash
import org.apache.spark.sql.functions._

/** Large-star/small-star CC must agree exactly with min-label
  * propagation and with the driver-local union-find — including on deep
  * chains where the star algorithm's O(log² n) round bound is the point.
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
    val graph = chain ++ clique ++ ring ++ random
    // U+E000 is the UTF-8 (Spark) min; U+1D11E is the UTF-16 min
    val clef = new String(Character.toChars(0x1D11E))
    val straddle = Seq((clef, "\uE000"))
    val byString = graph.map { case (a, b) => (n(a), n(b)) } ++ straddle
    val byLong = graph.map { case (a, b) => (a.toLong, b.toLong) }

    def threeWays[T](edges: org.apache.spark.sql.DataFrame): Map[T, T] = {
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap
      // the 60-deep chain needs ~60 min-label rounds — past the default
      // cap, which is exactly the regime the star algorithm exists for
      val byProp = labels(Components.connectedComponents(edges,
        maxIter = 200, localCutoff = 0))
      val byStar = labels(Components.connectedComponentsStar(edges))
      val byLocal = labels(Components.connectedComponents(edges))
      assert(byStar.keySet == byProp.keySet)
      assert(byStar == byProp, "star vs min-label")
      assert(byLocal == byProp, "union-find fast path vs min-label")
      byProp
    }
    val s = threeWays[String](byString.toDF("src", "dst"))
    // the deep chain really is one component rooted at its minimum
    assert(s(n(60)) == n(0))
    assert(s(clef) == "\uE000" && s("\uE000") == "\uE000")
    val l = threeWays[Long](byLong.toDF("src", "dst"))
    assert(l(60L) == 0L && l(219L) == 200L)
    assert(l.size == s.size - 2)

    // the distributed rounds fail loud past the default round cap
    val e = intercept[IllegalStateException](Components.connectedComponents(
      chain.map { case (a, b) => (n(a), n(b)) }.toDF("src", "dst"),
      localCutoff = 0))
    assert(e.getMessage.contains("did not converge"))
  }

  test("star CC labels every endpoint and uses the min member as root") {
    val edges = Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("src", "dst")
    val got = labelsOf(Components.connectedComponentsStar(edges))
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }
}
