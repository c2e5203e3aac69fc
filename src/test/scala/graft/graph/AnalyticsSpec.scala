package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Brute-force witnesses for the KG edge-table analytics family.
  *
  * Every op is integer-exact, so all comparisons here are strict
  * equality — no tolerances. Graphs are seeded with an explicit LCG
  * (deterministic across runs and JVMs).
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic edge set over `n` nodes: keep (a, b), a < b, when the
    * LCG accepts with probability ~`pPct`/100.
    */
  private def seededEdges(n: Int, pPct: Int, seed: Long): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    for {
      a <- 0 until n
      b <- (a + 1) until n
      if math.floorMod(next(), 100L) < pPct
    } yield (a.toLong, b.toLong)
  }

  test("degrees: exact in/out/total over a handmade directed graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val got = Analytics.degrees(edges).as[(Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 4L), // out: →2,→3; in: 3→, 4→
      (2L, 1L, 1L, 2L),
      (3L, 1L, 2L, 3L),
      (4L, 1L, 0L, 1L)))
  }

  test("neighborAggregate equals driver message passing, multigraph " +
      "semantics included") {
    // (1,2) twice-connected via both directions: 1<->2 delivers twice.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    // feature: node id × 10 (node 5 has a feature but no edges)
    val feats = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("node", "rank")
    val got = Analytics.neighborAggregate(edges, feats)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // undirected messages: each directed edge delivers both ways
    val msgs = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) } // (from, to)
    val f = Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L, 5L -> 50L)
    val expect = msgs.groupBy(_._2).map { case (node, ms) =>
      val xs = ms.map(m => f(m._1))
      (node, f(node), xs.length.toLong, xs.sum, xs.min, xs.max)
    }.toSet
    assert(got == expect)
    // node 1's neighborhood counts node 2 TWICE (edges both directions)
    // plus node 3 once — 3 messages, nbr_sum 20+20+30
    assert(got.find(_._1 == 1L).get._3 == 3L)
    assert(got.find(_._1 == 1L).get._4 == 70L)
    // node 5 (no edges) emits no row
    assert(!got.exists(_._1 == 5L))
    // partitioning invariance
    val got2 = Analytics.neighborAggregate(
      edges.repartition(7), feats.repartition(3))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got2 == got)
  }

  test("neighborAggregate over pageRank ranks on a seeded graph equals " +
      "brute force") {
    val es = seededEdges(30, 25, 0xfeedL)
    val edges = es.toDF("src", "dst")
    val ranks = Analytics.pageRankFixedPoint(edges, iters = 3)
    val got = Analytics.neighborAggregate(edges, ranks)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val f = ranks.as[(Long, Long)].collect().toMap
    val msgs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val expect = msgs.groupBy(_._2).map { case (node, ms) =>
      val xs = ms.map(m => f(m._1))
      (node, f(node), xs.length.toLong, xs.sum, xs.min, xs.max)
    }.toSet
    assert(got == expect)
  }

  test("bfsDistances equals driver BFS, and converges early when the " +
      "frontier empties before maxHops") {
    val edges = seededEdges(60, 4, seed = 7L)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val seedNodes = Seq(0L, 1L)
    def driverBfs(maxHops: Int): Map[Long, Long] = {
      // seeds are included at dist 0 whether or not they touch an edge
      var dist = seedNodes.map(_ -> 0L).toMap
      var frontier = dist.keySet
      var hop = 1L
      while (hop <= maxHops && frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
        dist ++= next.map(_ -> hop)
        frontier = next
        hop += 1
      }
      dist
    }
    val edf = edges.toDF("src", "dst")
    val sdf = seedNodes.toDF("node")
    for (k <- Seq(0, 1, 3)) {
      val got = Analytics.bfsDistances(edf, sdf, maxHops = k)
        .as[(Long, Long)].collect().toMap
      assert(got == driverBfs(k), s"maxHops=$k")
    }
    // maxHops far past the diameter: early-exit path, still exact
    val far = Analytics.bfsDistances(edf, sdf, maxHops = 30)
      .as[(Long, Long)].collect().toMap
    assert(far == driverBfs(30))
  }

  test("triangleCounts equals brute-force triple enumeration") {
    val edges = seededEdges(40, 15, seed = 11L)
    val es = edges.toSet
    def adjacent(a: Long, b: Long) =
      es.contains((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if adjacent(a, b) && adjacent(b, c) && adjacent(a, c)
    } Seq(a, b, c).foreach(n => brute(n) = brute.getOrElse(n, 0L) + 1)
    // feed UNCANONICAL input: reversed duplicates must not double-count
    val noisy = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val got = Analytics.triangleCounts(noisy)
      .as[(Long, Long)].collect().toMap
    assert(got == brute.toMap)
    assert(got.nonEmpty, "seeded graph should contain triangles")
  }

  test("triangleCounts: star hub has zero triangles (no row emitted)") {
    val star = (1L to 50L).map(i => (0L, i)).toDF("src", "dst")
    assert(Analytics.triangleCounts(star).isEmpty)
  }

  test("pageRankFixedPoint is bit-identical across partitionings and " +
      "equals the driver-side integer recurrence") {
    val edges = seededEdges(50, 8, seed = 3L)
    val scale = 1000000000L
    // driver-side fixed-point recurrence (the oracle semantics)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to 10) {
      val inMass = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (u, v) =>
        inMass(v) = inMass.getOrElse(v, 0L) + rank(u) / outDeg(u)
      }
      rank = nodes.map(n =>
        n -> (scale * 15L / 100L + inMass.getOrElse(n, 0L) * 85L / 100L)).toMap
    }
    val edf = edges.toDF("src", "dst")
    val a = Analytics.pageRankFixedPoint(edf.repartition(7), iters = 10)
      .as[(Long, Long)].collect().toMap
    val b = Analytics.pageRankFixedPoint(edf.repartition(2), iters = 10)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "fixed-point PR must not depend on partitioning")
    assert(a == rank, "distributed result must equal the driver recurrence")
    // sinks keep at least the base mass; nothing exceeds total input mass
    assert(a.values.forall(r => r >= scale * 15L / 100L &&
      r <= scale * nodes.size))
  }

  /** Driver-side peel (the oracle semantics): returns (node → core deg). */
  private def peelLocal(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    var done = false
    while (!done) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val next = es.filter(e => deg(e._1) >= k && deg(e._2) >= k)
      done = next.size == es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("personalizedPageRank equals the driver recurrence; all-seeds " +
      "degenerates to pageRankFixedPoint; unreachable nodes rank 0") {
    val es = seededEdges(40, 12, 0xabcdL) ++ Seq((100L, 101L)) // island
    val edges = es.toDF("src", "dst")
    val seeds = Seq(0L, 1L, 2L, 999L).toDF("node") // 999 not in graph
    val iters = 4
    val got = Analytics.personalizedPageRank(edges, seeds, iters)
      .as[(Long, Long)].collect().toMap
    // driver recurrence
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = es.groupBy(_._1).map { case (s, xs) => (s, xs.size.toLong) }
    val seedSet = Set(0L, 1L, 2L)
    var r = nodes.map(n => n -> (if (seedSet(n)) 1000000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (d, xs) =>
        (d, xs.map(e => r(e._1) / outDeg(e._1)).sum)
      }
      r = nodes.map { n =>
        n -> ((if (seedSet(n)) 150000000L else 0L) +
          in.getOrElse(n, 0L) * 85L / 100L)
      }.toMap
    }
    assert(got == r)
    // 999 was ignored: output covers exactly the edge-derived universe
    assert(got.keySet == nodes.toSet)
    // island nodes 100/101 are unreachable from the seeds: 0 mass
    assert(got(100L) == 0L && got(101L) == 0L)
    // all-seeds == global pageRank, bit for bit
    val allSeeds = nodes.toSeq.toDF("node")
    val ppr = Analytics.personalizedPageRank(edges, allSeeds, iters)
      .as[(Long, Long)].collect().toMap
    val pr = Analytics.pageRankFixedPoint(edges, iters)
      .as[(Long, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("kCore equals driver-side peeling; handmade cascade peels in " +
      "multiple rounds") {
    // triangle {1,2,3} + a pendant chain 3-4-5: the 2-core must peel 5
    // first (deg 1), THEN 4 (deg drops to 1) — a genuine cascade
    val chain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Analytics.kCore(chain, k = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))

    // seeded graph vs the driver peel, two partitionings
    val edges = seededEdges(60, 12, seed = 7L)
    val expect = peelLocal(edges, k = 6)
    val edf = edges.toDF("src", "dst")
    val a = Analytics.kCore(edf.repartition(7), k = 6)
      .as[(Long, Long)].collect().toMap
    val b = Analytics.kCore(edf.repartition(2), k = 6)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "k-core must not depend on partitioning")
    assert(a == expect, "distributed peel must equal the driver peel")
    // every surviving node really has core degree >= k
    assert(a.values.forall(_ >= 6L))
  }

  test("driver fast path equals the distributed kernels bit-for-bit " +
      "(triangles, clustering coefficient, k-core)") {
    // localCutoff = 0 forces the distributed path on the same input; the
    // default cutoff takes the driver fast path (a local relation) —
    // outputs must be equal as row sets (graph invariants, so no
    // ordering caveats)
    def check(edf: DataFrame): Unit = {
      def same(kernel: Int => DataFrame, nonEmpty: Boolean = false): Unit = {
        val fast = kernel(Analytics.SmallGraphCutoff)
        assert(fast.queryExecution.logical.isInstanceOf[LocalRelation],
          "the default cutoff must take the driver fast path")
        val got = fast.collect().map(_.toSeq).toSet
        assert(got == kernel(0).collect().map(_.toSeq).toSet)
        if (nonEmpty) assert(got.nonEmpty)
      }
      same(c => Analytics.triangleCounts(edf, localCutoff = c),
        nonEmpty = true)
      same(c => Analytics.clusteringCoefficient(edf, localCutoff = c))
      same(c => Analytics.kCore(edf, k = 5, localCutoff = c))
      same(c => Analytics.linkPredict(edf, minCommon = 2L, localCutoff = c),
        nonEmpty = true)
      // pivot-cap arm agrees across paths too
      same(c => Analytics.linkPredict(edf, minCommon = 1L, maxPivotDeg = 6,
        localCutoff = c))
    }
    val edges = seededEdges(80, 10, seed = 0x5eedL)
    val both = edges ++ edges.map(_.swap) // uncanonical
    check(both.toDF("src", "dst"))
    // string ids through the same kernels: U+E000- and U+1D11E-prefixed
    // ids order one way under Spark's UTF-8 order and the other way
    // under String.compareTo (UTF-16), so a local kernel comparing ids
    // with compareTo would emit cross-half link-prediction pairs as
    // (b, a) where the distributed kernel emits (a, b)
    val clef = new String(Character.toChars(0x1D11E))
    def sid(x: Long): String = (if (x % 2L == 0L) "\uE000" else clef) + x
    check(both.map { case (a, b) => (sid(a), sid(b)) }.toDF("src", "dst"))
    // fail-loud guard fires identically on the fast path
    val long = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("src", "dst")
    intercept[IllegalStateException] {
      Analytics.kCore(long, k = 2, maxRounds = 1).collect()
    }
  }

  test("driver fast path equals the distributed kernels bit-for-bit " +
      "(pagerank, ppr, bfs, label propagation; long AND string ids)") {
    val edges = seededEdges(60, 10, seed = 0xfeedL)
    // directed multigraph: duplicate a slice so multiplicity semantics
    // (pagerank out-degree, neighbor messages) are actually exercised
    val dup = edges ++ edges.take(20)
    def check(edf: org.apache.spark.sql.DataFrame,
        sdf: org.apache.spark.sql.DataFrame): Unit = {
      val prF = Analytics.pageRankFixedPoint(edf, iters = 6)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      val prD = Analytics.pageRankFixedPoint(edf, iters = 6, localCutoff = 0)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      assert(prF == prD)
      val ppF = Analytics.personalizedPageRank(edf, sdf, iters = 4)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      val ppD = Analytics.personalizedPageRank(edf, sdf, iters = 4,
        localCutoff = 0).collect().map(r => (r.get(0), r.getLong(1))).toMap
      assert(ppF == ppD)
      val bfF = Analytics.bfsDistances(edf, sdf, maxHops = 3)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      val bfD = Analytics.bfsDistances(edf, sdf, maxHops = 3, localCutoff = 0)
        .collect().map(r => (r.get(0), r.getLong(1))).toMap
      assert(bfF == bfD)
      val lpF = Analytics.labelPropagation(edf, rounds = 4)
        .collect().map(r => (r.get(0), r.get(1))).toMap
      val lpD = Analytics.labelPropagation(edf, rounds = 4, localCutoff = 0)
        .collect().map(r => (r.get(0), r.get(1))).toMap
      assert(lpF == lpD)
    }
    // long ids (999 = seed outside the edge universe, ignored by PPR,
    // dist 0 in BFS on both paths)
    check(dup.toDF("src", "dst"), Seq(0L, 3L, 999L).toDF("node"))
    // string ids through the same kernels
    check(dup.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst"),
      Seq("n0", "n3", "nope").toDF("node"))
  }

  test("kCore: empty core and fail-loud non-convergence guard") {
    // a path graph has no 2-core
    val path = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("src", "dst")
    assert(Analytics.kCore(path, k = 2).isEmpty)
    // a long path peels one node per round from each end: maxRounds=1
    // cannot converge for k=2 — must throw, never return silently
    val long = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("src", "dst")
    intercept[IllegalStateException] {
      Analytics.kCore(long, k = 2, maxRounds = 1).collect()
    }
  }

  /** Driver-side common-neighbor truth: (pair → cn) over the canonical
    * undirected simple graph, non-edges only.
    */
  private def cnLocal(edges: Seq[(Long, Long)])
      : (Map[(Long, Long), (Long, Long)], Map[Long, Long]) = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val deg = adj.map { case (k, vs) => k -> vs.size.toLong }
    val nodes = adj.keys.toSeq.sorted
    val cn = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      a = nodes(i); b = nodes(j)
      if !adj(a).contains(b)
      shared = adj(a) & adj(b)
      if shared.nonEmpty
      // RA index: per-pivot permille floor, summed (matches the op)
      ra = shared.toSeq.map(z => 1000L / deg(z)).sum
    } yield (a, b) -> (shared.size.toLong, ra)).toMap
    (cn, deg)
  }

  test("linkPredict equals driver brute force: counts, union, permille " +
      "Jaccard; existing edges excluded; pivot cap only under-counts") {
    val edges = seededEdges(40, 14, seed = 11L)
    val (cn, deg) = cnLocal(edges)
    val expect = cn.collect { case ((a, b), (c, ra)) if c >= 2L =>
      val uni = deg(a) + deg(b) - c
      (a, b, c, uni, c * 1000L / uni, ra)
    }.toSet
    val edf = edges.toDF("src", "dst")
    val got = Analytics.linkPredict(edf, minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expect, "exact arm must equal the driver truth")
    // partitioning invariance
    val got2 = Analytics.linkPredict(edf.repartition(7), minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got2 == got)
    // no predicted pair is an existing edge
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(got.forall { case (a, b, _, _, _, _) => !canon.contains((a, b)) })
    // minJaccardPm filters by the integer score
    val strong = Analytics.linkPredict(edf, minCommon = 2L, minJaccardPm = 300L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(strong == got.filter(_._5 >= 300L))
    // the hub-cap arm: every capped pair exists in the exact arm with
    // cn and ra_pm no larger (dropping pivots can only remove wedges,
    // and every RA term is non-negative) and unchanged degrees
    val capped = Analytics.linkPredict(edf, minCommon = 2L,
        maxPivotDeg = deg.values.max.toInt - 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val exactByPair = got.map(t => (t._1, t._2) -> t).toMap ++
      cn.collect { case ((a, b), (c, ra)) if c < 2L =>
        (a, b) -> (a, b, c, deg(a) + deg(b) - c, 0L, ra) }
    capped.foreach { case (a, b, c, uni, _, ra) =>
      val e = exactByPair((a, b))
      assert(c <= e._3, s"cap raised cn for ($a,$b)")
      assert(ra <= e._6, s"cap raised ra_pm for ($a,$b)")
      assert(uni == deg(a) + deg(b) - c)
    }
    // a cap above the max degree changes nothing
    val uncapped = Analytics.linkPredict(edf, minCommon = 2L,
        maxPivotDeg = deg.values.max.toInt)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(uncapped == got)
  }

  test("clusteringCoefficient: triangle is 1000 permille everywhere, " +
      "star hub is 0, path interiors 0; equals brute force on a seeded " +
      "graph") {
    // K3: every node cc = 2000*1 / (2*1) = 1000
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val g1 = Analytics.clusteringCoefficient(k3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(g1 == Set((1L, 2L, 1L, 1000L), (2L, 2L, 1L, 1000L),
      (3L, 2L, 1L, 1000L)))
    // star: hub deg 3, no triangles, cc 0; leaves deg 1 → omitted
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val g2 = Analytics.clusteringCoefficient(star)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(g2 == Set((0L, 3L, 0L, 0L)))
    // seeded graph vs driver brute force
    val edges = seededEdges(30, 20, seed = 31L)
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val expect = adj.collect { case (v, nb) if nb.size >= 2 =>
      val tri = nb.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      val d = nb.size.toLong
      (v, d, tri.toLong, 2000L * tri / (d * (d - 1)))
    }.toSet
    val got = Analytics.clusteringCoefficient(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  /** Driver-side synchronous LPA with the same deterministic rule:
    * most-frequent neighbor label, min label on ties.
    */
  private def lpaLocal(edges: Seq[(Long, Long)], rounds: Int)
      : Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, xs) => l -> xs.size }
        val maxC = counts.values.max
        n -> counts.collect { case (l, c) if c == maxC => l }.min
      }
    }
    labels
  }

  test("labelPropagation equals driver sync LPA; finds the two planted " +
      "communities; partitioning-invariant") {
    // two dense blobs joined by one bridge edge: LPA must label each
    // blob internally (the bridge alone cannot flip a majority)
    val blobA = for (a <- 0L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val blobB = for (a <- 10L to 15L; b <- (a + 1) to 15L) yield (a, b)
    val planted = (blobA ++ blobB :+ (5L, 10L)).toDF("src", "dst")
    val labels = Analytics.labelPropagation(planted, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert((0L to 5L).map(labels).toSet.size == 1, "blob A one community")
    assert((10L to 15L).map(labels).toSet.size == 1, "blob B one community")
    assert(labels(0L) != labels(15L), "bridge must not merge the blobs")
    // seeded graph vs the driver rule, two partitionings
    val edges = seededEdges(50, 10, seed = 23L)
    val expect = lpaLocal(edges, rounds = 4)
    val edf = edges.toDF("src", "dst")
    val a = Analytics.labelPropagation(edf.repartition(5), rounds = 4)
      .as[(Long, Long)].collect().toMap
    val b = Analytics.labelPropagation(edf.repartition(2), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "LPA must not depend on partitioning")
    assert(a == expect, "distributed sync LPA must equal the driver rule")
  }
}
