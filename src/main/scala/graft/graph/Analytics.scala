package graft.graph

import graft.core.SizeGate
import graft.core.SizeGate.{AnyIds, idLess}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Graph analytics over KG edge tables (beyond-reference tier).
  *
  * The reference stops at component canonicalization (cliques.py); a
  * KG-construction pipeline at crawl scale also needs the read-side
  * analytics that consumers run over the materialized edge table:
  * degree profiles, bounded-hop reachability, clustering (triangles),
  * and centrality (PageRank). All four are expressed as declarative
  * DataFrame plans — partial-aggregated shuffles on node ids, no
  * driver-side iteration state beyond the fixed loop counters — so
  * Catalyst/AQE handle skew and sizing at 1000-executor scale.
  *
  * Determinism contract: every op here is integer-exact (degrees,
  * BFS distances, triangle counts) or fixed-point integer (PageRank),
  * so results hash-match a single-node SQL oracle bit-for-bit — no
  * float summation-order jitter across partitionings or engines.
  */
object Analytics {

  /** Per-node out/in/total degree over a directed edge list (src, dst).
    *
    * Two partial-agg shuffles (one per side) + one equi-join on node —
    * the minimal plan; at 100 TB every stage is map-side combined and
    * AQE-coalesced. Parallel edges count once per occurrence (the edge
    * table is assumed deduplicated by the producer if simple-graph
    * semantics are wanted).
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        (coalesce(col("out_deg"), lit(0L)) +
          coalesce(col("in_deg"), lit(0L))).as("deg"))
  }

  /** Minimum-hop distance from a seed set within `maxHops`, undirected.
    *
    * Frontier BFS: each round expands only the newly-discovered frontier
    * (not the full visited set) through one equi-join + min-agg, so total
    * shuffled volume is O(edges touched), not O(rounds × nodes). `maxHops`
    * is a fixed small constant (bounded-hop queries are the scale-safe
    * form — unbounded reachability is [[Components.connectedComponents]]).
    *
    * @param sources DataFrame with a single `node` column (seed set).
    * @return (node, dist) for every node within maxHops of a seed.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int, localCutoff: Int = SmallGraphCutoff): DataFrame = {
    require(maxHops >= 0 && maxHops <= 32, s"maxHops out of range: $maxHops")
    val g = edges.select(col("src"), col("dst"))
    SizeGate.localGraph(g, localCutoff).foreach { case (ix, ea, eb) =>
      SizeGate.collectIfSmall(sources.select(col("node")).distinct(),
          localCutoff).foreach { seedRows =>
        // min-hop distances are graph invariants — frontier order cannot
        // change them; seeds outside the edge universe still emit dist 0
        // exactly like the distributed visited set
        val dist = new Array[Long](ix.n)
        java.util.Arrays.fill(dist, -1L)
        val extraSeeds = scala.collection.mutable.ArrayBuffer.empty[Any]
        var queue = scala.collection.mutable.ArrayBuffer.empty[Int]
        seedRows.foreach { r =>
          val got = ix.index.get(r.get(0))
          if (got != null) { dist(got.intValue()) = 0L; queue += got.intValue() }
          else extraSeeds += r.get(0)
        }
        val (start, nbr) = undirectedCsr(ix.n, ea, eb)
        var hop = 1L
        while (queue.nonEmpty && hop <= maxHops) {
          val next = scala.collection.mutable.ArrayBuffer.empty[Int]
          queue.foreach { u =>
            var p = start(u)
            while (p < start(u + 1)) {
              val v = nbr(p)
              if (dist(v) < 0L) { dist(v) = hop; next += v }
              p += 1
            }
          }
          queue = next
          hop += 1L
        }
        return localFrame(g, (0 until ix.n).collect {
          case i if dist(i) >= 0L => Row(ix.ids(i), dist(i))
        } ++ extraSeeds.map(Row(_, 0L)), Seq("node"), "dist")
      }
    }
    // both directions in one explode pass (a self-union would re-run the
    // upstream edge derivation once per branch)
    val und = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .localCheckpoint(true)
    var visited = sources.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint(true)
    var frontier = visited
    var hop = 1
    while (hop <= maxHops) {
      // neighbors of the frontier, minus already-visited nodes
      val next = und.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint(true)
      if (next.isEmpty) {
        hop = maxHops + 1 // converged early
      } else {
        visited = visited.unionByName(next).localCheckpoint(true)
        frontier = next
        hop += 1
      }
    }
    visited
  }

  /** Per-node triangle count over an undirected simple graph.
    *
    * Input edges are canonicalized to (a < b) and deduplicated. Wedges
    * are enumerated from a DEGREE-ORDERED orientation (each edge points
    * from its lower-(degree, id) endpoint to the higher one), which
    * bounds per-node wedge fan-out by O(sqrt(|E|)) instead of O(max
    * degree) — the standard fix for the "curse of the last reducer"
    * (Suri & Vassilvitskii, WWW'11): a celebrity hub no longer emits
    * deg² wedge candidates. Each triangle is enumerated exactly once
    * (its two lowest-ordered vertices form the wedge pivot), then
    * credited to all three corners.
    *
    * @return (node, n_triangles) for nodes in at least one triangle.
    */
  def triangleCounts(edges: DataFrame,
      localCutoff: Int = SmallGraphCutoff): DataFrame = {
    val canonRaw = canonicalizeRaw(edges)
    SizeGate.localGraph(canonRaw, localCutoff) match {
      case Some((ix, ea, eb)) =>
        val cnt = localTriangles(ix, ea, eb, undirectedDeg(ix.n, ea, eb))
        localFrame(canonRaw, (0 until ix.n).collect {
          case i if cnt(i) > 0L => Row(ix.ids(i), cnt(i))
        }, Seq("node"), "n_triangles")
      case None =>
        val canon = canonRaw.localCheckpoint(true)
        triangleCountsFromCanon(canon, degOf(canon).localCheckpoint(true))
    }
  }

  /** Row cutoff of the driver fast paths of every graph kernel here
    * (BFS, triangles, clustering, k-core, link prediction, label
    * propagation, PageRank, PPR). Each takes its edges from
    * [[SizeGate.localGraph]]: when the edge list (directed with
    * multiplicity, or canonical undirected) has long or string ids and
    * fits under the cutoff, the iterative/multi-join distributed kernel
    * collapses to one in-memory pass with no further job. Results are
    * IDENTICAL by construction: triangle counts, the k-core and its
    * internal degrees, BFS distances and ranks are graph invariants or
    * order-independent long sums, the local kernels reproduce the same
    * integer arithmetic (floor division, long credit sums), and every
    * id comparison uses Spark's own order ([[SizeGate.idLess]]). Other
    * id types and larger graphs take the distributed path unchanged.
    * Cutoff sizing: 2 M edges ≈ 32 MB of probe rows — driver-sized
    * (under default maxResultSize by 30×), and the edge-iterator work
    * below it is bounded by Σ min-out-deg ≤ |E|·√|E| single-threaded
    * ops, seconds at the cutoff — the same order as the distributed
    * kernel's latency floor on a graph that small.
    */
  private[graph] val SmallGraphCutoff = 2000000

  /** A local kernel's result rows as a DataFrame: the `ids` columns
    * carry the id type of `g` (the edge frame the kernel's
    * [[SizeGate.localGraph]] indexed), then the `longs` columns.
    */
  private[graph] def localFrame(g: DataFrame, rows: Seq[Row],
      ids: Seq[String], longs: String*): DataFrame = {
    val idType = g.schema(0).dataType
    g.sparkSession.createDataFrame(rows.asJava, StructType(
      ids.map(StructField(_, idType)) ++ longs.map(StructField(_, LongType))))
  }

  /** Undirected degree per dense node: each edge counts at both ends. */
  private def undirectedDeg(n: Int, ea: Array[Int],
      eb: Array[Int]): Array[Int] = {
    val deg = new Array[Int](n)
    var e = 0
    while (e < ea.length) { deg(ea(e)) += 1; deg(eb(e)) += 1; e += 1 }
    deg
  }

  /** Undirected CSR adjacency over dense ids: (start, nbr), with node u's
    * neighbors at nbr(start(u) until start(u + 1)) in edge order.
    */
  private def undirectedCsr(n: Int, ea: Array[Int],
      eb: Array[Int]): (Array[Int], Array[Int]) = {
    val deg = undirectedDeg(n, ea, eb)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
    val nbr = new Array[Int](2 * ea.length)
    val fill = java.util.Arrays.copyOf(start, n)
    var e = 0
    while (e < ea.length) {
      nbr(fill(ea(e))) = eb(e); fill(ea(e)) += 1
      nbr(fill(eb(e))) = ea(e); fill(eb(e)) += 1
      e += 1
    }
    (start, nbr)
  }

  /** Open-addressing accumulator over packed long pair keys (0 = empty
    * sentinel): per key a wedge count and an RA-contribution sum, plus an
    * edge marker that excludes already-adjacent pairs from the output.
    * Linear probing, power-of-two capacity, grow at 70% load — all
    * primitive arrays, no boxing on the hot add path.
    */
  private final class LongPairAgg(expected: Int) {
    private var cap = Integer.highestOneBit(
      math.max(16, expected) - 1) << 2 // ≥ 2× expected, power of two
    private var keys = new Array[Long](cap)
    private var cns = new Array[Long](cap)
    private var ras = new Array[Long](cap)
    private var edge = new Array[Boolean](cap)
    private var size = 0
    private def slot(k: Long): Int = {
      val h = k * -7046029254386353131L
      var i = (h ^ (h >>> 32)).toInt & (cap - 1)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    private def grow(): Unit = {
      val ok = keys; val oc = cns; val or = ras; val oe = edge
      cap <<= 1
      keys = new Array[Long](cap); cns = new Array[Long](cap)
      ras = new Array[Long](cap); edge = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != 0L) {
          val s = slot(ok(i))
          keys(s) = ok(i); cns(s) = oc(i); ras(s) = or(i); edge(s) = oe(i)
        }
        i += 1
      }
    }
    def add(k: Long, rc: Long): Unit = {
      val i = slot(k)
      if (keys(i) == 0L) {
        keys(i) = k; size += 1
        if (size.toLong * 10L >= cap.toLong * 7L) grow()
      }
      val j = if (keys(i) == k) i else slot(k) // re-locate after a grow
      cns(j) += 1L; ras(j) += rc
    }
    def markEdge(k: Long): Unit = {
      val i = slot(k)
      if (keys(i) == 0L) { keys(i) = k; size += 1 } // edge with no wedge
      edge(i) = true
      if (size.toLong * 10L >= cap.toLong * 7L) grow()
    }
    /** Pairs with at least one wedge that are NOT existing edges. */
    def foreachPair(f: (Long, Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (keys(i) != 0L && !edge(i) && cns(i) > 0L) f(keys(i), cns(i), ras(i))
        i += 1
      }
    }
  }

  /** Edge-iterator triangle credit counts per dense node over a
    * canonical edge set: orient low→high by (deg, id), intersect sorted
    * out-neighbor arrays per oriented edge, credit all three corners —
    * the same enumeration contract as [[triangleCountsFromCanon]] (each
    * triangle found at its unique out-degree-2 corner). CSR adjacency
    * over dense ints.
    */
  private def localTriangles(ix: AnyIds, ea: Array[Int], eb: Array[Int],
      deg: Array[Int]): Array[Long] = {
    val n = ix.n; val m = ea.length
    // orientation: lower (deg, ORIGINAL id) endpoint keeps the edge
    def lowFirst(e: Int): Boolean = {
      val da = deg(ea(e)); val db = deg(eb(e))
      da < db || (da == db && idLess(ix.ids(ea(e)), ix.ids(eb(e))))
    }
    // CSR out-adjacency of the oriented graph
    val outDeg = new Array[Int](n)
    var e = 0
    while (e < m) {
      if (lowFirst(e)) outDeg(ea(e)) += 1 else outDeg(eb(e)) += 1
      e += 1
    }
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val nbr = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(start, n)
    e = 0
    while (e < m) {
      val (u, v) = if (lowFirst(e)) (ea(e), eb(e)) else (eb(e), ea(e))
      nbr(fill(u)) = v; fill(u) += 1
      e += 1
    }
    i = 0
    while (i < n) { // sorted segments → two-pointer set intersection
      java.util.Arrays.sort(nbr, start(i), start(i + 1))
      i += 1
    }
    val cnt = new Array[Long](n)
    var u = 0
    while (u < n) {
      var p = start(u)
      while (p < start(u + 1)) {
        val v = nbr(p)
        var a = start(u); var b = start(v); var c = 0L
        val ae = start(u + 1); val be = start(v + 1)
        while (a < ae && b < be) {
          if (nbr(a) < nbr(b)) a += 1
          else if (nbr(a) > nbr(b)) b += 1
          else { cnt(nbr(a)) += 1L; c += 1L; a += 1; b += 1 }
        }
        if (c > 0L) { cnt(u) += c; cnt(v) += c }
        p += 1
      }
      u += 1
    }
    cnt
  }

  /** Canonical undirected simple-graph form: (a < b), deduplicated,
    * self-loops dropped (not yet materialized — callers checkpoint when
    * taking the distributed path, and the driver fast path reads it
    * exactly once via its bounded probe).
    */
  private def canonicalizeRaw(edges: DataFrame): DataFrame = edges
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .filter(col("a") =!= col("b"))
    .distinct()

  /** Canonical form, eagerly checkpointed (every distributed-path caller
    * consumes it from at least two plan branches and Catalyst has no
    * cross-branch CSE).
    */
  private def canonicalize(edges: DataFrame): DataFrame =
    canonicalizeRaw(edges).localCheckpoint(true)

  /** Total degree per node over the canonical simple graph (both ends
    * in ONE explode pass — a self-union reads the input twice).
    */
  private def degOf(canon: DataFrame): DataFrame =
    canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Triangle kernel over an already-canonical edge set with its degree
    * table (node-sized, checkpointed by the caller — it is referenced
    * from both orientation joins, which would otherwise re-run the
    * degree aggregation twice).
    */
  private def triangleCountsFromCanon(canon: DataFrame,
      deg: DataFrame): DataFrame = {
    // orient each edge low→high by (deg, id); ties break on id so the
    // orientation is a strict total order (acyclic). The two degree
    // attaches are node-sized build sides AQE turns into broadcasts.
    val withDeg = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"),
        Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"),
        Seq("b"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("lo"),
      when(lowFirst, col("b")).otherwise(col("a")).as("hi"))
      .localCheckpoint(true)
    // EDGE-ITERATOR kernel (Chiba–Nishizeki / Schank–Wagner form) instead
    // of wedge enumeration: per oriented edge (u, v), the triangles
    // rooted at that edge are N⁺(u) ∩ N⁺(v) — every triangle has exactly
    // one out-degree-2 corner under an acyclic orientation, so each is
    // found exactly once. The former plan MATERIALIZED Σ C(out-deg, 2)
    // wedge rows through an exchange to probe the closing edge (41 M rows
    // for 1.2 M edges on the bench co-occurrence graph — guide §2.3
    // "shuffle fewer bytes"); here the adjacency arrays attach to the
    // edge list via two node-keyed joins (array volume = Σ out-deg = |E|
    // entries, AQE-broadcastable) and the intersection runs map-side.
    // Only the per-triangle CREDIT rows (3 per triangle, two of them
    // pre-aggregated into one count per edge) reach the final exchange.
    // Orientation still bounds out-deg by O(√|E|), so no array is hot.
    // collect_list order is partition-dependent but the result is not:
    // array_intersect is a set intersection and only its membership is
    // consumed (explode for the sink corner, size for the counts).
    val adj = oriented.groupBy(col("lo"))
      .agg(collect_list(col("hi")).as("nbrs"))
      .localCheckpoint(true)
    // SHUFFLE_HASH on the node-keyed adjacency sides: they hash in O(n)
    // while the edge stream is never sorted (guide §3.1; a sort-merge
    // join would sort the full edge list once per attach)
    val withW = oriented
      .join(adj.select(col("lo"), col("nbrs").as("nl"))
        .hint("shuffle_hash"), Seq("lo"))
      .join(adj.select(col("lo").as("hi"), col("nbrs").as("nh"))
        .hint("shuffle_hash"), Seq("hi"))
      .withColumn("w", array_intersect(col("nl"), col("nh")))
      .withColumn("cnt", size(col("w")).cast("long"))
      .filter(col("cnt") > 0L)
    withW
      .select(explode(concat(
        array(struct(col("lo").as("node"), col("cnt").as("c")),
          struct(col("hi").as("node"), col("cnt").as("c"))),
        transform(col("w"), x =>
          struct(x.as("node"), lit(1L).as("c"))))).as("t"))
      .select(col("t.node"), col("t.c"))
      .groupBy("node").agg(sum(col("c")).as("n_triangles"))
  }

  /** Local clustering coefficient in integer permille (Watts & Strogatz,
    * Nature 1998): cc_pm(v) = 2000·tri(v) div (deg(v)·(deg(v)−1)) over
    * the canonical undirected simple graph, for every node of degree ≥ 2
    * (the coefficient is undefined below that — such nodes are omitted,
    * matching the oracle). The permille floor keeps the whole result in
    * long arithmetic, so it hash-matches a SQL oracle bit-for-bit; the
    * IEEE-free contract every analytics-family op here carries.
    *
    * Scale shape: triangle counting via [[triangleCounts]] (degree-
    * oriented wedges — Σ min-degree fan-out, the standard bound), plus
    * one degree partial-agg and a node-keyed left join; nothing beyond
    * the triangle pass itself. Zero-triangle nodes coalesce to 0 rather
    * than dropping out.
    *
    * @return (node, deg, n_triangles, cc_pm) for nodes with deg ≥ 2.
    */
  def clusteringCoefficient(edges: DataFrame,
      localCutoff: Int = SmallGraphCutoff): DataFrame = {
    val canonRaw = canonicalizeRaw(edges)
    SizeGate.localGraph(canonRaw, localCutoff) match {
      case Some((ix, ea, eb)) =>
        val deg = undirectedDeg(ix.n, ea, eb)
        val tri = localTriangles(ix, ea, eb, deg)
        localFrame(canonRaw, (0 until ix.n).collect {
          case i if deg(i) >= 2 =>
            val d = deg(i).toLong
            // same integer permille floor as the SQL `div` (operands >= 0)
            Row(ix.ids(i), d, tri(i), (2000L * tri(i)) / (d * (d - 1L)))
        }, Seq("node"), "deg", "n_triangles", "cc_pm")
      case None =>
        // ONE canonicalization + ONE degree aggregation shared with the
        // triangle kernel
        val canon = canonicalize(edges)
        val deg = degOf(canon).localCheckpoint(true)
        val tri = triangleCountsFromCanon(canon, deg)
        deg.filter(col("deg") >= 2L)
          .join(tri, Seq("node"), "left_outer")
          .select(col("node"), col("deg"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            expr("(2000 * coalesce(n_triangles, 0)) div (deg * (deg - 1))")
              .as("cc_pm"))
    }
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which every
    * node keeps degree ≥ k, by iterative peeling — drop nodes under
    * degree k, recompute degrees over the surviving edges, repeat to the
    * fixpoint (Seidman, "Network structure and minimum degree", Social
    * Networks 1983; distributed peeling as in Montresor et al., IEEE
    * TPDS 2013). The k-core is the standard density filter a KG consumer
    * runs before community/centrality passes: it cuts the long tail of
    * weakly-attached entities that dominate edge counts but carry no
    * structure.
    *
    * Scale shape: each round is ONE degree partial-agg over the current
    * edge set plus two semi-joins (AQE-broadcast when the survivor set
    * collapses); the edge set only shrinks, so total shuffled volume is
    * bounded by rounds × |E| with a round bound that is small in
    * practice (peel depth, not diameter). Rounds are fail-loud:
    * exceeding `maxRounds` throws rather than silently returning an
    * unconverged subgraph — the oracle unrolls exactly `maxRounds`
    * rounds, and peeling is monotone, so any converged result matches
    * the unrolled SQL bit-for-bit.
    *
    * Input is treated as undirected: edges are canonicalized to (a < b)
    * and deduplicated; self-loops are dropped.
    *
    * @return (node, core_deg): the k-core's nodes with their degree
    *         INSIDE the core (all ≥ k by definition).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 10,
      localCutoff: Int = SmallGraphCutoff): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds out of range: $maxRounds")
    val canonRaw = canonicalizeRaw(edges)
    SizeGate.localGraph(canonRaw, localCutoff).foreach { case (ix, ea, eb) =>
      // driver fast path: SYNCHRONOUS peel rounds — the same round
      // structure as the distributed loop below, so the fail-loud
      // maxRounds guard fires on exactly the same inputs; the converged
      // core and its internal degrees are graph invariants either way
      val deg = undirectedDeg(ix.n, ea, eb)
      var m = ea.length // live-edge prefix length after each compaction
      var round = 0
      var anyUnder = deg.exists(d => d > 0 && d < k)
      while (anyUnder) {
        round += 1
        if (round > maxRounds)
          throw new IllegalStateException(
            s"k-core peeling did not converge in $maxRounds rounds — raise " +
              "maxRounds (and unroll the oracle to match)")
        // synchronous round: drop every edge touching an under-k node,
        // recompute degrees over the survivors (in-place compaction)
        var w = 0
        var e = 0
        while (e < m) {
          if (deg(ea(e)) >= k && deg(eb(e)) >= k) {
            ea(w) = ea(e); eb(w) = eb(e); w += 1
          }
          e += 1
        }
        m = w
        java.util.Arrays.fill(deg, 0)
        e = 0
        while (e < m) { deg(ea(e)) += 1; deg(eb(e)) += 1; e += 1 }
        anyUnder = false
        var i = 0
        while (i < deg.length && !anyUnder) {
          if (deg(i) > 0 && deg(i) < k) anyUnder = true
          i += 1
        }
      }
      return localFrame(canonRaw, (0 until ix.n).collect {
        case i if deg(i) > 0 => Row(ix.ids(i), deg(i).toLong)
      }, Seq("node"), "core_deg")
    }
    // per-round degree table: NODE-sized (checkpointed once per round so
    // the two semi-joins below never re-run the aggregation) — survivors
    // are a small build side AQE turns into broadcast semi-joins, so the
    // edge set is never shuffled for the filter, only for the degree agg
    // the under-k convergence count rides the SAME checkpoint job via
    // Dataset.observe (the connectedComponents pattern) — one job per
    // round instead of a separate filter/limit/count driver check
    var degRound = 0
    def degs(es: DataFrame): (DataFrame, Long) = {
      degRound += 1
      val obs = org.apache.spark.sql.Observation(s"kcore_$degRound")
      val d = es.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
        .observe(obs, sum(when(col("core_deg") < k, 1L).otherwise(0L))
          .as("under"))
        .localCheckpoint(true)
      val under = obs.get.get("under").map {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }.getOrElse(0L)
      (d, under)
    }
    var cur = canonicalize(edges)
    var (deg, under) = degs(cur)
    var round = 0
    while (under > 0L) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"k-core peeling did not converge in $maxRounds rounds — raise " +
            "maxRounds (and unroll the oracle to match)")
      val survivors = deg.filter(col("core_deg") >= k).select("node")
      cur = cur
        .join(survivors.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(survivors.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint(true)
      val du = degs(cur)
      deg = du._1
      under = du._2
    }
    // the converged round's degree table IS the k-core profile (every
    // node in it has degree >= k; empty when no core exists)
    deg
  }

  /** Link prediction by common-neighbor count / Jaccard coefficient
    * (Liben-Nowell & Kleinberg, "The link-prediction problem for social
    * networks", CIKM 2003): for every NON-adjacent pair (a, b) sharing
    * at least `minCommon` neighbors, emit the common-neighbor count, an
    * integer-permille Jaccard score cn·1000 div |N(a) ∪ N(b)|, and the
    * resource-allocation index (Zhou, Lü & Zhang, Eur. Phys. J. B 2009)
    * in the same permille floor form, Σ_z 1000 div deg(z) over the
    * shared neighbors z — RA down-weights hub pivots, which on real
    * graphs predicts better than the raw count. The KG consumer runs
    * this over the materialized edge table to propose missing
    * `skos:closeMatch` candidates for curation.
    *
    * Integer-exact contract: cn, uni and both permille scores are all
    * longs with floor division (RA sums per-pivot floors, so the sum of
    * longs is itself exact), so the result hash-matches a single-node
    * SQL oracle bit-for-bit at any partitioning.
    *
    * Scale shape: common neighbors are wedge counts, and every wedge
    * must be enumerated from its pivot (the shared neighbor z), so the
    * fan-out is Σ_z deg(z)² — the degree-orientation trick that fixes
    * triangles does not apply because the PAIR, not the pivot, is the
    * output key. The standard mitigation at crawl scale is a pivot
    * degree cap: a hub shared by ten million entities contributes no
    * curation signal (its Jaccard is ~0 for every pair) but dominates
    * the wedge volume. `maxPivotDeg > 0` drops pivots above the cap —
    * a DOCUMENTED under-count (scores become lower bounds); 0 keeps the
    * exact semantics the oracle checks.
    *
    * Input is treated as undirected: canonicalized to (a < b),
    * deduplicated, self-loops dropped.
    *
    * @return (a, b, cn, uni, jaccard_pm, ra_pm) with a < b. Under a
    *         pivot cap, ra_pm still divides by the pivot's TRUE degree
    *         (the cap drops hub pivots, it does not re-shape the graph).
    */
  def linkPredict(edges: DataFrame, minCommon: Long = 2L,
      minJaccardPm: Long = 0L, maxPivotDeg: Int = 0,
      localCutoff: Int = SmallGraphCutoff): DataFrame = {
    require(minCommon >= 1L, s"need minCommon >= 1, got $minCommon")
    val canonRaw = canonicalizeRaw(edges)
    SizeGate.localGraph(canonRaw, localCutoff).foreach { case (ix, ea, eb) =>
      val deg = undirectedDeg(ix.n, ea, eb)
      // wedge volume is Σ C(deg, 2), NOT bounded by the edge cutoff (one
      // hub explodes it) — size it first and keep the driver pass only
      // when the enumeration is trivially small; the distributed kernel
      // (and its maxPivotDeg dial) handles everything else
      val wedgeVol = deg.foldLeft(0L) { (s, d) =>
        val dd = if (maxPivotDeg > 0 && d > maxPivotDeg) 0L else d.toLong
        s + dd * (dd - 1L) / 2L
      }
      if (wedgeVol <= 200000000L) {
        // CSR adjacency with each segment sorted by ORIGINAL id, so a
        // wedge's pair key is (a, b) with a < b in Spark's id order
        val (start, nbr) = undirectedCsr(ix.n, ea, eb)
        val idOrder = Ordering.fromLessThan[Int]((x, y) =>
          idLess(ix.ids(x), ix.ids(y)))
        var i = 0
        while (i < ix.n) {
          val seg = nbr.slice(start(i), start(i + 1)).sorted(idOrder)
          System.arraycopy(seg, 0, nbr, start(i), seg.length)
          i += 1
        }
        // primitive open-addressing (key → cn, ra) accumulator — a boxed
        // java HashMap here cost ~1.4 µs/wedge in allocation+boxing, 15×
        // the arithmetic it wraps (measured; the wedge loop dominates the
        // fast path). Key = (denseA << 32) | denseB with a < b by original
        // id; key 0 is impossible (a pair never has both dense ids 0), so
        // 0 is the empty sentinel.
        val acc = new LongPairAgg(math.max(1024, ea.length))
        var z = 0
        while (z < ix.n) {
          val d = deg(z)
          if (maxPivotDeg <= 0 || d <= maxPivotDeg) {
            val rc = 1000L / d // deg >= 1 for every indexed node
            var p = start(z)
            while (p < start(z + 1)) {
              var q = p + 1
              while (q < start(z + 1)) {
                acc.add((nbr(p).toLong << 32) | nbr(q).toLong, rc)
                q += 1
              }
              p += 1
            }
          }
          z += 1
        }
        // mark existing edges so prediction keeps only non-adjacent pairs
        var e = 0
        while (e < ea.length) {
          // canonical pairs already have ids(ea) < ids(eb): least/greatest
          // order ids exactly as idLess does
          acc.markEdge((ea(e).toLong << 32) | eb(e).toLong); e += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        acc.foreachPair { (key, cn, ra) =>
          val ia = (key >> 32).toInt; val ib = (key & 0xffffffffL).toInt
          val uni = deg(ia).toLong + deg(ib).toLong - cn
          val jac = cn * 1000L / uni
          if (cn >= minCommon && jac >= minJaccardPm)
            out += Row(ix.ids(ia), ix.ids(ib), cn, uni, jac, ra)
        }
        return localFrame(canonRaw, out.toSeq, Seq("a", "b"),
          "cn", "uni", "jaccard_pm", "ra_pm")
      }
    }
    val canon = canonicalize(edges)
    val nbr = canon.select(col("a").as("node"), col("b").as("nbr"))
      .union(canon.select(col("b").as("node"), col("a").as("nbr")))
    val deg = nbr.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // wedges pivot at the shared neighbor: pairs of the pivot's
    // neighbors, each unordered pair enumerated once (x.nbr < y.nbr)
    val pivots =
      if (maxPivotDeg > 0)
        nbr.join(deg.filter(col("deg") <= maxPivotDeg).select("node"),
          Seq("node"), "left_semi")
      else nbr
    // each pivot row carries its RA contribution 1000 div deg(pivot) —
    // the deg join is keyed on node, the same key the wedge self-join
    // shuffles on, so it rides the existing exchange
    val pv = pivots.join(deg, Seq("node"))
      .withColumn("rc", expr("1000 div deg")).drop("deg")
    // SHUFFLE_HASH: the build side is adjacency-sized and hashes in
    // O(n); a sort-merge join would sort both copies AND stream the
    // Σ deg² wedge output through its sorted merge (guide §3.1)
    val wedges = pv.as("x").join(pv.as("y").hint("shuffle_hash"),
        col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("a"), col("y.nbr").as("b"),
        col("x.rc").as("rc"))
    val cn = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum("rc").as("ra_pm"))
    // link PREDICTION: only pairs that are not already edges
    cn.join(canon, Seq("a", "b"), "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        (col("da") + col("db") - col("cn")).as("uni"),
        expr("(cn * 1000) div (da + db - cn)").as("jaccard_pm"),
        col("ra_pm"))
      .filter(col("cn") >= minCommon && col("jaccard_pm") >= minJaccardPm)
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, Phys.
    * Rev. E 2007) with a DETERMINISTIC update rule, run for a FIXED
    * round count: every node starts labeled with its own id; each round
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the minimum label. Classic LPA breaks
    * ties randomly and updates asynchronously in a shuffled node order —
    * neither survives a distributed re-run. Fixing both (min-label ties,
    * synchronous rounds) trades some convergence speed for a result that
    * is bit-identical across partitionings AND engines, so a fixed-round
    * unrolled SQL oracle hash-matches exactly; the fixed round count
    * also sidesteps sync-LPA's known 2-cycle oscillation on bipartite
    * structures (there is no convergence test to fool).
    *
    * Scale shape: each round is one equi-join (adjacency ⋈ labels) and
    * one (node, label) partial-agg shuffle — the per-round frequency
    * table is bounded by the adjacency size, never node × label. The
    * label lineage is a pure chain, so all rounds compile into ONE Spark
    * job (the PageRank lesson: checkpointing each round costs scheduler
    * latency, not saves it); only the multi-consumer adjacency is
    * checkpointed once. The deterministic pick is one `min(struct)`
    * aggregate — negated count then label — not a window (a window would
    * floor a hot node's rows on one task; the agg is partial-aggregated
    * and AQE-splittable).
    *
    * Input is treated as undirected (canonicalized, deduplicated,
    * self-loops dropped). Isolated nodes do not appear in an edge list
    * and so are absent from the result, matching the oracle.
    *
    * @return (node, label) after exactly `rounds` synchronous rounds.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      localCutoff: Int = SmallGraphCutoff): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds out of range: $rounds")
    val canon = canonicalizeRaw(edges)
    SizeGate.localGraph(canon, localCutoff).foreach { case (ix, ea, eb) =>
      // synchronous rounds over the canonical simple graph; the pick
      // per node is (max neighbor-label count, min label) — the min
      // label under Spark's own ordering (numeric / UTF-8 binary),
      // deterministic, so rounds replay bit-identically
      val n = ix.n
      val (start, nbr) = undirectedCsr(n, ea, eb)
      var labels = Array.tabulate(n)(identity) // own id
      for (_ <- 1 to rounds) {
        val next = new Array[Int](n)
        val cnt = new java.util.HashMap[Integer, Integer]()
        var u = 0
        while (u < n) {
          cnt.clear()
          var p = start(u)
          while (p < start(u + 1)) {
            val l = labels(nbr(p))
            val c = cnt.get(l)
            cnt.put(l, if (c == null) 1 else c.intValue() + 1)
            p += 1
          }
          // (max count, min label by id order)
          var bestLbl = -1
          var bestCnt = 0
          val it = cnt.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val l = en.getKey.intValue(); val c = en.getValue.intValue()
            if (c > bestCnt || (c == bestCnt &&
                (bestLbl < 0 || idLess(ix.ids(l), ix.ids(bestLbl)))))
              { bestCnt = c; bestLbl = l }
          }
          next(u) = bestLbl // every canonical-graph node has >= 1 nbr
          u += 1
        }
        labels = next
      }
      return localFrame(canon,
        (0 until n).map(i => Row(ix.ids(i), ix.ids(labels(i)))),
        Seq("node", "label"))
    }
    // both directions in ONE pass via explode — a self-union would
    // re-execute the distinct once per branch (no cross-branch CSE)
    val nbr = canon.select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
      .select(col("e.node"), col("e.nbr"))
      .localCheckpoint(true)
    var labels = nbr.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = nbr
        .join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        // most-frequent label, min label on ties: min over the struct
        // (-count, label) — field-by-field ordering gives (max c, min l)
        .groupBy(col("node"))
        .agg(min(struct((col("c") * -1L).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("node"), col("m.l").as("label"))
    }
    labels
  }

  /** One round of neighborhood feature aggregation — GNN-style message
    * passing over an integer node feature: for every node, the count,
    * sum, min and max of the feature over its UNDIRECTED neighbors
    * (each directed edge delivers a message both ways; a node pair with
    * edges in both directions delivers twice, multigraph semantics —
    * stated so the oracle can't drift). The canonical use is feature
    * propagation over a materialized KG: rank/degree/quality of a
    * node's neighborhood as model features, one exchange per round.
    *
    * All-long arithmetic (count/sum/min/max of longs), so the output
    * hash-matches a SQL oracle for any integer feature — including the
    * fixed-point PageRank ranks from [[pageRankFixedPoint]].
    *
    * Scale shape: messages = edges ⋈ features on the sender key (both
    * directions via one union), then ONE partial-agg exchange on the
    * receiver; the final attach of the node's own feature rides the
    * same node key. No iteration state, no windows — at 100 TB this is
    * two key-partitioned passes over the edge table.
    *
    * @param features (node, `featureCol`) — one row per node
    * @return (node, feature, n_nbrs, nbr_sum, nbr_min, nbr_max); nodes
    *         absent from `edges` don't appear (no neighborhood to
    *         aggregate), matching the edge-derived node universe of the
    *         other analytics ops.
    */
  def neighborAggregate(edges: DataFrame, features: DataFrame,
      featureCol: String = "rank"): DataFrame = {
    val und = edges.select(col("src").as("from"), col("dst").as("node"))
      .unionByName(edges.select(col("dst").as("from"), col("src").as("node")))
    val msgs = und
      .join(features.select(col("node").as("from"),
        col(featureCol).as("f")), Seq("from"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_nbrs"), sum("f").as("nbr_sum"),
        min("f").as("nbr_min"), max("f").as("nbr_max"))
    msgs.join(features.select(col("node"),
      col(featureCol).as("feature")), Seq("node"))
      .select("node", "feature", "n_nbrs", "nbr_sum", "nbr_min", "nbr_max")
  }

  /** Fixed-point integer PageRank: deterministic across engines.
    *
    * Classic PageRank (Brin & Page, 1998) over doubles is NOT
    * reproducible across engines or even across partitionings — float
    * summation order differs. This variant runs the same recurrence in
    * scaled integer arithmetic (ranks are multiples of 1/`scale`):
    *
    *   rank'(v) = floor(0.15 * scale) + floor(0.85 * Σ_{u→v} floor(rank(u) / outdeg(u)))
    *
    * with damping fixed at 85/100 and NO dangling-mass redistribution
    * (sinks absorb; documented semantics, matching the oracle SQL).
    * All quantities are non-negative longs, every division is Spark's
    * exact integer `div` (NOT `/`, which is double division whose
    * rounding can cross an integer boundary the oracle's `//` floors
    * under), and integer addition is order-independent — so a DuckDB
    * unrolled self-join reproduces the result bit-for-bit. Truncation
    * error is bounded by iters × maxDegree / scale, negligible at the
    * default scale=1e9 (which also leaves in_mass × 85 ~8 decimal
    * orders of long headroom for in-degrees up to ~1e8).
    *
    * Each iteration is one equi-join (edges ⋈ ranks on src) + one
    * partial-agg shuffle on dst. The rank lineage is a pure CHAIN (each
    * iteration consumes the previous exactly once), so the whole
    * recurrence compiles into ONE Spark job — no per-round checkpoint
    * materialization, no no-CSE blowup. Only the multi-consumer inputs
    * (the pre-joined edge×out-degree table and the node list, each read
    * every iteration) are checkpointed once up front.
    *
    * @return (node, rank) with rank an integer multiple of 1/scale.
    */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000000L,
      localCutoff: Int = SmallGraphCutoff): DataFrame =
    fixedPointRank(edges, None, iters, scale, localCutoff)

  /** Personalized PageRank in the same integer fixed-point arithmetic as
    * [[pageRankFixedPoint]]: teleport mass lands ONLY on the seed set,
    * so ranks measure importance *relative to the seeds* — the standard
    * KG read-side op for entity disambiguation and seed-conditioned
    * neighborhood ranking (rank candidates by their PPR from the
    * query's anchor entities). Recurrence per round, all-long:
    *
    *   rank(v) = [v ∈ seeds]·(scale·15 div 100)
    *           + (Σ_{u→v} rank(u) div out_deg(u)) · 85 div 100
    *
    * with rank₀ = scale on seeds, 0 elsewhere. No per-seed
    * normalization (ranks are a relative order; dividing by |seeds|
    * would cost integer precision for nothing). When seeds = all
    * nodes this is EXACTLY [[pageRankFixedPoint]] — the property the
    * spec pins.
    *
    * Scale shape: identical to the global ranks — the seed flag joins
    * the node frame ONCE (checkpointed, reused every round), each round
    * is one edge⋈rank equi-join + one partial-agg exchange on the
    * receiver, all rounds compile into one job. Determinism: integer
    * div floors identically everywhere, so the output hash-matches an
    * unrolled SQL oracle.
    *
    * @param seeds (node) — rows whose node ids get teleport mass; ids
    *              absent from the edge universe are ignored.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 10, scale: Long = 1000000000L,
      localCutoff: Int = SmallGraphCutoff): DataFrame =
    fixedPointRank(edges, Some(seeds), iters, scale, localCutoff)

  /** The one fixed-point rank loop behind [[pageRankFixedPoint]]
    * (`seeds = None`: every node seeded) and [[personalizedPageRank]].
    * The local path runs [[localRank]] on the directed edge list with
    * multiplicity (parallel edges contribute per occurrence, exactly as
    * the distributed join does); without seeds it skips the seed probe,
    * and the distributed path skips the seed join.
    */
  private def fixedPointRank(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, scale: Long, localCutoff: Int): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    val g = edges.select(col("src"), col("dst"))
    SizeGate.localGraph(g, localCutoff).foreach { case (ix, ea, eb) =>
      // seed rows outside the edge-derived universe are ignored, exactly
      // like the distributed left join onto the node frame
      val seedMask: Option[Array[Boolean]] = seeds match {
        case None => Some(null) // every node seeded, nothing to probe
        case Some(sd) =>
          SizeGate.collectIfSmall(sd.select(col("node")).distinct(),
              localCutoff).map { seedRows =>
            val mask = new Array[Boolean](ix.n)
            seedRows.foreach { r =>
              val got = ix.index.get(r.get(0))
              if (got != null) mask(got.intValue()) = true
            }
            mask
          }
      }
      seedMask.foreach { mask =>
        val ranks = localRank(ix.n, ea, eb, iters, scale, mask)
        return localFrame(g, (0 until ix.n).map(i => Row(ix.ids(i), ranks(i))),
          Seq("node"), "rank")
      }
    }
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    // without seeds the flag is a literal added after the checkpoint, so
    // Catalyst folds the per-round `when` away
    val nodeSeed = seeds match {
      case None => nodes.localCheckpoint(true).withColumn("is_seed", lit(true))
      case Some(sd) => nodes
        .join(sd.select(col("node")).distinct()
          .withColumn("__is_seed", lit(true)), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__is_seed"), lit(false)).as("is_seed"))
        .localCheckpoint(true)
    }
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // (src, dst, out_deg), consumed once per iteration → checkpoint once
    val edgesWithDeg = edges.join(outDeg, Seq("src"))
      .localCheckpoint(true)
    val base = scale * 15L / 100L
    var ranks = nodeSeed.select(col("node"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edgesWithDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank div out_deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass"))
      ranks = nodeSeed.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr("(coalesce(in_mass, 0L) * 85) div 100")).as("rank"))
    }
    ranks
  }

  /** The exact integer PageRank recurrence on dense arrays. With
    * `seedMask == null` every node is seeded (global fixed-point PR);
    * otherwise only masked nodes carry teleport mass (PPR). Long sums
    * are order-independent, so this is bit-identical to the
    * distributed recurrence.
    */
  private def localRank(n: Int, ea: Array[Int], eb: Array[Int],
      iters: Int, scale: Long, seedMask: Array[Boolean]): Array[Long] = {
    val outDeg = new Array[Long](n)
    var e = 0
    while (e < ea.length) { outDeg(ea(e)) += 1L; e += 1 }
    val base = scale * 15L / 100L
    var rank = new Array[Long](n)
    var i = 0
    while (i < n) {
      rank(i) = if (seedMask == null || seedMask(i)) scale else 0L
      i += 1
    }
    for (_ <- 1 to iters) {
      val inMass = new Array[Long](n)
      e = 0
      while (e < ea.length) {
        inMass(eb(e)) += rank(ea(e)) / outDeg(ea(e)); e += 1
      }
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        val b = if (seedMask == null || seedMask(i)) base else 0L
        next(i) = b + inMass(i) * 85L / 100L
        i += 1
      }
      rank = next
    }
    rank
  }
}
