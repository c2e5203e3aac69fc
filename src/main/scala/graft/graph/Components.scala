package graft.graph

import graft.core._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Mapping graph construction and connected-component canonicalization.
  *
  * Re-expresses the reference's networkx digraph + SCC split
  * (reference: src/sssom/cliques.py:32-117) as a distributed iterative
  * connected-components over an edge DataFrame.
  *
  * Edge directions per predicate class (cliques.py:46-66): equivalence
  * predicates (equivalentClass/exactMatch/closeMatch) add both directions;
  * subClassOf/broadMatch add object→subject; narrowMatch subject→object;
  * everything else adds no edge.
  *
  * SCC-vs-CC at scale: equivalence edges are bidirectional, so SCC over
  * them equals undirected CC. One-directional sub/super edges only merge
  * components when a directed cycle exists; we resolve those with a
  * component-level mutual-reachability merge loop after the CC pass (the
  * common ontology-mapping case — long directed cycles spanning >2
  * components would need full distributed SCC, which the input shape does
  * not produce; singleton SCCs match by construction).
  *
  * Scale: one CC kernel. Edge sets up to the [[SizeGate]] cutoff take a
  * driver-side union-find; larger ones run large-star/small-star, which
  * converges in O(log² n) rounds regardless of component diameter. Each
  * round is materialized once; `localCheckpoint` truncates lineage per
  * round (SURVEY §2.9).
  */
object Components {
  import Schema._

  /** mapping rows → directed edge list (src, dst). */
  def toEdges(df: DataFrame): DataFrame = {
    val p = col(PredicateId)
    val bidirectional = p.isin(OwlEquivalentClass, SkosExactMatch, SkosCloseMatch)
    val objToSubj = p.isin(RdfsSubclassOf, SkosBroadMatch)
    val subjToObj = p.isin(SkosNarrowMatch)
    val s = col(SubjectId); val o = col(ObjectId)
    val edges = array(
      when(bidirectional || subjToObj, struct(s.as("src"), o.as("dst"))),
      when(bidirectional || objToSubj, struct(o.as("src"), s.as("dst"))))
    df.select(explode(edges).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src"), col("e.dst"))
  }

  /** Undirected connected components: the one CC kernel.
    *
    * The input is reduced once to its distinct undirected edges
    * `(least(src, dst), greatest(src, dst))`, self-loops kept. At most
    * `localCutoff` of them (long or string ids) take a driver-side
    * union-find through [[SizeGate.localGraph]]: near-dup pair sets are
    * a small fraction of the corpus, and Spark rounds at that size are
    * pure scheduler latency. Larger sets run alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14), which converges in O(log² n) rounds whatever the component
    * diameter. Each round is partial-agg groupBys plus equi-joins,
    * materialized once; no giant component concentrates on one task.
    * Labels are identical either way: the union keeps the smaller root
    * under Spark's own id order ([[SizeGate.idLess]]). `localCutoff = 0`
    * forces the distributed rounds.
    *
    * @return (node, component) for every edge endpoint, with component =
    *         the component's min member id.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30,
      localCutoff: Int = 1000000): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).distinct()

    SizeGate.localGraph(und, localCutoff).foreach { case (ix, ea, eb) =>
      val parent = Array.tabulate(ix.n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) {
          parent(x) = parent(parent(x)) // path halving
          x = parent(x)
        }
        x
      }
      var e = 0
      while (e < ea.length) {
        val a = find(ea(e)); val b = find(eb(e))
        if (a != b) {
          if (SizeGate.idLess(ix.ids(a), ix.ids(b))) parent(b) = a
          else parent(a) = b
        }
        e += 1
      }
      return Analytics.localFrame(und,
        (0 until ix.n).map(i => Row(ix.ids(i), ix.ids(find(i)))),
        Seq("node", "comp"))
    }

    // distributed path. Every round materializes its edge set once; the
    // convergence checksum over the non-self-loop rows rides the same job
    // via Dataset.observe. The checksum sum is decimal: ANSI mode throws
    // on long overflow.
    val loopFree = col("src") =!= col("dst")
    def checkpoint(d: DataFrame, name: String): (DataFrame, (Long, String)) = {
      val obs = org.apache.spark.sql.Observation(name)
      val m = d.observe(obs, count(when(loopFree, lit(1))).as("n"),
        sum(when(loopFree, xxhash64(col("src"), col("dst")))
          .cast("decimal(27,0)")).as("h")).localCheckpoint(true)
      val r = obs.get
      (m, (r("n").asInstanceOf[Long], String.valueOf(r("h"))))
    }

    def largeStar(d: DataFrame): DataFrame = {
      val nbrs = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      // attach every neighbor LARGER than u to u's minimum
      nbrs.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(loopFree)
        .distinct()
    }

    def smallStar(d: DataFrame): DataFrame = {
      val oriented = d.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      // attach u and all its smaller neighbors to the overall minimum
      val fromNbrs = oriented.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
      val fromSelf = mins.select(col("u").as("src"), col("m").as("dst"))
      fromNbrs.union(fromSelf)
        .filter(loopFree)
        .distinct()
    }

    val (all, sum0) = checkpoint(und, "cc_0")
    var e = all.filter(loopFree)
    var prev = sum0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      val (next, cur) = checkpoint(smallStar(largeStar(e)), s"cc_$iter")
      converged = cur == prev
      e = next; prev = cur
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "refusing to return labels from an unconverged edge set; raise " +
          "maxIter (expected rounds grow O(log² n))")
    // fixpoint: every edge is (node → component root); self-loop-only
    // endpoints are their own root
    e.select(col("src").as("node"), col("dst").as("comp"))
      .union(e.select(col("dst").as("node"), col("dst").as("comp")))
      .union(all.filter(col("src") === col("dst"))
        .select(col("src").as("node"), col("dst").as("comp")))
      .groupBy("node").agg(min("comp").as("comp"))
  }

  /** Component labels for a mapping set, including the directed-cycle merge
    * described above. Nodes with only directed edges still get a label
    * (their own singleton unless a cycle merges them).
    */
  def componentLabels(df: DataFrame, assumeUndirected: Boolean = false): DataFrame = {
    // the undirected fast path uses the edges exactly once (CC input), so
    // the checkpoint would be a pure extra job there
    val edges =
      if (assumeUndirected) toEdges(df)
      else toEdges(df).localCheckpoint(true)
    // seed CC with the undirected (reciprocal) subgraph: a directed edge
    // whose reverse is also present behaves undirected. When the caller
    // guarantees undirected edges (e.g. exactMatch-only graphs), skip the
    // reciprocal check and the directed-cycle merge loop entirely — fewer
    // fixed-cost jobs in the hot path.
    val reciprocal =
      if (assumeUndirected) edges
      else edges.intersect(
        edges.select(col("dst").as("src"), col("src").as("dst")))
    val cc = connectedComponents(reciprocal)
    // in the undirected case every node of df IS an edge endpoint, so the
    // CC labels are already complete — skip the widening join
    var labels =
      if (assumeUndirected) cc
      else {
        val allNodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))
          .union(df.select(col(SubjectId).as("node")))
          .union(df.select(col(ObjectId).as("node")))
          .distinct()
        allNodes.join(cc, Seq("node"), "left")
          .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
          .localCheckpoint(true)
      }

    // component-level condensation: merge components linked by a directed
    // 2-cycle (u→v and v→u across components); iterate to a fixpoint
    // every pass that finds a mutual pair merges at least two components,
    // so the loop ends within (#components - 1) passes
    var done = assumeUndirected
    while (!done) {
      val lSrc = labels.select(col("node").as("src"), col("comp").as("c_src"))
      val lDst = labels.select(col("node").as("dst"), col("comp").as("c_dst"))
      val compEdges = edges.join(lSrc, "src").join(lDst, "dst")
        .select(col("c_src"), col("c_dst"))
        .filter(col("c_src") =!= col("c_dst")).distinct()
      val mutual = compEdges.intersect(
        compEdges.select(col("c_dst").as("c_src"), col("c_src").as("c_dst")))
      if (mutual.isEmpty) done = true
      else {
        val merged = connectedComponents(
          mutual.select(col("c_src").as("src"), col("c_dst").as("dst")))
        labels = labels.join(
          merged.select(col("node").as("comp"), col("comp").as("newComp")),
          Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("newComp"), col("comp")).as("comp"))
          .localCheckpoint(true)
      }
    }
    labels
  }

  /** Assign each mapping to its subject's component
    * (reference cliques.py:110-116) and return df + `component` column.
    */
  def assignComponents(df: DataFrame): DataFrame = {
    val labels = componentLabels(df)
    df.join(labels.withColumnRenamed("node", SubjectId)
      .withColumnRenamed("comp", "component"), Seq(SubjectId), "left")
  }

  /** Per-component summary statistics (reference `summarize_cliques`,
    * src/sssom/cliques.py:142-214): one groupBy, all-builtin aggregates;
    * harmonic mean = n / sum(1/x).
    */
  def summarizeCliques(df: DataFrame): DataFrame = {
    val withComp = assignComponents(df)
    val prefix = (c: org.apache.spark.sql.Column) =>
      when(c.contains(":"), split(c, ":", 2).getItem(0)).otherwise(c)
    withComp
      .withColumn("__subj_src", prefix(col(SubjectId)))
      .withColumn("__obj_src", prefix(col(ObjectId)))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("num_mappings"),
        size(array_distinct(flatten(collect_list(
          array(col(SubjectId), col(ObjectId)))))).as("num_members"),
        array_join(array_sort(array_distinct(flatten(collect_list(
          array(col(SubjectId), col(ObjectId)))))), "|").as("members"),
        max(col(Confidence)).as("max_confidence"),
        min(col(Confidence)).as("min_confidence"),
        avg(col(Confidence)).as("avg_confidence"),
        countDistinct(col("__subj_src")).as("num_subject_sources"),
        countDistinct(col("__obj_src")).as("num_object_sources"))
  }
}
