package graft.graph

import graft.core._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

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
  * Scale: min-label propagation converges in O(max component diameter)
  * rounds; mapping cliques are shallow. Each round is one shuffle on the
  * node id; `localCheckpoint` truncates lineage per round (SURVEY §2.9).
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

  /** Undirected connected components by iterative min-label propagation.
    *
    * Inputs of at most `localCutoff` distinct undirected edges (long or
    * string ids) take a driver-side union-find through [[SizeGate]]:
    * near-dup pair sets are a small fraction of the corpus, and O(diameter)
    * Spark rounds at that size are pure scheduler latency. Labels are
    * identical either way: the union keeps the smaller root under Spark's
    * own id order ([[SizeGate.idLess]]), so every root is its component's
    * min member. `localCutoff = 0` forces the distributed rounds.
    *
    * @return (node, component) with component = lexicographic min member id.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      alreadySymmetric: Boolean = false,
      localCutoff: Int = 1000000): DataFrame = {
    // undirected view + dedup once up front (skip the reverse union when
    // the caller guarantees symmetric input — e.g. equivalence edges)
    val und0 =
      if (alreadySymmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val undDistinct = und0.distinct()

    val idType = undDistinct.schema("src").dataType
    val small =
      if (SizeGate.idTypeSupported(idType))
        SizeGate.collectIfSmall(undDistinct, localCutoff)
      else None
    small.foreach { rows =>
      val (ix, ea, eb) = SizeGate.AnyIds.ofEdges(rows)
      val parent = Array.tabulate(ix.n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) {
          parent(x) = parent(parent(x)) // path halving
          x = parent(x)
        }
        x
      }
      // labels cover src endpoints only, like the distributed groupBy(src)
      val isSrc = new Array[Boolean](ix.n)
      var e = 0
      while (e < ea.length) {
        isSrc(ea(e)) = true
        val a = find(ea(e)); val b = find(eb(e))
        if (a != b) {
          if (SizeGate.idLess(ix.ids(a), ix.ids(b))) parent(b) = a
          else parent(a) = b
        }
        e += 1
      }
      val out = new java.util.ArrayList[Row]()
      var i = 0
      while (i < ix.n) {
        if (isSrc(i)) out.add(Row(ix.ids(i), ix.ids(find(i))))
        i += 1
      }
      return edges.sparkSession.createDataFrame(out, StructType(Seq(
        StructField("node", idType), StructField("comp", idType))))
    }

    // distributed path: the loop re-reads the edge set every round, so
    // materialize it once
    val und = undDistinct.localCheckpoint(true)

    // round 1 fused into initialization: label = min(self, direct
    // neighbors) — one job instead of init-checkpoint + first iteration
    var labels = und
      .groupBy(col("src").as("node"))
      .agg(least(min(col("dst")), first(col("src"))).as("comp"))
      .localCheckpoint(true)

    var converged = false
    var iter = 1
    while (!converged && iter < maxIter) {
      // min neighbor label per node, folded with the old label; the
      // convergence count rides the SAME materialization job via
      // Dataset.observe — one Spark job per round total
      val obs = org.apache.spark.sql.Observation(s"cc_$iter")
      val nbrMin = und.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min("comp").as("nbr_comp"))
        .withColumnRenamed("dst", "node")
      val updated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("changed"))
        .observe(obs, sum(col("changed").cast("long")).as("changes"))
        .localCheckpoint(true)
      val changes = obs.get.get("changes").map {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }.getOrElse(0L)
      labels = updated.drop("changed")
      converged = changes == 0
      iter += 1
    }
    if (!converged)
      // diameter exceeded the round cap — labels would be silently wrong
      throw new IllegalStateException(
        s"min-label CC did not converge in $maxIter rounds (graph diameter " +
          "too large) — use connectedComponentsStar, which converges in " +
          "O(log² n) rounds regardless of diameter")
    labels
  }

  /** Undirected connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale path for DEEP graphs: converges in
    * O(log² n) rounds independent of component diameter, where min-label
    * propagation needs O(diameter) rounds. Each half-round is a
    * partial-agg groupBy + an equi-join (AQE-splittable); no giant
    * component ever concentrates on one task. Mapping cliques are
    * shallow, so `connectedComponents` stays the default; this is the
    * drop-in alternative when components may be long chains.
    *
    * @return (node, component) with component = min member id, for every
    *         edge endpoint (same contract as `connectedComponents`).
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)

    def checksum(d: DataFrame): (Long, String) = {
      // decimal sum: ANSI mode throws on long overflow
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(27,0)")))
        .collect()(0)
      (r.getLong(0), String.valueOf(r.get(1)))
    }

    def largeStar(d: DataFrame): DataFrame = {
      val nbrs = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      // attach every neighbor LARGER than u to u's minimum
      nbrs.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
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
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    var prev = checksum(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "refusing to return labels from an unconverged edge set; raise " +
          "maxIter (expected rounds grow O(log² n))")
    // fixpoint: every edge is (node → component root)
    e.select(col("src").as("node"), col("dst").as("comp"))
      .union(e.select(col("dst").as("node"), col("dst").as("comp")))
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
    // guarantees symmetric edges (e.g. exactMatch-only graphs), skip the
    // reciprocal check and the directed-cycle merge loop entirely — fewer
    // fixed-cost jobs in the hot path.
    val reciprocal =
      if (assumeUndirected) edges
      else edges.intersect(
        edges.select(col("dst").as("src"), col("src").as("dst")))
    val cc = connectedComponents(reciprocal,
      alreadySymmetric = assumeUndirected)
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
    var done = assumeUndirected
    var guard = 0
    while (!done && guard < 10) {
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
          merged.withColumnRenamed("node", "comp")
            .withColumnRenamed("comp", "newComp"), Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("newComp"), col("comp")).as("comp"))
          .localCheckpoint(true)
        guard += 1
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
