package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape audits: the properties the 100 TB posture depends on,
  * asserted against Catalyst's optimized/physical plans rather than
  * taken on faith — filter pushdown and column pruning reaching the
  * Parquet scans, broadcast joins where a side is dimension-sized, the
  * reconcile shuffling once and joining nothing, and the simhash
  * banding staying aggregation-free after the join (the r2 dedup-shuffle
  * finding). Tests over the testdata directory are skipped when it is
  * absent.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def has: Boolean =
    new java.io.File(s"$dir/lineitem.parquet").exists()
  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  private def logical(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("filter pushdown reaches the parquet scan (q_embed_topk query side)") {
    assume(has)
    val p = physical(SparkEntry.queries("q_embed_topk")(spark, dir))
    assert(p.contains("LessThan(vec_id,5)"),
      "vec_id < 5 must appear in PushedFilters at the scan")
  }

  test("column pruning: token-count scan reads only doc_id and text") {
    assume(has)
    val p = physical(SparkEntry.queries("q_doc_token_count")(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must not read lang/source/n_chars:\n${p.take(2000)}")
  }

  test("anti-join remove broadcasts the removal side") {
    assume(has)
    val p = physical(SparkEntry.queries("q_anti_remove")(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "removal keys are dimension-sized and must broadcast")
  }

  test("reconcile: one (subject, object) exchange, no join; window query windows") {
    // over a checkpointed input, so every exchange in the plan is the
    // reconcile's own; AQE on is the headline setting, off the scaling one
    val in = graft.io.SssomTsv.read(spark,
      getClass.getResource("/sssom/basic.tsv").getPath).df.localCheckpoint()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.adaptive.enabled", on)
      Seq(false, true).foreach { ignorePredicate =>
        val df = graft.ops.MergeReconcile.filterRedundantRows(in, ignorePredicate)
        df.collect()
        // AQE prints its final plan, then the initial one: audit the final
        val p = physical(df).split("== Initial Plan ==")(0)
        val exchanges = "Exchange [a-z]+partitioning\\([^)]*\\)".r
          .findAllIn(p).toSeq
        assert(exchanges.size == 1 && exchanges.head.matches(
          "Exchange hashpartitioning\\(subject_id#\\d+, object_id#\\d+, \\d+\\)"),
          s"AQE $on, ignorePredicate $ignorePredicate:\n$p")
        assert(!p.contains("Join"), p)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assume(has)
    assert(logical(SparkEntry.queries("q_window_max_filter")(spark, dir))
      .contains("Window"))
  }

  test("simhash banding: no aggregate/dedup anywhere in the plan") {
    assume(has)
    val l = logical(SparkEntry.queries("q_doc_simhash_neardup")(spark, dir))
    assert(!l.contains("Aggregate") && !l.contains("Deduplicate"),
      "canonical-route filter must replace the pair-dedup shuffle")
  }

  test("brute-force cosine broadcasts the query side") {
    assume(has)
    val p = physical(SparkEntry.queries("q_embed_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the small query set must broadcast, never shuffle the corpus")
  }

  test("keyStats never re-scans the input for its denominator") {
    assume(has)
    // the per-key aggregate is checkpointed and BOTH consumers (total-row
    // denominator, TakeOrdered topN) read the checkpoint — the executed
    // plan must contain no parquet scan at all (the one real scan happens
    // inside the eager checkpoint; the old df.count() denominator cost a
    // second full pass, r4 verdict finding #5)
    val p = physical(SparkEntry.queries("q_skew_key_audit")(spark, dir))
    assert(!p.contains("Scan parquet"),
      s"keyStats result must read the checkpointed agg only:\n${p.take(1500)}")
  }

  test("nearDupDedup label attach carries no forced broadcast hint") {
    // at crawl scale the label table is 30-50% of the corpus — a forced
    // broadcast there is a driver OOM at 100×; the join must reach the
    // optimizer hint-free so AQE picks broadcast only when labels fit
    // (r4 verdict finding #3; Curation.curate made this call already)
    import spark.implicits._
    val docs = (1L to 10L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = graft.dedup.Dedup.nearDupDedup(docs, pairs)
    val l = out.queryExecution.optimizedPlan.toString
    assert(!l.contains("strategy=broadcast"),
      s"label join must not carry a broadcast hint:\n${l.take(1500)}")
    // and the decision output is still right under the hint-free plan
    val keep = out.collect().filter(_.getAs[Boolean]("keep"))
      .map(_.getAs[Long]("doc_id")).sorted
    assert(keep.toSeq == Seq(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
  }

  test("linkFuzzy plans one UDF + explode over its input: no join, no " +
      "shuffle join, no aggregate") {
    import spark.implicits._
    // repartition defeats ConvertToLocalRelation constant-folding so the
    // linker's own operators are actually planned
    val mentions = Seq(("c1", 0, "protein kinase alpha"),
      ("c1", 1, "gamma receptor site"))
      .toDF("conv_id", "turn_idx", "mention").repartition(2)
    val dict = Seq(("C:1", "protein kinase alpha", "pk"),
      ("C:2", "gamma receptor", "gr"))
      .toDF("concept_id", "label", "synonyms").repartition(2)
    val p = graft.kg.Linker.linkFuzzy(mentions, dict)
      .queryExecution.executedPlan.toString
    Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastHashJoin", "HashAggregate").foreach { op =>
      assert(!p.contains(op), s"linkFuzzy plans a $op:\n${p.take(1500)}")
    }
    assert(p.contains("Generate"), s"no explode in:\n${p.take(1500)}")
  }

  test("KG analytics family: every plan stays equi-join (no cartesian)") {
    assume(has)
    Seq("q_kg_degree", "q_kg_bfs", "q_kg_pagerank", "q_kg_triangles",
      "q_kg_cc_incremental", "q_kg_link_predict", "q_kg_labelprop",
      "q_kg_ppr", "q_kg_neighbor_agg")
      .foreach { q =>
        val p = physical(SparkEntry.queries(q)(spark, dir))
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a cartesian:\n${p.take(1500)}")
      }
    // the deterministic-pick stages stay agg-shaped, never a window: a
    // window would floor a hot node's rows on one task (the reconcile
    // lesson), while min(struct) partial-aggregates and AQE-splits
    assert(!logical(SparkEntry.queries("q_kg_labelprop")(spark, dir))
      .contains("Window"),
      "labelPropagation's label pick must stay min(struct), not a window")
  }

  test("windowed funnel: every stage is a hash semi-join on the user key " +
      "(range predicate rides as residual, never a nested loop), and the " +
      "step filter reaches the scan") {
    assume(has)
    // audit the unmaterialized lineage: the production form checkpoints
    // each stage eagerly, which hides the stage joins from the final plan
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val p = physical(graft.ops.Funnel.funnelCounts(ev,
      Seq("signup", "click", "purchase"), 28800000000L,
      "user_id", "event_type", "ts", materialize = false))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"funnel stage joins must extract the user equi-key:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"), "stages must be semi-joins")
    assert(p.contains("EqualTo(event_type,signup)"),
      "the per-stage type filter must reach PushedFilters")
  }

  test("no cartesian in any doc/embed headline plan except the documented " +
      "exact baselines") {
    assume(has)
    // q_embed_topk and q_embed_neardup are the deliberate O(n²) exact
    // baselines (broadcast one side; they anchor the DuckDB oracles and
    // the LSH witnesses); every other doc/embed operator must plan as
    // bucketed equi-joins — a cartesian that sneaks into an LSH path is
    // exactly the shape that dies at corpus scale
    // q_embed_neardup_dedup composes the exact pair arm (its oracle
    // anchor) — the cross join hides behind the CC checkpoint boundary,
    // so the plan string can't see it; exempted explicitly for honesty.
    // Its scale path is the same composition over the LSH pair arm.
    // q_doc_bpe_merges trains before planning: exclude it from a
    // plan-string sweep (its result is a local merge table — the
    // per-iteration plans are the pair agg + TakeOrdered shapes the
    // BpeTrainSpec equality proof executes end-to-end anyway)
    val exempt = Set("q_embed_topk", "q_embed_neardup",
      "q_embed_neardup_dedup", "q_doc_bpe_merges")
    Bench.headline
      .filter(q => q.startsWith("q_doc_") || q.startsWith("q_embed_"))
      .filterNot(exempt)
      .foreach { q =>
        val p = physical(SparkEntry.queries(q)(spark, dir))
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a cartesian:\n${p.take(1500)}")
      }
  }

  test("debounce plans exactly one exchange (the window shuffle)") {
    assume(has)
    val p = physical(SparkEntry.queries("q_event_debounce")(spark, dir))
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one window shuffle, got $exchanges:\n" +
      p.take(1500))
    assert(p.contains("Window"), "lag must plan as a window, not a join")
  }

  test("attribution is one window pass: one exchange, no join") {
    assume(has)
    val p = physical(SparkEntry.queries("q_event_attribution")(spark, dir))
    // the t() helper's small-file spread adds a RoundRobin exchange at
    // test scale; the operator itself owns exactly one (user-key hash)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected the single user-key shuffle, got " +
      s"$exchanges:\n" + p.take(1500))
    assert(p.contains("Window"), "running max must plan as a window")
    assert(!p.contains("Join"),
      "a touches×conversions join defeats the carry-forward design")
    // the type filter must reach the parquet scan
    assert(p.contains("PushedFilters") && p.contains("In(event_type"),
      "event-type pruning must push to the scan")
  }

  test("neighborAggregate plans equi-joins only, with partial aggregation " +
      "before the receiver exchange") {
    assume(has)
    val p = physical(SparkEntry.queries("q_kg_neighbor_agg")(spark, dir))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      "message passing must stay equi-join")
    // map-side combine: a partial_count must appear (messages combine
    // before the receiver-key exchange)
    assert(p.contains("partial_count") || p.contains("partial count"),
      "expected partial aggregation on the message pass:\n" + p.take(1500))
  }

  test("co-mention pairs are generated map-side: no self-join on " +
      "conv_id, cf attaches by broadcast") {
    assume(has)
    val p = physical(SparkEntry.queries("q_kg_comentions")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "pair stage must not blow up")
    // the pair explode comes from the per-conv array (Generate), never a
    // link-table self-join keyed on conv_id
    assert(p.contains("Generate explode"),
      "expected map-side pair generation via explode")
    assert(!p.contains("SortMergeJoin [conv_id") &&
      !p.contains("ShuffledHashJoin [conv_id"),
      "a conv_id self-join defeats the map-side pair design")
  }

  test("anomaly: the only corpus-sized exchange is the count aggregate") {
    assume(has)
    val p = physical(SparkEntry.queries("q_event_anomaly")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // exactly one scan of the events parquet: median/MAD run over the
    // localCheckpointed counts, never re-reading the corpus
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected at most one corpus scan, got $scans:\n" +
      p.take(1200))
  }

  test("quality calibration: rank window runs over the counts table, " +
      "never the corpus, and the map-back stays equi-join") {
    assume(has)
    val p = physical(
      SparkEntry.queries("q_doc_quality_calibrated")(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "map-back must stay an equi-join")
    // the window's direct child chain must contain the count aggregate —
    // i.e. the per-source sort feeds distinct-score rows, not documents
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && aggIdx > winIdx,
      "expected the rank window above the (source, score) count " +
        s"aggregate:\n${p.take(1500)}")
  }

  test("sourceJaccardKmv never rescans the corpus after the sketch " +
      "materializes; its only non-equi join is the bounded source-pair " +
      "cross") {
    assume(has)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = physical(
      graft.dedup.OverlapSketch.sourceJaccardKmv(docs, sketchK = 32))
    // everything downstream feeds off the one materialized S·k sketch
    assert(!p.contains("Scan parquet"),
      s"pairwise combine must read the checkpointed sketch only:\n" +
        p.take(1500))
    // the source×source inequality cross materializes once (S² rows over
    // an enumerable dimension) — the executed combine plan is pure
    // equi-join + window
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pairwise combine must consume the materialized pair table:\n" +
        p.take(1500))
  }

  test("lengthOutlierTrim is one window pass over the scan") {
    assume(has)
    val p = physical(SparkEntry.queries("q_doc_length_outliers")(spark, dir))
    assert(p.contains("Window"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string," +
      "source:string>"),
      s"scan must prune to the three consumed columns:\n${p.take(2000)}")
  }
}
