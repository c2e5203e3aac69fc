package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SparkUtil
import graft.dedup.Dedup
import graft.text.TextOps

/** End-to-end corpus curation — the composition that turns the library's
  * individual filters into ONE auditable pipeline decision per document,
  * the table a training-data run actually consumes (and the lineage a
  * data audit asks for: not just *which* documents were dropped, but *at
  * which stage and why*).
  *
  * Stage order (first failing stage wins, the standard funnel
  * semantics):
  *
  *   1. `exact_dup`     — not the canonical (min doc_id) row of its
  *                        normalized-text fingerprint group
  *   2. `quality`       — fails the Gopher lexical rules (word count,
  *                        mean word length, alpha fraction, symbol
  *                        ratio, stop-word hits)
  *   3. `repetition`    — fails the Gopher repetition thresholds
  *                        (top-n-gram mass / duplicate-n-gram coverage)
  *   4. `contaminated`  — shares a `decontamK`-gram with the held-out
  *                        benchmark set
  *   5. `near_dup`      — in a near-duplicate cluster (n-gram Jaccard ≥
  *                        threshold, transitive closure) and not its
  *                        min-id representative
  *   6. `kept`
  *
  * Stages 1–4 are per-document-independent flags; stage 5 is computed
  * over the stage-1..4 SURVIVORS only — a near-dup pair with an
  * already-dropped document must not drop the survivor. That dependence
  * is what makes the funnel a real composition rather than five
  * independent columns, and it is why the whole operator (including the
  * transitive closure, as a recursive CTE) is DuckDB-oracle-checked
  * end-to-end: every stage reuses a pair-exact SQL form already verified
  * on its standalone query.
  *
  * Scale shape: one slim-key groupBy for stage 1 (32-char md5, never the
  * text), one kernel map-pass each for stages 2–3, a broadcast
  * shingle-set probe for stage 4, and the PPJoin-filtered Jaccard join +
  * O(log n) connected components for stage 5 — no stage is quadratic and
  * nothing shuffles document text except the stage-5 verify join on the
  * candidate pairs. The assembled pre-decision table is referenced twice
  * (survivor set for pair generation, final output) and so crosses a
  * `materializeOnce` boundary — Catalyst has no cross-branch CSE.
  */
object Curation {

  /** Funnel stages in decision order. */
  val Stages: Seq[String] = Seq("exact_dup", "quality", "repetition",
    "contaminated", "near_dup", "kept")

  /** Per-document curation decision: (doc_id, decision).
    *
    * Precondition: `doc_id` is unique in `corpusIn` (stage 4's
    * [[graft.dedup.Dedup.contaminatedDocs]] flags rows, and a repeated
    * doc_id would fan out the left join on doc_id).
    *
    * @param corpusIn   documents to curate (doc_id, text, …)
    * @param benchmark  held-out evaluation documents to decontaminate
    *                   against (never appear in the output)
    * @param minStopHits stage-2 stop-word floor — Gopher publishes 2; a
    *                   corpus-appropriate value belongs to the caller
    * @param scaleArms  stage-5 pair generation in its crawl-scale form:
    *                   the (doc_id, shingle set) table is recomputed by
    *                   each of its consumers (document frequencies, prefix,
    *                   verify) instead of materialized once
    *                   (`materializeShingles = false` — the zero-storage
    *                   trade for inputs where ~8 B a shingle of
    *                   executor-disk storage is the binding cost). The
    *                   pair set — and therefore every
    *                   decision — is EQUAL by construction (the arms are
    *                   equality-tested on the standalone query, and the
    *                   composed equality is asserted in
    *                   CurationPipelineSpec), unlike recall-traded LSH
    *                   arms; the default stays the oracle's shape
    */
  def curate(corpusIn: DataFrame, benchmark: DataFrame,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minStopHits: Long = 2L, decontamK: Int = 8, jaccardK: Int = 3,
      jaccardThreshold: Double = 0.5, scaleArms: Boolean = false): DataFrame = {
    val corpus = SparkUtil.spread(corpusIn).select(col("doc_id"), col("text"))

    // stages 1–3 — fingerprint + Gopher lexical keep + repetition keep in
    // ONE map pass over the text (r6; was three separate passes joined on
    // doc_id — guide §2.4, remove shuffles outright): the streaming
    // column kernels (`gopherKeepCol`/`repetitionKeepCol`, batch-parity
    // tested) are each referenced once, so each UDF evaluates once per
    // row. Checkpointed EXPLICITLY — the rep aggregation and the
    // join-back both consume it, a Project-only plan is invisible to
    // materializeOnce's heuristic, and without a boundary the three
    // kernels would re-run per branch. The checkpoint row is ~50 B
    // (id, md5, two booleans), never the text.
    val flags = corpus.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.gopherKeepCol(col("text"), minWords, maxWords,
          minStopHits.toInt).as("q_keep"),
        TextOps.repetitionKeepCol(col("text")).as("r_keep"))
      .localCheckpoint(eager = true)
    // stage 1 — exact duplicates: min doc_id per fingerprint; the shuffle
    // carries (md5, doc_id), never the text (fingerprint equality ≡
    // normalized-text equality, same argument as Dedup.exact's oracle)
    val reps = flags.groupBy("fp").agg(min("doc_id").as("rep_id"))

    // stage 4 — benchmark decontamination: the funnel consumes only the
    // FLAG, so the flag-only arm applies — one map-side broadcast-set
    // probe per document, no join, no aggregation exchange (doc set
    // identical to `decontaminate`'s; DedupSpec "contaminatedDocs
    // (flag-only arm) emits exactly the counting arm's doc set" pins it)
    val cont = Dedup.contaminatedDocs(corpus, benchmark, decontamK)
      .select(col("doc_id"), lit(true).as("contaminated"))

    val pre = SparkUtil.materializeOnce(
      flags.join(reps, "fp")
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), col("rep_id"), col("q_keep"), col("r_keep"),
          coalesce(col("contaminated"), lit(false)).as("contaminated")))

    // stage 5 — near-dup clusters among stage-1..4 survivors only; the
    // label join is keyed by doc_id and left to AQE (cluster membership
    // can be a significant corpus fraction at scale — no broadcast hint)
    val survivors = pre.filter(col("doc_id") === col("rep_id") &&
        col("q_keep") && col("r_keep") && !col("contaminated"))
      .select("doc_id")
    val pairs = Dedup.ngramJaccardNearDups(
      corpus.join(survivors, "doc_id"), jaccardK, jaccardThreshold,
      materializeShingles = !scaleArms)
    val labels = graft.graph.Components.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("node").as("doc_id"), col("comp").as("cluster"))

    pre.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("rep_id"), "exact_dup")
          .when(!col("q_keep"), "quality")
          .when(!col("r_keep"), "repetition")
          .when(col("contaminated"), "contaminated")
          .when(col("cluster").isNotNull && col("cluster") =!= col("doc_id"),
            "near_dup")
          .otherwise("kept").as("decision"))
  }

  /** Funnel audit over a `curate` output: documents entering each stage,
    * dropped there, and surviving out — the per-stage lineage counts a
    * pipeline report publishes. Tiny aggregate (≤6 rows) computed in one
    * partial-agg shuffle plus a driver-side running difference.
    */
  def funnel(decisions: DataFrame): DataFrame = {
    val spark = decisions.sparkSession
    val byStage = decisions.groupBy("decision")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byStage.values.sum
    var entering = total
    val rows = Stages.map { s =>
      val dropped = if (s == "kept") 0L else byStage.getOrElse(s, 0L)
      val in = entering
      entering -= dropped
      (Stages.indexOf(s), s, in, dropped, entering)
    }
    import spark.implicits._
    rows.toDF("stage_id", "stage", "docs_in", "docs_dropped", "docs_out")
  }
}
