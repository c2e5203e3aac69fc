package graft.kg

import graft.core.Schema
import graft.sim.SetSimJoin
import graft.text.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mention detection + candidate entity linking against a CURIE concept
  * dictionary (north rule, axes A+B).
  *
  * Stages, all declarative DataFrame ops:
  *  1. mention detection: per-turn tokenization → sliding n-gram spans
  *     (`flatMap`-shaped via explode over a token-index range) under stable
  *     (conv_id, turn_idx) ordering;
  *  2. exact linking: broadcast join of mentions against the (small)
  *     dictionary on the normalized surface form — broadcast keeps the
  *     mention side shuffle-free, so hot (head-entity) surface forms never
  *     concentrate on one task here;
  *  3. fuzzy linking: every (mention, concept) pair whose character-
  *     trigram Jaccard against the concept's label is ≥ a threshold,
  *     found losslessly by the prefix-filter join `graft.sim.SetSimJoin`
  *     (the north rule's TF-IDF blocking: the prefix order is
  *     rarest-trigram first) and verified exactly.
  *
  * Output: SSSOM mapping rows (subject = mention CURIE, object = concept,
  * predicate ∈ skos:exactMatch/closeMatch,
  * mapping_justification = semapv:LexicalMatching, confidence).
  */
object Linker {

  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "[^a-z0-9 ]", "")

  /** Detect candidate mentions: n-grams (1..maxN tokens) per turn.
    *
    * Shape note: the span strings are built per turn inside ONE nested
    * `transform` + `flatten` projection and only (conv_id, turn_idx,
    * mention) is exploded. The naive two-nested-`explode` formulation
    * makes Generate copy the full child row — including the tokens
    * array — once per (start, len) pair: O(spans × |tokens|) array
    * copying per turn, a pure memory-bandwidth tax at any scale.
    */
  def detectMentions(transcripts: DataFrame, maxN: Int = 3): DataFrame = {
    val tokens = split(normalize(col("text")), "\\s+")
    val t = transcripts
      .select(col("conv_id"), col("turn_idx"), tokens.as("tokens"))
      .withColumn("n_tok", size(col("tokens")))
    val spanArr = flatten(transform(
      sequence(lit(0), col("n_tok") - 1),
      start => transform(
        sequence(lit(1), least(lit(maxN), col("n_tok") - start)),
        len => array_join(slice(col("tokens"), start + 1, len), " "))))
    t.select(col("conv_id"), col("turn_idx"),
        explode(filter(spanArr, s => length(s) >= 3)).as("mention"))
  }

  /** Exact-surface link: mention == label or synonym. */
  def linkExact(mentions: DataFrame, dictionary: DataFrame): DataFrame = {
    val dict = dictionary.select(
      col("concept_id"),
      explode(array(
        struct(normalize(col("label")).as("surface"), lit(true).as("isLabel")),
        struct(normalize(col("synonyms")).as("surface"), lit(false).as("isLabel"))
      )).as("e"))
      .select(col("concept_id"), col("e.surface"), col("e.isLabel"))

    mentions
      .join(broadcast(dict), col("mention") === col("surface"))
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        col("concept_id"),
        when(col("isLabel"), lit(Schema.SkosExactMatch))
          .otherwise(lit(Schema.SkosCloseMatch)).as("predicate_id"),
        when(col("isLabel"), lit(0.95)).otherwise(lit(0.85)).as("confidence"))
  }

  /** Fuzzy link: every multi-word mention (≥ 7 chars) and concept whose
    * normalized label has character-trigram Jaccard ≥ `jaccardMin` with
    * it, the label itself excluded (that is an exact link), as
    * skos:closeMatch at confidence `jaccard · 0.9`. The result equals the
    * brute-force trigram-Jaccard set: there is no lossy blocking.
    *
    * Shape: the dictionary labels are collected and indexed once
    * (`SetSimJoin`, prefix index in rarest-trigram-first order) and the
    * index is broadcast — the dictionary side was already broadcast by
    * the blocking joins this replaces, so no new size assumption. The
    * mention side is one UDF + `explode` per row: no shuffle, no join, no
    * candidate dedup. A mention repeated within one turn yields one link
    * row per occurrence.
    */
  def linkFuzzy(mentions: DataFrame, dictionary: DataFrame,
      jaccardMin: Double = 0.55): DataFrame = {
    val dict = dictionary.select(col("concept_id"), normalize(col("label")))
      .collect()
    val ids = dict.map(_.getString(0))
    val surfaces = dict.map(_.getString(1))
    val index = SetSimJoin.jaccard(
      surfaces.map(TextHash.charTrigramSet).toIndexedSeq, jaccardMin)
    val bc = mentions.sparkSession.sparkContext.broadcast((index, ids, surfaces))
    val link = udf { (m: String) =>
      val (ix, conceptIds, labels) = bc.value
      ix.probe(TextHash.charTrigramSet(m)).toSeq.collect {
        case SetSimJoin.Match(k, _, jaccard) if labels(k) != m =>
          (conceptIds(k), jaccard)
      }
    }
    mentions
      .filter(col("mention").contains(" ") && length(col("mention")) >= 7)
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        explode(link(col("mention"))).as("l"))
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        col("l._1").as("concept_id"),
        lit(Schema.SkosCloseMatch).as("predicate_id"),
        (col("l._2") * 0.9).as("confidence"))
  }

  /** Candidate links → SSSOM mapping rows. */
  def toSssomRows(links: DataFrame): DataFrame =
    links.select(
      concat(lit("txt:"), regexp_replace(col("mention"), " ", "_"))
        .as(Schema.SubjectId),
      col("mention").as(Schema.SubjectLabel),
      col("predicate_id"),
      lit("").as(Schema.PredicateModifier),
      col("concept_id").as(Schema.ObjectId),
      lit(Schema.JustificationLexical).as(Schema.MappingJustification),
      col("confidence"),
      col("conv_id").as(Schema.MappingSource),
      col("mention").as("match_string"))
}
