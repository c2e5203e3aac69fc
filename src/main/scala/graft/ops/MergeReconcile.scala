package graft.ops

import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge, dedup and confidence/negation reconciliation.
  *
  * Spark-first re-expression of the reference's pandas reconcile dataflow:
  *   - `merge_msdf` (reference: src/sssom/util.py:1074-1123)
  *   - `filter_redundant_rows` (src/sssom/util.py:693-779)
  *   - `deal_with_negation` (src/sssom/util.py:1126-1271)
  *   - `collapse` (src/sssom/util.py:676-679)
  *   - `remove_mappings` (src/sssom/util.py:292-316)
  *   - `compare_dataframes` diff (src/sssom/util.py:863-932)
  *
  * Scale notes: the redundant-row filter replaces the reference's
  * driver-side max map with one (subject_id, object_id) hash exchange
  * and partition-local dedup + windows (no join);
  * the per-entity-pair negation reconcile runs as `flatMapGroups` keyed by
  * (subject_id, object_id) — group sizes are bounded by per-pair mapping
  * multiplicity (tiny), so the shuffle partitions evenly at any scale.
  * The reference's nondeterministic `.sample()` tie-break
  * (util.py:1216-1217) is replaced by a total deterministic order.
  */
object MergeReconcile {

  import Schema._

  private def hasCol(df: DataFrame, c: String): Boolean = df.columns.contains(c)

  private def colOr(df: DataFrame, c: String, default: String = "") =
    if (hasCol(df, c)) col(c) else lit(default)

  /** Split rows by null confidence, adding the column if absent (reference
    * `assign_default_confidence`, src/sssom/util.py:813-833).
    */
  private def splitByConfidence(df: DataFrame): (DataFrame, DataFrame, Boolean) = {
    val had = hasCol(df, Confidence)
    if (had)
      (df.filter(col(Confidence).isNotNull), df.filter(col(Confidence).isNull), had)
    else
      // reference fills 0.0 (not NaN) when the column is absent, with an
      // empty NaN side (util.py:828-830)
      (df.withColumn(Confidence, lit(0.0)), df.withColumn(Confidence,
        lit(0.0)).limit(0), had)
  }

  /** groupBy (S,P,O) → max(confidence) (reference `collapse`). */
  def collapse(df: DataFrame): DataFrame =
    df.groupBy(TripleIds.map(col): _*)
      .agg(max(col(Confidence)).as(Confidence))

  /** Remove rows with a matching row in `remove` on KEY_FEATURES
    * (reference `remove_mappings`): a distributed anti-join.
    */
  def removeMappings(df: DataFrame, remove: DataFrame): DataFrame = {
    val keys = KeyFeatures.filter(k => hasCol(df, k) && hasCol(remove, k))
    df.join(remove.select(keys.map(col): _*).distinct(), keys, "left_anti")
  }

  private def materializeOnce(df: DataFrame): DataFrame =
    SparkUtil.materializeOnce(df)

  /** Keep only rows whose confidence equals the (S,O[,P]) group max;
    * null-confidence rows bypass; then single-predicate reconciliation of
    * equal-confidence groups by predicate hierarchy
    * (reference `filter_redundant_rows`).
    */
  def filterRedundantRows(dfIn: DataFrame, ignorePredicate: Boolean = false): DataFrame = {
    val hadConf = hasCol(dfIn, Confidence)
    // reference fills 0.0 when the column is absent (util.py:828-830)
    val df = if (hadConf) dfIn else dfIn.withColumn(Confidence, lit(0.0))
    val key = if (ignorePredicate) Seq(SubjectId, ObjectId)
      else Seq(SubjectId, ObjectId, PredicateId)

    // Every decision is a fact about one (S,O) group: the max confidence
    // per key, then the predicate ranks at each confidence. So the plan
    // shuffles once, on (S,O), and the dedup and both windows below run
    // inside that partitioning with no join and no further exchange.
    //
    // Skew: a hot (S,O) lands in one task, once. The groupBy-max +
    // join-back shape this replaced was no better: AQE split neither of
    // its joins (each join's other side is an aggregate over a shuffle,
    // not a shuffle stage), so one task read the hot key in each of two
    // stages. Measured at local[4] on 400 k rows, one (S,O,P) holding
    // 200 k, AQE on, broadcast off, skew threshold 1 KB, factor 2: the old
    // plan ran 5 shuffle-read stages whose largest tasks read 221 537,
    // 221 537, 118 117 and 63 759 records, in 1.6-2.1 s; this plan runs
    // one, whose largest task reads 212 815, in 1.1-1.2 s. Window
    // partitions spill; they do not fail on a hot key.
    //
    // The max is null where a key column is null, as the old left
    // equi-join left it, so such rows keep only a null confidence. max()
    // skips nulls, so null-confidence rows pass the >= filter's null
    // branch and never raise a group's max.
    val keyNotNull = key.map(col(_).isNotNull).reduce(_ && _)
    // Per (S,O,conf) group:
    //   __n        — predicate count over non-"Not" rows with non-null
    //                confidence (pandas groupby drops NaN keys; =!=
    //                also leaves out null modifiers);
    //   __min_rank — the hierarchy minimum over ALL rows of the group.
    // A row survives iff its group is not a multi-predicate group
    // (__n <= 1; null-conf rows always land here) or it carries the
    // group's best-ranked predicate.
    val rank = coalesce(
      element_at(typedLit(Schema.predicateRank), col(PredicateId)),
      lit(Int.MaxValue))
    val pmNotNot =
      if (hasCol(df, PredicateModifier))
        col(PredicateModifier) =!= PredicateModifierNot
      else lit(true)
    val byKey = Window.partitionBy(key.map(col): _*)
    val byConf = Window.partitionBy(col(SubjectId), col(ObjectId), col(Confidence))
    val result = df.repartition(col(SubjectId), col(ObjectId))
      .dropDuplicates()
      .withColumn("__max_conf", when(keyNotNull, max(col(Confidence)).over(byKey)))
      .filter(col(Confidence).isNull || col(Confidence) >= col("__max_conf"))
      .withColumn("__rank", rank)
      .withColumn("__n", count(when(pmNotNot && col(Confidence).isNotNull,
        col(PredicateId))).over(byConf))
      .withColumn("__min_rank", min(col("__rank")).over(byConf))
      .filter(col("__n") <= 1 || col("__rank") === col("__min_rank"))
      .select(df.columns.map(col).toIndexedSeq: _*)
    if (hadConf) result else result.drop(Confidence)
  }

  /** Negation reconcile: for each (subject, object) pair resolve positive vs
    * `Not`-modified rows — higher confidence wins; on ties prefer
    * ManualMappingCuration; negative trumps positive
    * (reference `deal_with_negation`; deterministic tie-break replaces
    * `.sample()`).
    */
  def dealWithNegation(dfIn: DataFrame): DataFrame = {
    if (!hasCol(dfIn, PredicateModifier)) return dfIn
    val spark = dfIn.sparkSession
    import spark.implicits._

    // consumed from the pos/neg split and the re-join branches below
    val df = materializeOnce(dfIn)
    val (nonNull, nanRows, hadConf) = splitByConfidence(df)
    val workCols = nonNull.columns.toSeq

    val negRows = nonNull.filter(col(PredicateModifier) === PredicateModifierNot)
    val posRows = nonNull.filter(col(PredicateModifier) =!= PredicateModifierNot)

    def subset(d: DataFrame, kind: String): DataFrame =
      d.select(col(SubjectId), col(ObjectId), col(PredicateId),
        col(Confidence), colOr(d, MappingJustification).as(MappingJustification),
        lit(kind).as("__kind"))

    // combined candidate subset (positive first, reference concat order),
    // plus negation-confidence markers used for the re-negate step
    val combined = subset(posRows, "C")
      .unionByName(subset(negRows, "C"))
      .dropDuplicates(Seq(SubjectId, ObjectId, PredicateId, Confidence,
        MappingJustification))
    val negMarks = negRows
      .select(col(SubjectId), col(ObjectId), lit("").as(PredicateId),
        col(Confidence), lit("").as(MappingJustification), lit("N").as("__kind"))
      .distinct()

    val all = combined.unionByName(negMarks)
      .as[(String, String, String, Double, String, String)]

    // per-(S,O) group resolution; group sizes = per-pair mapping counts
    val resolved: Dataset[(String, String, String, Double, String, String)] =
      all.groupByKey { case (s, o, _, _, _, _) => (s, o) }
        .flatMapGroups { (_: (String, String), it: Iterator[(String, String, String, Double, String, String)]) =>
          val rows = it.toVector
          val members = rows.filter(_._6 == "C")
          val negConfs = rows.filter(_._6 == "N").map(_._4).toSet
          // reference iterates per (S,P,O)-max row; match set keyed (S,O,conf)
          val maxByPred: Map[String, Double] =
            members.groupBy(_._3).map { case (p, g) => p -> g.map(_._4).max }
          // one emission per (S,P,O) max-confidence row, multiplicity kept
          // (the reference accumulates without dedup, util.py:1229-1238);
          // deterministic iteration: predicates by hierarchy rank then name
          val out = Vector.newBuilder[(String, String, String, Double, String)]
          val preds = maxByPred.keys.toSeq.sortBy(p =>
            (Schema.predicateRank.getOrElse(p, Int.MaxValue), p))
          preds.foreach { p =>
            val c = maxByPred(p)
            val matched = members.filter(_._4 == c)
            val pick =
              if (matched.size <= 1) matched
              else {
                val manual = matched.filter(_._5 == JustificationManual)
                if (manual.size <= 1) manual
                else Seq(manual.minBy(r =>
                  (Schema.predicateRank.getOrElse(r._3, Int.MaxValue), r._3, r._5)))
              }
            pick.foreach(r => out += ((r._1, r._2, r._3, r._4, r._5)))
          }
          out.result().map { case (su, ob, p, c, j) =>
            val modifier = if (negConfs.contains(c)) PredicateModifierNot else ""
            (su, ob, p, c, j, modifier)
          }
        }

    val emitted = resolved.toDF(SubjectId, ObjectId, PredicateId, Confidence,
      MappingJustification, PredicateModifier)

    // recover full-width rows: the reference right-merges df onto the
    // reconciled subset (util.py:1259-1261) — matching pairs multiply,
    // unmatched reconciled rows survive with empty side columns
    val joinKeys = Seq(SubjectId, ObjectId, PredicateId, Confidence,
      MappingJustification, PredicateModifier)
      .filter(k => hasCol(nonNull, k))
    val matched = nonNull.join(emitted.select(joinKeys.map(col): _*),
      joinKeys, "inner")
    val unmatched = emitted.join(nonNull.select(joinKeys.map(col): _*).distinct(),
      joinKeys, "left_anti")
    val widened = nonNull.columns.foldLeft(unmatched) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c,
        if (Schema.doubleSlots.contains(c)) lit(null).cast(DoubleType)
        else lit(""))
    }.select(matched.columns.map(col): _*)

    val reconciled = matched.unionByName(widened)
    val withNan =
      if (nanRows.isEmpty) reconciled
      else reconciled.unionByName(nanRows).dropDuplicates()
    if (hadConf) withNan else withNan.drop(Confidence)
  }

  /** Merge N mapping sets: propagate, inject `mapping_source`, union by
    * name with missing columns, dedup over the shared column set (excluding
    * an injected mapping_source when ≥2 sets got one), optional reconcile
    * (reference `merge_msdf`).
    */
  def merge(msdfs: Seq[Msdf], reconcile: Boolean = false): Msdf = {
    require(msdfs.nonEmpty)
    var sourceInjected = 0
    val prepared = msdfs.map { m0 =>
      val m = m0.propagate()
      val setId = m.metaMap.get("mapping_set_id").map(_.asString)
      if (setId.isDefined && !hasCol(m.df, MappingSource)) {
        sourceInjected += 1
        m.withDf(m.df.withColumn(MappingSource, lit(setId.get)))
      } else m
    }
    val allColumns = prepared.flatMap(_.df.columns).distinct
    val dedupCols =
      if (sourceInjected > 1) allColumns.filterNot(_ == MappingSource)
      else allColumns

    val unioned = prepared.map(_.df)
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    // absent columns materialize as null after unionByName; restore the
    // ""-for-absent string discipline
    val filled = unioned.select(unioned.columns.map { c =>
      if (Schema.doubleSlots.contains(c)) col(c)
      else coalesce(col(c), lit("")).as(c)
    }.toIndexedSeq: _*)
    val merged = filled.dropDuplicates(dedupCols)

    val prefixes = prepared.map(_.prefixes).reduce(_ chain _)
    val meta = prepared.head.meta
    val out = Msdf(merged, meta, prefixes)
    if (!reconcile) out
    else
      // NOTE: the reference guards its negation step with
      // `PREDICATE_MODIFIER_NOT in df[PREDICATE_MODIFIER]` (util.py:1116-1119),
      // which tests the pandas *index*, never the values — so
      // `deal_with_negation` is unreachable from merge at runtime and the
      // reconciled merge is exactly `filter_redundant_rows`. We mirror the
      // runtime behavior; `dealWithNegation` stays available standalone.
      out.withDf(filterRedundantRows(merged))
  }

  /** Entity-pair diff of two mapping sets (reference `compare_dataframes`):
    * unordered (subject, object) entity pairs — entities carry id, label,
    * category and source — labeled UNIQUE_1 / UNIQUE_2 / COMMON_TO_BOTH.
    * One flags table (pair → in set 1, in set 2) carries the whole
    * decision: materialized once, counted in one aggregate, and attached
    * to each side by one left join. No driver iteration.
    */
  def diff(df1: DataFrame, df2: DataFrame): MappingSetDiff = {
    // Reference `EntityPair` has a symmetric __hash__ but the default
    // dataclass ordered __eq__, and `create_entity` reduces to the bare id
    // string (util.py:641-656, 848-860) — so the effective diff key is the
    // ORDERED (subject_id, object_id) pair of ids.
    def pairKey(df: DataFrame) =
      struct(colOr(df, SubjectId).as("s"), colOr(df, ObjectId).as("o"))
    def tagged(df: DataFrame, in1: Boolean) =
      df.select(pairKey(df).as("__pair"),
        lit(in1).as("__in1"), lit(!in1).as("__in2"))
    // read by the count and by both annotate joins: one materialization
    val flags = SparkUtil.materializeOnce(
      tagged(df1, in1 = true).union(tagged(df2, in1 = false))
        .groupBy("__pair")
        .agg(max("__in1").as("__in1"), max("__in2").as("__in2")))
    val both = col("__in1") && col("__in2")
    val n = flags.agg(
      count(when(!col("__in2"), 1)), count(when(!col("__in1"), 1)),
      count(when(both, 1))).first()

    def annotate(df: DataFrame, uniqueLabel: String) =
      df.withColumn("__pair", pairKey(df))
        .join(flags, Seq("__pair"), "left")
        .withColumn(Comment,
          when(both, lit("COMMON_TO_BOTH")).otherwise(lit(uniqueLabel)))
        .drop("__pair", "__in1", "__in2")
    val combined = annotate(df1, "UNIQUE_1")
      .unionByName(annotate(df2, "UNIQUE_2"), allowMissingColumns = true)
      .dropDuplicates()
    MappingSetDiff(n.getLong(0), n.getLong(1), n.getLong(2), combined)
  }

  final case class MappingSetDiff(
      nUnique1: Long, nUnique2: Long, nCommon: Long, combined: DataFrame)
}
