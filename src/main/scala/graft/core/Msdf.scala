package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Set-level metadata value: scalar, list, or nested map (curie_map).
  * Mirrors the reference's free-form YAML metadata dict
  * (reference: src/sssom/util.py:110-136).
  */
sealed trait MetaValue extends Serializable {
  def asString: String = this match {
    case MetaString(s) => s
    case MetaList(xs) => xs.mkString("|")
    case MetaMap(_) => toString
  }
}
final case class MetaString(value: String) extends MetaValue
final case class MetaList(values: Vector[String]) extends MetaValue
final case class MetaMap(values: Vector[(String, String)]) extends MetaValue

/** Spark-native MappingSetDataFrame: mapping table + set metadata + prefix
  * map (reference: `MappingSetDataFrame`, src/sssom/util.py:110-136).
  *
  * Null discipline: every non-double slot is a non-null StringType where
  * "" means absent (matching the reference's NaN→"" fill,
  * src/sssom/parsers.py:193); `confidence` and other double slots are
  * nullable DoubleType (null = the reference's NaN). The DataFrame carries
  * only the columns present in the source, like the reference drops
  * all-empty columns (src/sssom/util.py:181-184).
  */
final case class Msdf(
    df: DataFrame,
    meta: Vector[(String, MetaValue)],
    prefixes: PrefixMap) {

  def metaMap: Map[String, MetaValue] = meta.toMap

  def columns: Seq[String] = df.columns.toSeq

  def withDf(newDf: DataFrame): Msdf = copy(df = newDf)

  /** Propagate set-level propagatable slots down to records
    * (reference: src/sssom/util.py:1274-1316). Only propagates when the
    * column is absent (spec-compliant mode); consumed slots move out of
    * metadata.
    */
  def propagate(fillEmpty: Boolean = false): Msdf = {
    var cur = df
    var remaining = meta
    Schema.propagatableSlots.foreach { slot =>
      metaMap.get(slot).foreach { v =>
        val present = cur.columns.contains(slot)
        if (!present || fillEmpty) {
          val value = v.asString
          cur =
            if (present)
              cur.withColumn(slot,
                when(col(slot).isNull || col(slot) === "", lit(value))
                  .otherwise(col(slot)))
            else cur.withColumn(slot, lit(value))
          remaining = remaining.filterNot(_._1 == slot)
        }
      }
    }
    Msdf(cur, remaining, prefixes)
  }

  /** Condense: move propagatable columns with exactly one distinct non-empty
    * value (and no conflicting metadata) up to set level and drop them
    * (reference: src/sssom/util.py:337-380).
    */
  def condense(): Msdf = {
    val candidates = Schema.propagatableSlots.filter(df.columns.contains)
    if (candidates.isEmpty) this
    else {
      // one tiny driver-side aggregate over ≤13 columns: countDistinct +
      // first of each candidate — metadata-scale, not data-scale
      val aggs = candidates.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"n_$c"), first(col(c)).as(s"v_$c"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      var cur = df
      var newMeta = meta
      candidates.foreach { c =>
        val n = row.getAs[Long](s"n_$c")
        if (n == 1) {
          val v = row.getAs[String](s"v_$c")
          val metaVal = metaMap.get(c).map(_.asString)
          if (metaVal.isEmpty || metaVal.contains(v)) {
            cur = cur.drop(c)
            if (metaVal.isEmpty) newMeta = newMeta :+ (c -> MetaString(v))
          }
        }
      }
      Msdf(cur, newMeta, prefixes)
    }
  }

  /** Standardize set-level metadata (reference `_standardize_metadata`,
    * src/sssom/util.py:594-638): falsy keys/values dropped; values of
    * EntityReference-ranged set slots go through the converter
    * (expand→compress round-trip so prefix synonyms normalize);
    * multivalued slots element-wise. Driver-side — metadata is
    * option-scale.
    */
  def standardizeMetadata(): Msdf = {
    val refSlots = Schema.entityReferenceSlots.toSet
    val std = (v: String) => prefixes.standardize(v.trim)
    val newMeta = meta.filter { case (k, v) =>
      k.nonEmpty && (v match {
        case MetaString(s) => s.nonEmpty
        case MetaList(xs) => xs.nonEmpty
        case MetaMap(m) => m.nonEmpty
      })
    }.map {
      case (k, MetaString(s)) if refSlots(k) && Schema.multivaluedSlots(k) =>
        k -> MetaList(s.split("\\|", -1).toVector.map(std))
      case (k, MetaString(s)) if refSlots(k) => k -> MetaString(std(s))
      case (k, MetaList(xs)) if refSlots(k) => k -> MetaList(xs.map(std))
      case other => other
    }
    copy(meta = newMeta)
  }

  /** Canonical column order (the column half of the reference's
    * `sort_df_rows_columns`, src/sssom/util.py:1600-1618): columns in
    * schema slot order. `SssomTsv.write` sorts the rows it collects.
    */
  def sortColumns(): Msdf =
    withDf(df.select(Schema.canonicalColumnOrder(df.columns.toSeq).map(col): _*))

  /** All prefixes used in EntityReference columns + metadata (reference
    * `get_all_prefixes`, src/sssom/util.py:1621-1665).
    */
  def usedPrefixes: Set[String] = {
    val refCols = Schema.entityReferenceSlots.filter(df.columns.contains)
    val fromData: Set[String] =
      if (refCols.isEmpty) Set.empty
      else {
        // one distributed pass: explode EntityReference cells (possibly
        // pipe-joined) to CURIE prefixes, distinct
        df.select(explode(array(refCols.map(col): _*)).as("cell"))
          .select(explode(split(col("cell"), "\\|")).as("v"))
          .filter(col("v").rlike("^[A-Za-z0-9_.]+:"))
          .select(split(col("v"), ":", 2).getItem(0).as("p"))
          .distinct()
          .collect().map(_.getString(0)).toSet
      }
    val fromMeta: Set[String] = meta.flatMap {
      case (_, MetaString(v)) if PrefixMap.looksLikeCurie(v) =>
        Seq(v.split(":", 2)(0))
      case (_, MetaList(vs)) =>
        vs.filter(PrefixMap.looksLikeCurie).map(_.split(":", 2)(0))
      case _ => Seq.empty
    }.toSet
    fromData ++ fromMeta
  }

  /** Prune the prefix map to used prefixes (reference `clean_prefix_map`,
    * src/sssom/util.py:268-290). Unknown used prefixes are kept as-is by
    * raising when strict.
    */
  def cleanPrefixMap(strict: Boolean = true): Msdf = {
    val used = usedPrefixes ++ PrefixMap.builtInPrefixes
    val missing = used -- prefixes.prefixes
    if (strict && missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Prefixes missing from the prefix map: ${missing.mkString(", ")}")
    copy(prefixes = prefixes.subMap(used))
  }
}

object Msdf {
  /** Lift a bare mapping DataFrame with default metadata. */
  def apply(df: DataFrame): Msdf =
    Msdf(df, Vector.empty, PrefixMap.builtIn)
}
