package graft.core

import org.apache.spark.sql.types._

/** SSSOM slot registry, hardcoded from the public SSSOM LinkML schema.
  *
  * Mirrors the slot vocabulary the reference loads dynamically via
  * `SSSOMSchemaView` (reference: src/sssom/constants.py:262-364); we keep a
  * fixed, versioned Scala constant set instead of a runtime LinkML
  * dependency. Canonical column order = schema slot order (reference:
  * src/sssom/util.py:1600-1618 `sort_df_rows_columns`).
  */
object Schema {

  // --- slot names (reference: src/sssom/constants.py:75-130) ---
  val SubjectId = "subject_id"
  val SubjectLabel = "subject_label"
  val SubjectCategory = "subject_category"
  val SubjectType = "subject_type"
  val PredicateId = "predicate_id"
  val PredicateLabel = "predicate_label"
  val PredicateType = "predicate_type"
  val PredicateModifier = "predicate_modifier"
  val ObjectId = "object_id"
  val ObjectLabel = "object_label"
  val ObjectCategory = "object_category"
  val ObjectType = "object_type"
  val MappingJustification = "mapping_justification"
  val Confidence = "confidence"
  val MappingSource = "mapping_source"
  val MappingCardinality = "mapping_cardinality"
  val CardinalityScope = "cardinality_scope"
  val MappingDate = "mapping_date"
  val Comment = "comment"

  val PredicateModifierNot = "Not"
  val NoTermFound = "sssom:NoTermFound"
  val RdfsLiteral = "rdfs literal"
  val JustificationUnspecified = "semapv:UnspecifiedMatching"
  val JustificationManual = "semapv:ManualMappingCuration"
  val JustificationInversion = "semapv:MappingInversion"
  val JustificationLexical = "semapv:LexicalMatching"

  /** Row identity keys (reference: src/sssom/util.py:102-104). */
  val TripleIds: Seq[String] = Seq(SubjectId, PredicateId, ObjectId)
  val KeyFeatures: Seq[String] = Seq(SubjectId, PredicateId, ObjectId, PredicateModifier)

  /** Canonical Mapping-class slot order per the public SSSOM schema
    * (sssom_schema.yaml `mapping` slot list). Drives column order of
    * TSV output and `Msdf.sortColumns`.
    */
  val mappingSlots: Seq[String] = Seq(
    SubjectId, SubjectLabel, SubjectCategory, PredicateId, PredicateLabel,
    PredicateModifier, ObjectId, ObjectLabel, ObjectCategory,
    MappingJustification, "author_id", "author_label", "reviewer_id",
    "reviewer_label", "creator_id", "creator_label", "license", SubjectType,
    "subject_source", "subject_source_version", ObjectType, "object_source",
    "object_source_version", "mapping_provider", MappingSource,
    MappingCardinality, CardinalityScope, "mapping_tool", "mapping_tool_id",
    "mapping_tool_version", MappingDate, "publication_date", Confidence,
    "curation_rule", "curation_rule_text", "subject_match_field",
    "object_match_field", "match_string", "subject_preprocessing",
    "object_preprocessing", "semantic_similarity_score",
    "semantic_similarity_measure", "see_also", "issue_tracker_item", "other",
    Comment, "record_id"
  )

  /** Set-level (mapping-set) slots. */
  val mappingSetSlots: Seq[String] = Seq(
    "mapping_set_id", "mapping_set_version", "mapping_set_source",
    "mapping_set_description", "mapping_set_title", "creator_id",
    "creator_label", "license", "subject_source", "subject_source_version",
    "object_source", "object_source_version", "mapping_provider",
    "mapping_tool", "mapping_tool_id", "mapping_tool_version", "mapping_date",
    "publication_date", "subject_match_field", "object_match_field",
    "subject_preprocessing", "object_preprocessing", "see_also",
    "issue_tracker", "other", "comment", "sssom_version", "mapping_set_confidence"
  )

  /** Multivalued slots: stored as pipe-joined strings in the table
    * (reference: src/sssom/parsers.py:515-520).
    */
  val multivaluedSlots: Set[String] = Set(
    "creator_id", "creator_label", "author_id", "author_label", "reviewer_id",
    "reviewer_label", "subject_match_field", "object_match_field",
    "subject_preprocessing", "object_preprocessing", "see_also",
    "curation_rule", "curation_rule_text", "cardinality_scope"
  )

  /** EntityReference (CURIE-valued) slots standardized via the prefix map
    * (reference: src/sssom/constants.py:303-305).
    */
  val entityReferenceSlots: Seq[String] = Seq(
    SubjectId, PredicateId, ObjectId, "author_id", "creator_id", "reviewer_id",
    "subject_match_field", "object_match_field", "subject_preprocessing",
    "object_preprocessing", "mapping_tool_id", "subject_source", "object_source"
  )

  /** The only numeric slots (reference: src/sssom/constants.py:318-320). */
  val doubleSlots: Set[String] = Set(Confidence, "semantic_similarity_score",
    "mapping_set_confidence")

  /** Set-level slots that may be propagated down to records
    * (reference: src/sssom/constants.py:322-330 / schema `propagated`
    * annotations).
    */
  val propagatableSlots: Seq[String] = Seq(
    "mapping_date", "mapping_provider", "mapping_tool", "mapping_tool_id",
    "mapping_tool_version", "object_match_field", "object_preprocessing",
    "object_source", "object_source_version", "subject_match_field",
    "subject_preprocessing", "subject_source", "subject_source_version"
  )

  // --- predicates (reference: src/sssom/constants.py:144-174) ---
  val OwlEquivalentClass = "owl:equivalentClass"
  val OwlEquivalentProperty = "owl:equivalentProperty"
  val OwlDifferentFrom = "owl:differentFrom"
  val RdfsSubclassOf = "rdfs:subClassOf"
  val RdfsSubpropertyOf = "rdfs:subPropertyOf"
  val OwlSameAs = "owl:sameAs"
  val SkosExactMatch = "skos:exactMatch"
  val SkosCloseMatch = "skos:closeMatch"
  val SkosBroadMatch = "skos:broadMatch"
  val SkosNarrowMatch = "skos:narrowMatch"
  val OboHasDbXref = "oboInOwl:hasDbXref"
  val SkosRelatedMatch = "skos:relatedMatch"
  val RdfsSeeAlso = "rdfs:seeAlso"

  /** Predicate reconciliation hierarchy, highest priority first
    * (reference: src/sssom/constants.py:161-174).
    */
  val predicateList: Seq[String] = Seq(
    OwlEquivalentClass, OwlEquivalentProperty, RdfsSubclassOf,
    RdfsSubpropertyOf, OwlSameAs, SkosExactMatch, SkosCloseMatch,
    SkosBroadMatch, SkosNarrowMatch, OboHasDbXref, SkosRelatedMatch,
    RdfsSeeAlso
  )

  /** predicate → rank for window ordering; unknown predicates rank last. */
  val predicateRank: Map[String, Int] = predicateList.zipWithIndex.toMap

  /** Predicate inversion dictionary (reference: src/sssom/inverse_map.yaml,
    * loaded at src/sssom/constants.py:176-179).
    */
  val predicateInvertMap: Map[String, String] = Map(
    SkosCloseMatch -> SkosCloseMatch,
    SkosRelatedMatch -> SkosRelatedMatch,
    SkosExactMatch -> SkosExactMatch,
    SkosNarrowMatch -> SkosBroadMatch,
    SkosBroadMatch -> SkosNarrowMatch,
    "semapv:crossSpeciesExactMatch" -> "semapv:crossSpeciesExactMatch",
    "semapv:crossSpeciesNarrowMatch" -> "semapv:crossSpeciesBroadMatch",
    "semapv:crossSpeciesBroadMatch" -> "semapv:crossSpeciesNarrowMatch",
    "semapv:crossSpeciesCloseMatch" -> "semapv:crossSpeciesCloseMatch",
    OwlEquivalentClass -> OwlEquivalentClass,
    OwlSameAs -> OwlSameAs
  )

  /** subject_* ↔ object_* column swap map (reference:
    * src/sssom/constants.py:181-198).
    */
  val columnInvertMap: Map[String, String] = {
    val pairs = Seq(
      "id", "label", "category", "match_field", "source", "preprocessing",
      "source_version", "type"
    )
    pairs.flatMap { suf =>
      Seq(s"subject_$suf" -> s"object_$suf", s"object_$suf" -> s"subject_$suf")
    }.toMap
  }

  /** Spark type of a slot: double slots are DoubleType, everything else
    * StringType ("" = absent; see null discipline in package docs).
    */
  def slotType(slot: String): DataType =
    if (doubleSlots.contains(slot)) DoubleType else StringType

  /** Full-width StructType over all mapping slots in canonical order. */
  val mappingStructType: StructType =
    StructType(mappingSlots.map(s => StructField(s, slotType(s), nullable = true)))

  /** Canonical ordering of an arbitrary column subset: schema slots first in
    * slot order, then unknown (extension) columns in their input order.
    */
  def canonicalColumnOrder(cols: Seq[String]): Seq[String] = {
    val known = mappingSlots.filter(cols.contains)
    val unknown = cols.filterNot(mappingSlots.contains)
    known ++ unknown
  }
}
