package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over a
  * `documents(doc_id, text, lang, source, n_chars)` table: token counting,
  * quality scoring, n-gram-heuristic language ID, document fingerprinting.
  *
  * All pure `functions._` column expressions (whole-stage codegen, no UDF),
  * and each has an ANSI-SQL-expressible twin for the DuckDB oracle.
  */
object TextOps {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Occurrences of a literal substring (portable length/replace trick). */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length)
      .cast("long")

  /** Quality score 0..10 (integer-valued, so the DuckDB oracle compares
    * exactly): length band (0/2/4) + punctuation balance (1/3) + stopword
    * presence (1/3) — the standard cheap pre-filter for web/chat corpora.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val nPeriods = occurrences(text, ".")
    val nStop = occurrences(lower(text), " the ") +
      occurrences(lower(text), " and ") + occurrences(lower(text), " of ")
    val lenScore = when(nChars >= 50 && nChars <= 5000, 4)
      .when(nChars >= 20, 2).otherwise(0)
    val punctScore = when(nPeriods > 0 && nPeriods <= nTokens / lit(3) + 1, 3)
      .otherwise(1)
    val stopScore = when(nStop > 0, 3).otherwise(1)
    (lenScore + punctScore + stopScore).cast("long")
  }

  /** n-gram/stopword-heuristic language ID over a fixed marker set;
    * deterministic tie-break by the CASE order (en > de > fr > es).
    */
  def langId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    val en = occurrences(t, " the ") + occurrences(t, " and ") +
      occurrences(t, " is ")
    val de = occurrences(t, " der ") + occurrences(t, " und ") +
      occurrences(t, " ist ")
    val fr = occurrences(t, " le ") + occurrences(t, " et ") +
      occurrences(t, " est ")
    val es = occurrences(t, " el ") + occurrences(t, " y ") +
      occurrences(t, " es ")
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** Content fingerprint: md5 of the normalized text (md5 is available and
    * identical in Spark and DuckDB, so the oracle can verify it exactly).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** BPE-ish subword count: whitespace tokens plus an extra unit per 6
    * characters of long tokens — a cheap, deterministic proxy for tokenizer
    * load estimation at corpus scale.
    */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(
      aggregate(split(trim(text), "\\s+"), lit(0L),
        (acc, w) => acc + greatest(lit(1L),
          ceil(length(w) / lit(6.0)).cast("long"))))

  // PII patterns (the standard web-pipeline scrub set — C4/Dolma-style
  // regex redaction): kept to syntax that means the same thing in Java
  // regex (Spark) and RE2 (DuckDB) so the oracle is bit-exact
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}-\\d{4}\\b"

  /** PII scrub: replace emails / IPv4 addresses / phone-shaped numbers
    * with typed placeholder tokens and count what was removed (the audit
    * trail a curation pipeline keeps). Email runs first so its digits
    * can't be re-matched; the three patterns are mutually non-overlapping
    * after that. Pure codegen'd regexp columns — shuffle-free map pass.
    */
  def redactPii(text: Column): Seq[Column] = {
    val n1 = size(regexp_extract_all(text, lit(EmailPattern), lit(0)))
    val r1 = regexp_replace(text, EmailPattern, "<EMAIL>")
    val n2 = size(regexp_extract_all(r1, lit(Ipv4Pattern), lit(0)))
    val r2 = regexp_replace(r1, Ipv4Pattern, "<IP>")
    val n3 = size(regexp_extract_all(r2, lit(PhonePattern), lit(0)))
    val r3 = regexp_replace(r2, PhonePattern, "<PHONE>")
    Seq(r3.as("redacted"), n1.cast("long").as("n_emails"),
      n2.cast("long").as("n_ips"), n3.cast("long").as("n_phones"))
  }

  /** Gopher lexical-quality filter (the non-repetition rules of Rae et
    * al. 2021 table A1): word count in [minWords, maxWords], mean word
    * length in [3, 10], ≥ 80% of words contain an alphabetic character,
    * symbol-to-word ratio ≤ 0.1, and at least 2 of the 8 published stop
    * words present. Same shuffle-free kernel-behind-explode shape as
    * `repetitionMetrics`; all fractions integer-ratio doubles.
    */
  def gopherQuality(documentsIn: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L): DataFrame = {
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val kernel = udf((t: String) => TextHash.gopherQualityStats(t))
    documents
      .select(col("doc_id"), explode(array(kernel(col("text")))).as("r"))
      .select(col("doc_id"),
        col("r._1").cast("long").as("n_words"),
        col("r._2").as("mean_word_len"),
        col("r._3").as("frac_alpha"),
        col("r._4").as("symbol_ratio"),
        col("r._5").cast("long").as("stop_hits"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("frac_alpha") >= 0.8 && col("symbol_ratio") <= 0.1 &&
        col("stop_hits") >= 2L)
  }

  /** Column form of the Gopher lexical keep rule — a single boolean per
    * row (one kernel call, no metric fanout), usable in plain filters and
    * in Structured Streaming where the metrics-table forms can't join
    * back without stream-stream state.
    */
  def gopherKeepCol(text: Column, minWords: Long = 50L,
      maxWords: Long = 100000L, minStopHits: Int = 2): Column = {
    val kernel = udf { (t: String) =>
      val (n, mean, alpha, sym, stop) = TextHash.gopherQualityStats(t)
      n >= minWords && n <= maxWords && mean >= 3.0 && mean <= 10.0 &&
        alpha >= 0.8 && sym <= 0.1 && stop >= minStopHits
    }
    kernel(text)
  }

  /** Column form of the Gopher repetition keep rule (see
    * `repetitionMetrics` for the metric definitions). */
  def repetitionKeepCol(text: Column): Column = {
    val topNs = gopherTopThresholds.keys.toArray.sorted
    val dupNs = gopherDupThresholds.keys.toArray.sorted
    val topTh = topNs.map(gopherTopThresholds)
    val dupTh = dupNs.map(gopherDupThresholds)
    val kernel = udf { (t: String) =>
      val (_, _, top, dup) = TextHash.repetitionStats(t, topNs, dupNs)
      var ok = true
      var i = 0
      while (i < top.length && ok) { ok = top(i) <= topTh(i); i += 1 }
      i = 0
      while (i < dup.length && ok) { ok = dup(i) <= dupTh(i); i += 1 }
      ok
    }
    kernel(text)
  }

  /** Gopher-style published thresholds (Rae et al. 2021 table A1): a
    * document is removed when any repetition fraction exceeds its bound.
    */
  val gopherTopThresholds: Map[Int, Double] =
    Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  val gopherDupThresholds: Map[Int, Double] =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Per-document intra-document repetition metrics + keep decision — the
    * Gopher repetition filter family (`TextHash.repetitionStats` for the
    * exact metric definitions; line/paragraph variants don't apply to this
    * corpus's single-line documents). Output: (doc_id, n_tokens, n_chars,
    * top{n}_frac…, dup{n}_frac…, keep).
    *
    * Scale shape: entirely within-document — ONE map pass over the corpus
    * with a single JIT'd kernel per row, NO shuffle anywhere (the ideal
    * 100 TB plan; a declarative explode+groupBy formulation would shuffle
    * k tokens per position per n). The kernel's single struct output is
    * fanned out behind an `explode(array(…))` Generate barrier so
    * CollapseProject cannot inline the UDF once per referenced field
    * (Catalyst has no CSE across projections). All fractions are
    * integer-ratio doubles, so the operator is exactly reproducible in
    * ANSI SQL and DuckDB-oracled bit-for-bit.
    */
  def repetitionMetrics(documentsIn: DataFrame,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10),
      topThresholds: Map[Int, Double] = gopherTopThresholds,
      dupThresholds: Map[Int, Double] = gopherDupThresholds): DataFrame = {
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val topArr = topNs.toArray
    val dupArr = dupNs.toArray
    val kernel = udf((t: String) =>
      TextHash.repetitionStats(t, topArr, dupArr))
    val topCols = topNs.zipWithIndex.map { case (n, i) =>
      element_at(col("r._3"), i + 1).as(s"top${n}_frac")
    }
    val dupCols = dupNs.zipWithIndex.map { case (n, i) =>
      element_at(col("r._4"), i + 1).as(s"dup${n}_frac")
    }
    val keep = (topNs.flatMap(n => topThresholds.get(n).map(th =>
        col(s"top${n}_frac") <= th)) ++
      dupNs.flatMap(n => dupThresholds.get(n).map(th =>
        col(s"dup${n}_frac") <= th)))
      .reduceOption(_ && _).getOrElse(lit(true))
    documents
      .select(col("doc_id"), explode(array(kernel(col("text")))).as("r"))
      .select(col("doc_id") +: col("r._1").cast("long").as("n_tokens") +:
        col("r._2").as("n_chars") +: (topCols ++ dupCols): _*)
      .withColumn("keep", keep)
  }

  /** Model-based quality scoring — the classifier-filter stage of the
    * published web-corpus pipelines (fastText quality classifiers in
    * CCNet/LLaMA, the FineWeb-Edu / DCLM educational-quality scorers):
    * a hashed bag-of-words LINEAR model scored entirely map-side. Each
    * token looks up a weight, the document score is the mean weight,
    * and `keep` thresholds it.
    *
    * The weight function here is a deterministic hash STUB (uniform in
    * [0,1) from the shared md5 hash point) — this operator is the
    * inference PLUMBING, which is the part that has a distributed
    * shape: a real model swaps the hash for a broadcast vocabulary →
    * weight map (or hashed buckets exactly as here, the fastText trick)
    * without touching the plan — one token explode, one per-doc partial
    * aggregation, nothing else. The stub makes the whole operator
    * engine-portable and DuckDB-oracled exactly: the mean is one IEEE
    * division of an exact integer sum by an exact product.
    *
    * Output (doc_id, n_scored, score, keep) for EVERY document; empty
    * documents score 0 and are dropped.
    */
  /** Column form of the model-quality keep decision — one kernel call
    * per row, no aggregation state, so it composes into plain filters
    * and Structured Streaming gates (`DocStream.curate`). Decision
    * bit-identical to `modelQualityScore`'s `keep` (same 32-bit md5
    * weights, same long sum, same IEEE division). Tokenization matches
    * the batch form's `split(lower(text), "\\s+")` + non-empty filter:
    * `Locale.ROOT` lowercase (never the JVM default locale — a Turkish
    * JVM would map I→ı and break streaming/batch gate parity) and NO
    * trim (Java's `String.trim` strips all chars ≤ U+0020 while Spark's
    * `trim` is space-only; the `\s+` split + nonEmpty filter already
    * absorbs leading/trailing whitespace on both sides, so neither form
    * needs a trim for the decision).
    */
  def modelQualityKeepCol(text: Column, salt: String = "qw1",
      keepThreshold: Double = 0.5): Column = {
    val f = udf { (t: String) =>
      val toks =
        if (t == null) Array.empty[String]
        else t.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .filter(_.nonEmpty)
      if (toks.isEmpty) false
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        var sum = 0L
        toks.foreach { tok =>
          val d = md.digest((tok + ":" + salt).getBytes("UTF-8"))
          var h = 0L; var i = 0
          while (i < 4) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          sum += h
        }
        sum.toDouble / (toks.length.toDouble * 4294967296.0) >= keepThreshold
      }
    }
    f(text)
  }

  def modelQualityScore(documentsIn: DataFrame, salt: String = "qw1",
      keepThreshold: Double = 0.5): DataFrame = {
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val toks = filter(split(lower(trim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val w = conv(substring(md5(concat(col("tok"), lit(":" + salt))), 1, 8),
      16, 10).cast("long")
    val agg = documents
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"), w.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum("w").as("sw"))
    val score = col("sw").cast("double") /
      (col("n_scored").cast("double") * 4294967296.0)
    documents.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        when(col("n_scored").isNull, lit(0.0)).otherwise(score).as("score"),
        when(col("n_scored").isNull, lit(false))
          .otherwise(score >= keepThreshold).as("keep"))
  }

  /** Compression-ratio quality signal (deflate level 6): highly
    * repetitive machine-generated text compresses far below natural
    * prose, and near-random/binary soup barely compresses at all — the
    * published web-corpus pipelines (Gopher's repetition rules are the
    * hand-rolled cousin; CCNet and RefinedWeb both gate on it) band-pass
    * documents on compressed/raw size.
    *
    * Shuffle-free kernel map pass (one JIT'd UDF call per row, no
    * aggregation state). Deterministic for a fixed deflate
    * implementation/level, but NOT SQL-expressible — witness-tested
    * (pinned values for known-shape inputs, ordering invariants),
    * no DuckDB oracle.
    *
    * @return (ratio_permille, keep) columns: compressed size as ‰ of
    *         raw UTF-8 size (integer, stable to compare), and the
    *         band-pass keep decision. Empty text → ratio 1000, drop.
    */
  def compressionRatio(text: Column, minPermille: Long = 200L,
      maxPermille: Long = 900L): Seq[Column] = {
    val kernel = udf { (t: String) =>
      if (t == null || t.isEmpty) 1000L
      else {
        val raw = t.getBytes("UTF-8")
        val d = new java.util.zip.Deflater(6, /* nowrap = */ true)
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length + 64)
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        d.end()
        n * 1000L / raw.length
      }
    }
    val r = kernel(text)
    Seq(r.as("ratio_permille"),
      (r >= minPermille && r <= maxPermille).as("keep"))
  }
}
