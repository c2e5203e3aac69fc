package graft.text

import graft.core.SizeGate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
  * "Neural machine translation of rare words with subword units",
  * ACL 2016) — the tokenizer-fitting pass of a training-data pipeline.
  *
  * The classic trainer shape, distributed: the corpus collapses ONCE
  * into a (word, freq) dictionary — vocabulary-sized, orders of
  * magnitude under the corpus — and every merge iteration then runs
  * over that dictionary only: one kernel map pass (adjacent symbol
  * pairs weighted by word frequency), one partial-agg shuffle on the
  * pair key, and a TakeOrdered(1) argmax to the driver. The corpus
  * text itself is read exactly once, at dictionary build; per-merge
  * driver state is the merge list (bytes), never data.
  *
  * Determinism: the greedy argmax breaks frequency ties on
  * (left asc, right asc) — a strict total order, so the merge sequence
  * is reproducible across partitionings and equals a single-threaded
  * reference trainer (BpeTrainSpec). Symbols are Unicode CODE POINTS
  * (not UTF-16 units), matching SQL `substr` semantics so the
  * initial-pair stage carries a DuckDB oracle.
  */
object BpeTrain {

  /** One learned merge: at `rank`, fuse adjacent (left, right) — which
    * occurred `freq` weighted times — into one symbol.
    */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  private def toks(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Corpus (word, freq) dictionary — the trainer substrate. One token
    * explode + one partial-agg shuffle; Zipf collapses repeats map-side.
    */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(toks(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Code-point symbols (SQL substr semantics — surrogate pairs stay
    * one symbol, unlike a UTF-16 `String#map`).
    */
  private[text] def charSyms(word: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Leftmost non-overlapping application of one merge to a symbol
    * sequence — "aaa" under (a,a) becomes ["aa", "a"], never ["a","aa"].
    */
  private[text] def applyMerge(syms: Seq[String], l: String,
      r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Weighted adjacent-pair counts of the INITIAL character
    * segmentation — merge 1's candidate table, the SQL-expressible
    * stage (the oracle anchor for the kernel: code-point splitting,
    * weighting, adjacency). Pure function of the corpus.
    *
    * @return (lhs, rhs, freq), freq = Σ over words of
    *         freq(word) · occurrences of the adjacent pair in word.
    */
  def initialPairCounts(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val pairsUdf = udf((word: String) =>
      charSyms(word).sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toSeq)
    wordFreq(docs, textCol)
      .select(explode(pairsUdf(col("word"))).as("p"), col("freq"))
      .groupBy(col("p._1").as("lhs"), col("p._2").as("rhs"))
      .agg(sum("freq").as("freq"))
  }

  /** Train `nMerges` greedy merges over the corpus dictionary. Each
    * iteration: kernel pair explode over the (syms, freq) table →
    * pair-key partial agg → TakeOrdered(1) argmax → kernel merge
    * rewrite. The dictionary is checkpointed per round (it feeds the
    * pair agg AND the rewrite, and lineage would otherwise stack
    * `nMerges` UDF layers). Stops early when no pair remains (every
    * word fully fused).
    */
  def train(docs: DataFrame, textCol: String = "text",
      nMerges: Int = 20, smallDictCutoff: Long = 2000000L): Seq[Merge] = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges out of range: $nMerges")
    val symsUdf = udf((word: String) => charSyms(word))
    val pairsUdf = udf((syms: Seq[String]) =>
      syms.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq)
    var words = wordFreq(docs, textCol)
      .select(symsUdf(col("word")).as("syms"), col("freq"))
      .localCheckpoint(true)
    // Size-adaptive fast path (gated by SizeGate.collectIfSmall): the
    // dictionary is VOCABULARY-sized — orders of magnitude under the
    // corpus — and when it fits the driver, the greedy merge loop runs in
    // memory over the collected (syms, freq) rows instead of 2 Spark jobs
    // per merge (pair agg + rewrite checkpoint), which at small
    // dictionaries is pure scheduler latency. The loop below IS the
    // reference trainer the distributed rounds are spec-equal to
    // (BpeTrainSpec): same leftmost applyMerge, same (freq desc, left asc,
    // right asc) argmax — the merge sequence is identical by construction.
    // Large dictionaries keep the distributed rounds.
    SizeGate.collectIfSmall(words, smallDictCutoff).foreach { rows =>
      var mem: Array[(Seq[String], Long)] =
        rows.map(r => (r.getSeq[String](0), r.getLong(1)))
      val merges = Seq.newBuilder[Merge]
      var rank = 1
      var exhausted = false
      while (rank <= nMerges && !exhausted) {
        val counts = scala.collection.mutable.HashMap
          .empty[(String, String), Long]
        mem.foreach { case (syms, f) =>
          var i = 0
          while (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            counts.update(k, counts.getOrElse(k, 0L) + f)
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          // argmax by (freq desc, left asc, right asc) in the string
          // order Spark's orderBy uses (UTF-8 binary)
          def less(a: ((String, String), Long), b: ((String, String), Long)): Boolean =
            if (a._2 != b._2) a._2 > b._2
            else if (a._1._1 != b._1._1) SizeGate.u8Less(a._1._1, b._1._1)
            else SizeGate.u8Less(a._1._2, b._1._2)
          val ((l, r), f) = counts.reduceLeft((a, b) => if (less(b, a)) b else a)
          merges += Merge(rank, l, r, f)
          mem = mem.map { case (syms, fr) => (applyMerge(syms, l, r), fr) }
          rank += 1
        }
      }
      return merges.result()
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = words
        .select(explode(pairsUdf(col("syms"))).as("p"), col("freq"))
        .groupBy(col("p._1").as("l"), col("p._2").as("r"))
        .agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += Merge(rank, l, r, f)
        val mergeUdf = udf((syms: Seq[String]) => applyMerge(syms, l, r))
        words = words
          .select(mergeUdf(col("syms")).as("syms"), col("freq"))
          .localCheckpoint(true)
        rank += 1
      }
    }
    merges.result()
  }

  /** The merge table as a DataFrame (rank asc = application order). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "freq")
      .select(col("rank").cast("long"), col("left"), col("right"),
        col("freq"))
  }

  /** Segment text with a trained merge list: per word, char symbols
    * folded through the merges in RANK order (one leftmost scan per
    * merge — the exact replay of how training rewrote the dictionary,
    * so training words segment identically to their final trainer
    * state). One shuffle-free kernel pass.
    *
    * @return input plus (n_words, n_bpe_tokens).
    */
  def segment(docs: DataFrame, merges: Seq[Merge],
      textCol: String = "text"): DataFrame = {
    val pairs = merges.sortBy(_.rank).map(m => (m.left, m.right))
    val nUdf = udf((text: String) => {
      if (text == null) 0L
      else text.toLowerCase(java.util.Locale.ROOT) // locale-independent, the TextOps:261 precedent
        .trim.split("\\s+").filter(_.nonEmpty)
        .map(w => pairs.foldLeft(charSyms(w)) { case (s, (l, r)) =>
          applyMerge(s, l, r) }.length.toLong)
        .sum
    })
    docs.withColumn("n_words",
        coalesce(size(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => length(t) > 0)), lit(0)).cast("long"))
      .withColumn("n_bpe_tokens", nUdf(col(textCol)))
  }
}
