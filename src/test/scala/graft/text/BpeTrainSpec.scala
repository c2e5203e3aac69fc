package graft.text

import graft.SparkSpec

/** The distributed BPE trainer against a single-threaded reference
  * implementation: identical merge SEQUENCE (greedy argmax with the
  * (freq desc, left asc, right asc) tie-break), exact kernel edges
  * (leftmost non-overlapping application, code-point symbols), and the
  * segment replay property.
  */
class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  /** Reference trainer over a word-frequency map — the oracle
    * semantics, no Spark.
    */
  private def refTrain(wf: Map[String, Long],
      nMerges: Int): Seq[(String, String, Long)] = {
    var words: Map[Seq[String], Long] = wf.toSeq
      .map { case (w, f) => BpeTrain.charSyms(w) -> f }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val out = Seq.newBuilder[(String, String, Long)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), f) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, r, f))
        words = words.toSeq
          .map { case (s, n) => BpeTrain.applyMerge(s, l, r) -> n }
          .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        i += 1
      }
    }
    out.result()
  }

  test("applyMerge is leftmost and non-overlapping; charSyms splits " +
      "code points, not UTF-16 units") {
    assert(BpeTrain.applyMerge(Seq("a", "a", "a"), "a", "a") ==
      Seq("aa", "a"))
    assert(BpeTrain.applyMerge(Seq("a", "b", "a", "b"), "a", "b") ==
      Seq("ab", "ab"))
    assert(BpeTrain.applyMerge(Seq("x"), "a", "b") == Seq("x"))
    // U+1D11E (musical G clef) is a surrogate pair: one symbol, not two
    val clef = new String(Character.toChars(0x1D11E))
    assert(BpeTrain.charSyms(s"a${clef}b") == Seq("a", clef, "b"))
  }

  test("distributed merge sequence equals the reference trainer on " +
      "real data, across partitionings") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val wf = BpeTrain.wordFreq(docs).as[(String, Long)].collect().toMap
    val want = refTrain(wf, nMerges = 25)
    val got = BpeTrain.train(docs, nMerges = 25)
      .map(m => (m.left, m.right, m.freq))
    assert(got == want, s"merge sequences diverge:\n got=$got\nwant=$want")
    val got2 = BpeTrain.train(docs.repartition(7), nMerges = 25)
      .map(m => (m.left, m.right, m.freq))
    assert(got2 == want, "merge sequence must not depend on partitioning")
    // the DISTRIBUTED rounds (cutoff 0 forces them) must produce the
    // same sequence as the in-memory fast path the default cutoff takes
    val gotDist = BpeTrain.train(docs, nMerges = 25, smallDictCutoff = 0L)
      .map(m => (m.left, m.right, m.freq))
    assert(gotDist == want,
      "distributed rounds must equal the in-memory fast path")
    // ties broken in UTF-8 binary order on both paths: 'a' (0x61) sorts
    // before 'é' (0xC3 0xA9, negative as a signed byte), and U+E000
    // (0xEE..) before U+1D11E (0xF0..; first in UTF-16 order)
    val clef = new String(Character.toChars(0x1D11E))
    for ((text, first) <- Seq(("ax \u00E9x", ("a", "x", 1L)),
        (s"\uE000x ${clef}x", ("\uE000", "x", 1L)))) {
      val tie = Seq((1L, text)).toDF("doc_id", "text")
      val fast = BpeTrain.train(tie, nMerges = 1)
        .map(m => (m.left, m.right, m.freq))
      val dist = BpeTrain.train(tie, nMerges = 1, smallDictCutoff = 0L)
        .map(m => (m.left, m.right, m.freq))
      assert(dist == Seq(first), s"distributed tie-break on '$text'")
      assert(fast == dist, s"fast path must break the tie on '$text' " +
        "like the distributed rounds")
    }
  }

  test("initialPairCounts equals merge 1's candidate table") {
    val docs = Seq((1L, "aba ab"), (2L, "ab")).toDF("doc_id", "text")
    // words: aba (1), ab (2) → pairs: (a,b) 1+2=3, (b,a) 1
    val got = BpeTrain.initialPairCounts(docs)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 3L), ("b", "a", 1L)))
    // and the trainer's first merge is the argmax of exactly this table
    val first = BpeTrain.train(docs, nMerges = 1).head
    assert((first.left, first.right, first.freq) == ("a", "b", 3L))
  }

  test("segment replays training: dictionary words segment to their " +
      "final trainer state; merges only ever shrink token counts") {
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val merges = BpeTrain.train(docs, nMerges = 4)
    val seg = BpeTrain.segment(docs, merges)
      .select("n_words", "n_bpe_tokens").as[(Long, Long)].head()
    // reference: fold every word through the merges in rank order
    val want = "low lower lowest low low".split(" ")
      .map(w => merges.foldLeft(BpeTrain.charSyms(w)) { (s, m) =>
        BpeTrain.applyMerge(s, m.left, m.right) }.length.toLong).sum
    assert(seg == ((5L, want)))
    // unmergeable text is untouched; empty merge list = plain chars
    val none = BpeTrain.segment(Seq((1L, "xy")).toDF("doc_id", "text"), Nil)
      .select("n_bpe_tokens").as[Long].head()
    assert(none == 2L)
    // more merges never increase the token count
    val less = BpeTrain.segment(docs, merges.take(2))
      .select("n_bpe_tokens").as[Long].head()
    assert(seg._2 <= less)
  }

  test("train stops early when every word is fully fused") {
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    // merge 1 fuses (a,b) into "ab"; no adjacent pair remains
    val merges = BpeTrain.train(docs, nMerges = 10)
    assert(merges.map(m => (m.rank, m.left, m.right, m.freq)) ==
      Seq((1, "a", "b", 3L)))
  }
}
