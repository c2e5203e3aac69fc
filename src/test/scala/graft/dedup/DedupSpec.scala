package graft.dedup

import graft.SparkSpec
import graft.text.TextHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Dedup-operator specs. The LSH variants are verified against brute
  * force: simhash banding guarantees FULL recall at the requested Hamming
  * distance (pigeonhole: ≥ 2 clean chunks out of maxHamming+2, so some
  * two-chunk combination key matches), so its output must EQUAL the
  * all-pairs result; minhash banding is probabilistic, so its output must
  * be a subset of the all-pairs result with every planted near-dup found.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus: 30 base docs + mutated near-copies + exact copies
  private lazy val docs: Seq[(Long, String)] = {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    def base(i: Int): String =
      (0 until 40).map(j => words((TextHash.mix(i.toLong, j.toLong) % 15).toInt.abs)).mkString(" ")
    val originals = (0 until 30).map(i => (i.toLong, base(i)))
    val nearCopies = (0 until 10).map { i =>
      val toks = base(i).split(" ").toVector
      // mutate one token -> shingle Jaccard ≈ 0.86, so each of the 8
      // four-row bands collides w.p. ≈ 0.55 and a pair is missed w.p.
      // ≈ 0.4^8 ≈ 1e-3 — deterministic seeds make this a stable test
      val mutated = toks.updated(20, "changed").mkString(" ")
      (100L + i, mutated)
    }
    val exactCopies = (0 until 5).map(i => (200L + i, base(i)))
    originals ++ nearCopies ++ exactCopies
  }

  private lazy val docsDf = docs.toDF("doc_id", "text")

  /** The per-document probe's plan: no join, no aggregate, and no
    * exchange but `SparkUtil.spread`'s round-robin one — the corpus is
    * never shuffled by shingle or by doc_id.
    */
  private def assertOneMapPass(df: DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
      !plan.contains("hashpartitioning") &&
      exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"decontamination must stay one map pass:\n${plan.take(1500)}")
  }

  test("decontaminate: exact overlap counts; exact and Bloom arms plan " +
      "one map pass (no join, aggregate or key exchange)") {
    val bench = Seq(
      (1000L, "alpha beta gamma delta"), // shingles {abg, bgd}
      (1001L, "solo")                    // short-doc fallback shingle
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma zeta"),  // shares "alpha beta gamma": 1 of 2
      (2L, "zeta eta theta iota"),    // clean — must not appear
      (3L, "alpha beta gamma delta"), // identical: 2 of 2
      (4L, "solo")                    // fallback shingle hit: 1 of 1
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, k = 3)
      .select("doc_id", "n_ngrams", "n_shared", "contamination")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 2L, 1L, 0.5), (3L, 2L, 2L, 1.0),
      (4L, 1L, 1L, 1.0)))
    assertOneMapPass(Dedup.decontaminate(corpus, bench, k = 3))
    assertOneMapPass(Dedup.decontaminateBloom(corpus, bench, k = 3))
    val bench2 = docsDf.filter(col("doc_id") % 5 === 0)
    val corpus2 = docsDf.filter(col("doc_id") % 5 =!= 0)
    assertOneMapPass(Dedup.decontaminate(corpus2, bench2, k = 3))
    assertOneMapPass(Dedup.decontaminateBloom(corpus2, bench2, k = 3))
  }

  test("decontaminate EQUALS a plain-Scala model on generated corpora " +
      "(null, empty, one-word, repeated and embedding texts; k = 1, 3, 8); " +
      "contaminatedDocs is its doc set and the Bloom arm a superset") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val phrase = Gen.choose(1, 12).flatMap(Gen.listOfN(_, word))
      .map(_.mkString(" "))
    val text: Gen[Option[String]] = Gen.frequency(1 -> Gen.const(None),
      1 -> Gen.const(Some("")), 2 -> word.map(Some(_)),
      6 -> phrase.map(Some(_)))
    // a corpus text: fresh, a benchmark item verbatim, or one embedded
    // between two phrases; then some texts repeat under new ids
    def corpusText(bench: Seq[Option[String]]): Gen[Option[String]] =
      if (bench.isEmpty) text
      else Gen.frequency(4 -> text, 1 -> Gen.oneOf(bench), 3 -> (for {
        b <- Gen.oneOf(bench); pre <- phrase; post <- phrase
      } yield Some(s"$pre ${b.getOrElse("")} $post")))
    val cases = for {
      k <- Gen.oneOf(1, 3, 8)
      bench <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, text))
      own <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, corpusText(bench)))
      again <- Gen.someOf(own)
    } yield (k, bench, own ++ again)
    def df(texts: Seq[Option[String]], from: Long) =
      texts.zipWithIndex.map { case (t, i) => (from + i, t) }
        .toDF("doc_id", "text")
    val prop = Prop.forAll(cases) { case (k, benchTexts, corpusTexts) =>
      val benchSet = benchTexts
        .flatMap(t => TextHash.shingleHashSet(t.orNull, k)).toSet
      val model = corpusTexts.zipWithIndex.flatMap { case (t, i) =>
        val sh = TextHash.shingleHashSet(t.orNull, k)
        val n = sh.count(benchSet.contains).toLong
        if (n == 0L) None
        else Some((i.toLong, sh.length.toLong, n, n.toDouble / sh.length))
      }.toSet
      val (corpus, bench) = (df(corpusTexts, 0L), df(benchTexts, 1000L))
      val exact = Dedup.decontaminate(corpus, bench, k)
        .as[(Long, Long, Long, Double)].collect().toSet
      val flag = Dedup.contaminatedDocs(corpus, bench, k)
        .as[Long].collect().toSet
      val bloom = Dedup.decontaminateBloom(corpus, bench, k)
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
      exact == model && flag == model.map(_._1) &&
        model.forall { case (id, nGrams, nShared, _) =>
          bloom.get(id).exists(b => b._2 == nGrams && b._3 >= nShared)
        }
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, r.status.toString)
  }

  test("contaminatedDocs (flag-only arm) emits exactly the counting " +
      "arm's doc set — handmade and shared-vocabulary corpora") {
    val bench = Seq(
      (1000L, "alpha beta gamma delta"),
      (1001L, "solo")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma zeta"),
      (2L, "zeta eta theta iota"),
      (3L, "alpha beta gamma delta"),
      (4L, "solo"),
      (5L, "")                        // blank: empty shingle set, clean
    ).toDF("doc_id", "text")
    val flag = Dedup.contaminatedDocs(corpus, bench, k = 3)
      .as[Long].collect().toSet
    val count = Dedup.decontaminate(corpus, bench, k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(flag == count && flag == Set(1L, 3L, 4L))
    // larger shared-vocabulary slice: same equality
    val bench2 = docsDf.filter(col("doc_id") % 5 === 0)
    val corpus2 = docsDf.filter(col("doc_id") % 5 =!= 0)
    val f2 = Dedup.contaminatedDocs(corpus2, bench2, k = 3)
      .as[Long].collect().toSet
    val c2 = Dedup.decontaminate(corpus2, bench2, k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(f2 == c2)
    // map-side shape: no join, no aggregation in the plan
    val plan = Dedup.contaminatedDocs(corpus2, bench2, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"flag arm must stay a map pass:\n$plan")
  }

  test("decontaminateBloom: superset of exact arm, n_shared upper bound, " +
      "shingle FPR within sizing, no join in the plan") {
    // contaminated slice: every 5th doc of the shared-vocabulary corpus is
    // "benchmark"; the rest is corpus. Exact vs Bloom on identical input.
    val bench = docsDf.filter(col("doc_id") % 5 === 0)
    val corpus = docsDf.filter(col("doc_id") % 5 =!= 0)
    val exact = Dedup.decontaminate(corpus, bench, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bloom = Dedup.decontaminateBloom(corpus, bench, k = 3, fpp = 1e-4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // no false negatives: every exactly-contaminated doc flagged, with at
    // least its true shared-shingle count
    exact.foreach { case (id, nShared) =>
      assert(bloom.contains(id), s"bloom arm missed contaminated doc $id")
      assert(bloom(id) >= nShared,
        s"doc $id: bloom n_shared ${bloom(id)} < exact $nShared")
    }
    // per-shingle FPR bound on a disjoint-vocabulary clean corpus: count
    // spurious shared shingles against a generous 10x-of-fpp=1% ceiling
    // (23k Bernoulli(0.01) trials — far above any plausible noise floor)
    val clean = (0 until 400).map { i =>
      (5000L + i, (0 until 60).map(j =>
        java.lang.Long.toHexString(TextHash.mix(i.toLong * 131 + 17, j.toLong)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val fp = Dedup.decontaminateBloom(clean, bench, k = 3, fpp = 0.01)
      .agg(coalesce(sum("n_shared"), lit(0L))).collect()(0).getLong(0)
    val nCleanShingles = clean.select(
      explode(Dedup.shingles(col("text"), 3))).distinct().count()
    assert(fp <= (nCleanShingles * 0.01 * 10).toLong + 10,
      s"bloom FPR blew past sizing: $fp of $nCleanShingles clean shingles")
    // the corpus is probed map-side against the broadcast filter: the
    // plan contains NO join of any kind
    val plan = Dedup.decontaminateBloom(corpus, bench, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bloom arm must not join:\n${plan.take(1500)}")
  }

  test("decontaminateFuzzy: embedded item caught at containment 1.0 " +
      "where symmetric Jaccard misses; exact counts; clean docs absent") {
    val item = "alpha beta gamma delta epsilon zeta"
    val filler = (0 until 60).map(j =>
      java.lang.Long.toHexString(TextHash.mix(99L, j.toLong))).mkString(" ")
    val bench = Seq((1000L, item)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"$filler $item"),          // item embedded in a long doc
      (2L, "alpha beta gamma delta"),  // shares {abg, bgd}: 2 of 4
      (3L, filler)                     // clean — must not appear
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateFuzzy(corpus, bench, k = 3, threshold = 0.5)
      .select("doc_id", "bench_id", "n_bench", "n_shared", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 1000L, 4L, 4L, 1.0), (2L, 1000L, 4L, 2L, 0.5)))
    // the motivating gap: the embedded pair's symmetric Jaccard is far
    // below any usable near-dup threshold — only containment sees it
    assert(TextHash.jaccardShingles(s"$filler $item", item, 3) < 0.1)
    // the benchmark index is broadcast and each corpus row probes it:
    // the executed plan joins nothing and shuffles nothing by key
    val q = Dedup.decontaminateFuzzy(corpus, bench, k = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("hashpartitioning"),
      s"corpus must probe the broadcast index:\n${plan.take(1500)}")
  }

  test("decontaminateFuzzy EQUALS brute-force containment at two " +
      "thresholds (prefix filter full recall)") {
    val bench = docsDf.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("bench_id"), col("text").as("text_b"))
    val corpus = docsDf.filter(col("doc_id") % 5 =!= 0)
    for (t <- Seq(0.3, 0.6)) {
      val brute = corpus.select(col("doc_id"), col("text").as("text_a"))
        .crossJoin(bench)
        .collect().flatMap { r =>
          val nShared = TextHash.shingleIntersectCount(
            r.getString(1), r.getString(3), 3)
          val nBench = TextHash.shingleHashSet(r.getString(3), 3).length.toLong
          val c = nShared.toDouble / nBench
          if (nBench > 0 && c >= t)
            Some((r.getLong(0), r.getLong(2), nBench, nShared, c))
          else None
        }.toSet
      val got = Dedup.decontaminateFuzzy(corpus,
          bench.select(col("bench_id").as("doc_id"), col("text_b").as("text")),
          k = 3, threshold = t)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(got == brute,
        s"t=$t: got ${got.size} pairs, brute ${brute.size}; " +
          s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    }
  }

  test("exact dedup groups exact copies") {
    val d = Dedup.exact(docsDf)
    assert(d.count() == 40) // 45 docs, 5 exact copies collapse
    assert(d.filter(col("n_copies") === 2).count() == 5)
  }

  test("simhash near-dups EQUAL brute force at maxHamming = 8 (full recall)") {
    val withSig = docsDf.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
    val a = withSig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = withSig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    for (maxH <- Seq(3, 8)) {
      val brute = a.crossJoin(b)
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", Dedup.hamming(col("sig_a"), col("sig_b")))
        .filter(col("hamming") <= maxH)
        .select("doc_a", "doc_b", "hamming")
      val lsh = Dedup.simhashNearDups(docsDf, maxHamming = maxH)
      assert(lsh.exceptAll(brute).count() == 0, s"false positives at $maxH")
      assert(brute.exceptAll(lsh).count() == 0, s"missed pairs at $maxH")
    }
  }

  test("simhash banding keys are wide: candidate volume far below all-pairs") {
    // corpus of unrelated docs with DISJOINT token sets (docs sharing a
    // vocabulary have correlated simhashes by design — that is the
    // operator working, not the banding failing), so signatures are
    // uniform and the candidate volume is bounded by
    // C(m,2)·C(n,2)/2^(2·⌊64/m⌋). At maxHamming = 8 (m = 10, ⌊64/m⌋ = 6 ⇒
    // ≥ 12-bit packed keys) that is ~1.1% of all pairs in expectation —
    // the old single-chunk scheme's 7-bit keys admitted ≥ 9/128 ≈ 7% BY
    // KEY-SPACE ALONE. Assert the volume and that no join key is ever
    // narrower than 12 bits of signature.
    val n = 400
    val rand = (0 until n).map { i =>
      (1000L + i, (0 until 60).map(j =>
        java.lang.Long.toHexString(TextHash.mix(i.toLong * 61 + 7, j.toLong)))
        .mkString(" "))
    }
    val df = rand.toDF("doc_id", "text")
    val allPairs = n.toLong * (n - 1) / 2
    val cands = Dedup.simhashCandidatePairs(df, maxHamming = 8).count()
    assert(cands < allPairs / 25,
      s"candidate volume $cands vs all-pairs $allPairs — banding degenerated")
    // static key-width guarantees: ≥ 12 bits of signature through the
    // supported sweet spot (maxHamming ≤ 8, the driver's setting), and for
    // ANY distance the two-chunk key is ~2× the old single-chunk width
    // 64/(maxH+1) — beyond ~10 the documented scale answer is a wider
    // (128-bit) simhash, not more chunks
    for (maxH <- 0 to 8)
      assert(2 * (64 / (maxH + 2)) >= 12, s"key width collapsed at maxHamming=$maxH")
    for (maxH <- 0 to 30)
      assert(2 * (64 / (maxH + 2)) >= 64 / (maxH + 1),
        s"combination key narrower than single-chunk at maxHamming=$maxH")
  }

  test("simhash128 near-dups EQUAL brute force (full recall), straddling " +
      "chunks included") {
    val sig = udf((t: String) => TextHash.simhash128(t))
    val withSig = docsDf.select(col("doc_id"), sig(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("lo"), col("s._2").as("hi"))
    val a = withSig.select(col("doc_id").as("doc_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = withSig.select(col("doc_id").as("doc_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    // maxHamming 12 → m = 14 chunks of width 10/9 over 128 bits, several
    // straddling the 64-bit word boundary — the bits128 extraction and
    // the Column shift/mask mirror must agree exactly
    for (maxH <- Seq(4, 12)) {
      val brute = a.crossJoin(b)
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          (call_function("bit_count", col("lo_a").bitwiseXOR(col("lo_b"))) +
            call_function("bit_count", col("hi_a").bitwiseXOR(col("hi_b"))))
            .cast("long"))
        .filter(col("hamming") <= maxH)
        .select("doc_a", "doc_b", "hamming")
      val lsh = Dedup.simhashNearDups128(docsDf, maxHamming = maxH)
      assert(lsh.exceptAll(brute).count() == 0, s"false positives at $maxH")
      assert(brute.exceptAll(lsh).count() == 0, s"missed pairs at $maxH")
    }
  }

  test("simhash128 kernel: chunk extraction matches word arithmetic on " +
      "boundary-straddling chunks") {
    // 128-bit value with a recognizable bit pattern around the boundary
    val lo = 0xF0F0F0F0F0F0F0F0L
    val hi = 0x0F0F0F0F0F0F0F0FL
    // chunk [60, 70): bits 60-63 of lo = 0xF, bits 0-5 of hi = 0xF →
    // value = (lo >>> 60) | (hi << 4) masked to 10 bits = 0xFF
    assert(TextHash.bits128(lo, hi, 60, 10) == 0xFFL)
    assert(TextHash.bits128(lo, hi, 0, 8) == 0xF0L)
    assert(TextHash.bits128(lo, hi, 64, 8) == 0x0FL)
    assert(TextHash.bits128(lo, hi, 120, 8) == 0x0FL)
    // widths tile exactly
    for (m <- Seq(6, 14, 30))
      assert(TextHash.chunkWidths(m, 128).sum == 128)
  }

  test("minhash near-dups: subset of brute force, planted near-dups found") {
    val k = 3; val threshold = 0.5
    val brute = docsDf.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      .crossJoin(docsDf.select(col("doc_id").as("doc_b"), col("text").as("text_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", Dedup.jaccard(col("text_a"), col("text_b"), k))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    val lsh = Dedup.minhashNearDups(docsDf, threshold = threshold)
    // precision 1 by construction (candidates are Jaccard-verified)
    assert(lsh.exceptAll(brute).count() == 0)
    // every planted mutation pair (i, 100+i) and copy pair (i, 200+i) found
    val found = lsh.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    (0 until 10).foreach(i => assert(found.contains((i.toLong, 100L + i)),
      s"missed near-copy pair ($i, ${100 + i})"))
    (0 until 5).foreach(i => assert(found.contains((i.toLong, 200L + i)),
      s"missed exact-copy pair ($i, ${200 + i})"))
  }

  test("ngram Jaccard near-dups EQUAL brute force at three thresholds " +
      "(AllPairs prefix filter is lossless)") {
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val got = Dedup.ngramJaccardNearDups(docsDf, k = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        j = TextHash.jaccardShingles(ta, tb, 3) if j >= t
      } yield (ia, ib, j)).toSet
      assert(got == brute,
        s"threshold $t: got ${got.size} pairs, brute ${brute.size}")
      assert(brute.nonEmpty, s"threshold $t: vacuous fixture")
    }
  }

  test("ngram Jaccard: short docs pair on their whole-text shingle, " +
      "blank docs pair with nothing") {
    val d = Seq((1L, "alpha beta"), (2L, "  Alpha   BETA "), (3L, ""),
      (4L, "   "), (5L, "alpha")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardNearDups(d, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("duplicate spans EQUAL brute force; hash arm agrees; short docs " +
      "contribute nothing") {
    val boiler =
      "please read these terms and conditions very carefully before you proceed further"
    val d = Seq(
      (1L, s"intro one $boiler outro alpha beta gamma delta"),
      (2L, s"different lead-in text here $boiler and a tail"),
      (3L, s"third document also contains $boiler somewhere inside it"),
      (4L, "a unique document with no repeated ten gram span at all kappa"),
      (5L, "short doc")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(d, k = 10, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // brute force locally: every positional 10-gram per doc
    val local = Seq(
      1L -> s"intro one $boiler outro alpha beta gamma delta",
      2L -> s"different lead-in text here $boiler and a tail",
      3L -> s"third document also contains $boiler somewhere inside it",
      4L -> "a unique document with no repeated ten gram span at all kappa",
      5L -> "short doc")
    val spans = local.flatMap { case (id, t) =>
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < 10) Seq.empty
      else (0 to w.length - 10).map(i => (id, w.slice(i, i + 10).mkString(" ")))
    }
    val brute = spans.groupBy(_._2).collect {
      case (span, occ) if occ.map(_._1).distinct.size >= 2 =>
        (span, occ.map(_._1).distinct.size.toLong, occ.size.toLong)
    }.toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(got.exists(_._1.contains("terms and conditions")), s"got $got")
    assert(got.forall(_._2 >= 2))
    // the 8-byte-key scale arm reports the same spans and counts
    val hashed = Dedup.duplicateSpans(d, k = 10, minDocs = 2, hashOnly = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashed == brute)
  }

  test("span coverage: exact interval union per doc, clean and short " +
      "docs score zero") {
    val boiler =
      "please read these terms and conditions very carefully before you proceed further"
    // doc 1: 12 boiler tokens at positions 3..14 of 19; doc 2 and 3 share
    // them too, so every boiler position is covered; no other span repeats
    val d = Seq(
      (1L, s"intro one two $boiler outro alpha beta gamma"),
      (2L, s"different lead-in text here $boiler and a tail"),
      (3L, s"third document also contains $boiler somewhere inside it"),
      (4L, "a unique document with no repeated ten gram span at all kappa"),
      (5L, "short doc"), (6L, "")).toDF("doc_id", "text")
    val got = Dedup.spanCoverage(d, k = 10, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // brute force: recompute coverage locally from positional spans
    val local = Seq(
      1L -> s"intro one two $boiler outro alpha beta gamma",
      2L -> s"different lead-in text here $boiler and a tail",
      3L -> s"third document also contains $boiler somewhere inside it",
      4L -> "a unique document with no repeated ten gram span at all kappa",
      5L -> "short doc", 6L -> "")
    val spans = local.flatMap { case (id, t) =>
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      (0 to w.length - 10).map(i => (id, i, w.slice(i, i + 10).mkString(" ")))
    }
    val dupSet = spans.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    local.foreach { case (id, t) =>
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val covered = spans.filter(s => s._1 == id && dupSet(s._3))
        .flatMap(s => s._2 until s._2 + 10).distinct.size.toLong
      val expect = (w.length.toLong, covered,
        if (w.isEmpty) 0.0 else covered.toDouble / w.length)
      assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
    }
    assert(got(4L)._3 == 0.0 && got(5L)._3 == 0.0 && got(6L)._3 == 0.0)
    assert(got(1L)._3 > 0.5, s"boiler-heavy doc must score high: ${got(1L)}")
  }

  test("span removal: covered positions cut in order, clean docs " +
      "unchanged, counts reconcile with coverage") {
    val boiler =
      "please read these terms and conditions very carefully before you proceed further"
    val local = Seq(
      1L -> s"intro one two $boiler outro alpha beta gamma",
      2L -> s"different lead-in text here $boiler and a tail",
      3L -> s"third document also contains $boiler somewhere inside it",
      4L -> "a unique document with no repeated ten gram span at all kappa",
      5L -> "short doc", 6L -> "")
    val d = local.toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(d, k = 10, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == local.map(_._1).toSet)
    // brute force: positional spans → dup set → cut covered positions
    val spans = local.flatMap { case (id, t) =>
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      (0 to w.length - 10).map(i => (id, i, w.slice(i, i + 10).mkString(" ")))
    }
    val dupSet = spans.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    local.foreach { case (id, t) =>
      val w = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val covered = spans.filter(s => s._1 == id && dupSet(s._3))
        .flatMap(s => s._2 until s._2 + 10).toSet
      val cleanExp = w.zipWithIndex.collect {
        case (tok, i) if !covered(i) => tok
      }.mkString(" ")
      val expect = (w.length.toLong, covered.size.toLong, cleanExp)
      assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
    }
    // uncovered docs keep their full normalized token stream
    assert(got(4L)._2 == 0L &&
      got(4L)._3 == local.toMap.apply(4L).toLowerCase)
    assert(got(6L) == ((0L, 0L, "")))
    // counts reconcile with spanCoverage exactly
    val cov = Dedup.spanCoverage(d, k = 10, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (_, removed, _)) =>
      assert(removed == cov(id), s"doc $id removed $removed != cov ${cov(id)}")
    }
  }

  test("incremental minhash near-dup EQUALS the full-corpus pair set " +
      "restricted to pairs touching the batch; old text never re-banded") {
    // batch = the near/exact copies (ids ≥ 100); snapshot = originals
    val old = docsDf.filter(col("doc_id") < 100)
    val fresh = docsDf.filter(col("doc_id") >= 100)
    val idx = Dedup.minhashIndex(old)
    val inc = Dedup.minhashNearDupsIncremental(idx, old, fresh,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDups(docsDf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 >= 100 || p._2 >= 100)
    assert(inc == expected,
      s"inc ${inc.size} vs expected ${expected.size}")
    assert(inc.nonEmpty) // copies of originals must surface
    // old-only pairs are the index's job from its own epoch: none here
    assert(inc.forall(p => p._1 >= 100 || p._2 >= 100))
    // determinism: a second run over a repartitioned batch is identical
    val again = Dedup.minhashNearDupsIncremental(idx, old,
        fresh.repartition(5), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == inc)
  }

  test("hash-keyed scale arms agree with the string arms: span coverage, " +
      "span removal, unmaterialized ngram join") {
    val boiler =
      "please read these terms and conditions very carefully before you proceed further"
    val d = Seq(
      (1L, s"intro one two $boiler outro alpha beta gamma"),
      (2L, s"different lead-in text here $boiler and a tail"),
      (3L, s"third document also contains $boiler somewhere inside it"),
      (4L, "a unique document with no repeated ten gram span at all kappa"),
      (5L, "short doc"), (6L, "")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.spanCoverage(d, 10, 2, hashKeys = true)) ==
      rows(Dedup.spanCoverage(d, 10, 2)))
    assert(rows(Dedup.removeDuplicateSpans(d, 10, 2, hashKeys = true)) ==
      rows(Dedup.removeDuplicateSpans(d, 10, 2)))
    assert(rows(Dedup.ngramJaccardNearDups(docsDf, 3, 0.5,
        materializeShingles = false)) ==
      rows(Dedup.ngramJaccardNearDups(docsDf, 3, 0.5)))
  }

  test("survivors removes every non-canonical near-dup") {
    val dups = Dedup.minhashNearDups(docsDf, threshold = 0.5)
    val kept = Dedup.survivors(docsDf, dups)
    val losers = dups.select("doc_b").distinct().count()
    assert(kept.count() == docsDf.count() - losers)
  }

  test("nearDupDedup: transitive clusters, min-id representative, " +
      "singletons kept, chains collapse to ONE representative") {
    // chain 1~2, 2~3 plus isolated pair 10~11: transitive closure must
    // put 1,2,3 in ONE cluster (survivors' anti-join keeps only 1 here
    // too; it keeps two of a~c, b~c)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ids = (1L to 5L) ++ Seq(10L, 11L)
    val docsAll = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val got = Dedup.nearDupDedup(docsAll, pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.size == ids.size) // one row per document, always
    assert(got(1L) == ((1L, 3L, true)))
    assert(got(2L) == ((1L, 3L, false)))
    assert(got(3L) == ((1L, 3L, false)))
    assert(got(4L) == ((4L, 1L, true))) // singleton: own cluster, kept
    assert(got(5L) == ((5L, 1L, true)))
    assert(got(10L) == ((10L, 2L, true)))
    assert(got(11L) == ((10L, 2L, false)))
    // exactly one representative per cluster
    val perCluster = got.values.groupBy(_._1)
      .map { case (_, vs) => vs.count(_._3) }
    assert(perCluster.forall(_ == 1))
  }

  test("nearDupDedup over real pair generators: every pair co-clustered, " +
      "kept set = distinct cluster ids, corpus join is broadcast") {
    val pairs = Dedup.ngramJaccardNearDups(docsDf, k = 3, threshold = 0.5)
    val labeled = Dedup.nearDupDedup(docsDf, pairs)
    val lab = labeled.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.select("doc_a", "doc_b").collect().foreach { r =>
      assert(lab(r.getLong(0)) == lab(r.getLong(1)),
        s"pair ${r.getLong(0)}~${r.getLong(1)} split across clusters")
    }
    assert(labeled.filter(col("keep")).count() ==
      labeled.select("cluster").distinct().count())
    assert(labeled.count() == docsDf.count())
    assert(labeled.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }
}
