package graft.dedup

import graft.sim.SetSimJoin
import graft.text.TextHash
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for training-data pipelines, each scaling to
  * shuffle-partitioned corpora:
  *
  *  - exact: hash-groupBy on normalized content;
  *  - MinHash + LSH: word-shingle min-hash signatures banded into buckets,
  *    candidate pairs only within buckets (no all-pairs), shingle-Jaccard
  *    verify; an incremental arm against a persisted banding index;
  *  - SimHash: 64-bit hyperplane-free simhash from token hashes, near-dup
  *    when Hamming distance ≤ k (banded on two-chunk combinations of k+2
  *    chunks — pigeonhole guarantees full recall at the requested
  *    distance with wide join keys), and a 128-bit arm;
  *  - n-gram Jaccard: exact near-dup pairs, the self-join shape of
  *    `graft.sim.SetSimJoin`;
  *  - repeated spans: positional k-gram substring dedup, coverage and
  *    removal;
  *  - benchmark decontamination: one per-document pass tokenizes each
  *    corpus document once and probes a broadcast benchmark structure —
  *    a sorted shingle array (exact counts and the flag-only arm), a
  *    Bloom filter, or the per-item containment index of `SetSimJoin`;
  *  - embedding cosine: see graft.sim.Similarity.
  *
  * The set-similarity operators only tokenize and name columns: every
  * prefix, length and overlap bound lives in `SetSimJoin`. Text-hashing
  * kernels are JIT'd Scala UDFs (graft.text.TextHash); the shuffles are
  * the bucket and prefix joins and the group-bys, each keyed to spread
  * uniformly, and they carry ids and hashes, never text.
  */
object Dedup {

  private def norm(c: Column) =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact dedup: canonical row per distinct normalized text. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(norm(col("text")).as("text_norm"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Word shingles of length k. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(norm(text), " ")
    array_distinct(filter(
      transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => array_join(slice(toks, i, lit(k)), " ")),
      s => length(s) > 0))
  }

  /** MinHash signature: `perms` min-hashes of the shingle set. JIT'd
    * Scala kernel (graft.text.TextHash) — the arithmetic is the work, so
    * a UDF beats interpreted higher-order expressions by orders of
    * magnitude; the surrounding joins stay declarative.
    */
  def minhashSignature(text: Column, perms: Int = 32, k: Int = 3): Column = {
    val f = udf((t: String) => TextHash.minhash(t, perms, k))
    f(text)
  }

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `perms/bands` rows; docs sharing any band bucket become candidates;
    * verified by shingle Jaccard ≥ `threshold`. Returns (doc_a, doc_b,
    * jaccard) with doc_a < doc_b.
    *
    * Scale shape: the ×bands explode and the bucket self-join carry ONLY
    * (band, bucket, doc_id) — never the text. At corpus scale shuffling
    * the text through 8 band replicas would move the whole corpus 8×;
    * instead the (rare) surviving candidate pairs semi-join the text back
    * for the exact-Jaccard verification.
    */
  def minhashNearDups(documentsIn: DataFrame, perms: Int = 32, bands: Int = 8,
      k: Int = 3, threshold: Double = 0.7): DataFrame = {
    // materialize the banding table: it self-joins below, and Catalyst
    // plans each join side as an independent subtree (no CSE) — without
    // the boundary every document is shingled and min-hashed TWICE
    val banded = minhashIndex(documentsIn, perms, bands, k)
      .localCheckpoint(true)
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(pairs, documentsIn, k, threshold)
  }

  /** Persisted MinHash-LSH index of a corpus snapshot: the
    * (doc_id, band, bucket) banding table of `minhashNearDups`, exposed
    * so a continuously-growing corpus can write it once (bucketed
    * Parquet by (band, bucket) at scale) and dedup every later increment
    * against it WITHOUT re-hashing a byte of old text — the pattern that
    * keeps crawl-refresh dedup linear in the increment, not the corpus.
    */
  def minhashIndex(documentsIn: DataFrame, perms: Int = 32, bands: Int = 8,
      k: Int = 3): DataFrame = {
    val rows = perms / bands
    // the minhash signature pass is the compute-heavy stage — spread it
    // when the input's file layout under-parallelizes (see SparkUtil)
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val sigs = documents.select(col("doc_id"),
      minhashSignature(col("text"), perms, k).as("sig"))
    sigs.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bucket",
        xxhash64(col("band"),
          array_join(slice(col("sig"), col("band") * rows + 1, lit(rows)), ",")))
      .select(col("doc_id"), col("band"), col("bucket"))
  }

  /** Incremental near-dup detection: all near-duplicate pairs with AT
    * LEAST ONE side in the new batch — (new × old) via the persisted
    * `index`, plus (new × new) via a self-join — without re-banding the
    * old corpus. Banding is deterministic, so the result EQUALS the
    * full-corpus `minhashNearDups(old ∪ new)` restricted to pairs
    * touching the batch (the committed witness asserts exactly that).
    *
    * Scale shape: the old corpus contributes only its (band, bucket,
    * doc_id) index rows — at 100 TB the index equi-join prunes to the
    * buckets the batch actually hits (partition pruning on a bucketed
    * index table), old TEXT is touched only for verified candidates via
    * the final semi-join on `corpusTexts`, and the batch itself is
    * hashed once. Output (doc_a, doc_b, jaccard) with doc_a < doc_b,
    * exactly like `minhashNearDups`.
    *
    * @param index       `minhashIndex` of the snapshot (old docs only)
    * @param corpusTexts (doc_id, text) of the snapshot — the corpus
    *                    table itself; only candidate ids read it
    * @param newDocs     the increment (ids disjoint from the snapshot)
    */
  def minhashNearDupsIncremental(index: DataFrame, corpusTexts: DataFrame,
      newDocs: DataFrame, perms: Int = 32, bands: Int = 8, k: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    // new-batch banding, materialized: it feeds BOTH the index join and
    // its own self-join (no-CSE rule)
    val newBanded = minhashIndex(newDocs, perms, bands, k)
      .localCheckpoint(true)
    val newSide = newBanded.select(col("band"), col("bucket"),
      col("doc_id").as("new_id"))
    val oldPairs = newSide
      .join(index.select(col("band"), col("bucket"),
        col("doc_id").as("old_id")), Seq("band", "bucket"))
      .filter(col("old_id") =!= col("new_id")) // guard: overlapping ids
      .select(least(col("old_id"), col("new_id")).as("doc_a"),
        greatest(col("old_id"), col("new_id")).as("doc_b"))
    val newPairs = newSide
      .join(newBanded.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b")), Seq("band", "bucket"))
      .filter(col("new_id") < col("doc_b"))
      .select(col("new_id").as("doc_a"), col("doc_b"))
    val pairs = oldPairs.unionByName(newPairs)
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(pairs, corpusTexts.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text"))), k, threshold)
  }

  /** The MinHash verify: candidate (doc_a, doc_b) pairs whose shingle
    * Jaccard over the (doc_id, text) rows of `texts` is ≥ `threshold`, as
    * (doc_a, doc_b, jaccard). Only candidate ids read the text.
    */
  private def verifyPairs(pairs: DataFrame, texts: DataFrame, k: Int,
      threshold: Double): DataFrame =
    pairs
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")),
        Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")),
        Seq("doc_b"))
      .withColumn("jaccard", jaccardUdf(k)(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Shingle Jaccard similarity of two texts. */
  def jaccardUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: String, b: String) => TextHash.jaccardShingles(a, b, k))

  def jaccard(a: Column, b: Column, k: Int = 3): Column = jaccardUdf(k)(a, b)

  /** 64-bit SimHash from token hashes: bit i of the result is the sign of
    * the sum over tokens of (bit i of hash(token) ? +1 : -1). JIT'd
    * kernel, same rationale as `minhashSignature`.
    */
  def simhash(text: Column): Column = {
    val f = udf((t: String) => TextHash.simhash64(t))
    f(text)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dups: band the 64-bit hash into `maxHamming + 2` chunks
    * (widths as even as possible); by pigeonhole a pair within Hamming
    * distance ≤ maxHamming differs in at most maxHamming chunks, so at
    * least TWO chunks match EXACTLY — the pair shares at least one of the
    * C(m,2) two-chunk combination keys. Full recall with an equi-key
    * join, never all-pairs, and the join key carries 2·⌊64/m⌋ bits of
    * signature (both chunk values packed into one long) instead of the
    * single-chunk ⌊64/(k+1)⌋ bits: at maxHamming = 8 that is ~12.8-bit
    * values spread over 45 disjoint combination keys, vs the degenerate
    * 7-bit single-chunk keys whose buckets grow as n/128 and turn the
    * verify quadratic at corpus scale. Only (combo, key, doc_id, sig)
    * rides the explode; the Hamming verify needs no text.
    *
    * Candidate-volume envelope (uniform-hash worst case): E[candidates] ≈
    * C(m,2)·n²/2^(2·⌊64/m⌋); at maxHamming = 8 the coefficient is ~155×
    * smaller than the single-chunk scheme's (k+1)/2^⌊64/(k+1)⌋. For
    * guarantees much beyond ~10 bits on a 64-bit simhash the right scale
    * move is a wider (128-bit) simhash, not more chunks.
    */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (nChunks, widths, offsets, joined) =
      simhashComboJoin(documents, maxHamming)
    // canonical-route + Hamming verify in ONE map-side filter: a pair at
    // distance d matches through C(m−d, 2) ≥ 1 combination keys; keeping
    // only the row whose combo is the lexicographically-first clean
    // (error-free) chunk pair makes each pair survive exactly once, so no
    // pair-dedup shuffle follows the join at all. Pure codegen'd integer
    // ops — a Scala UDF here costs ~2× the whole join (measured 11.8M
    // candidate rows: 3 s join, +5.5 s UDF filter, +0.3 s this filter).
    val x = col("sig_a").bitwiseXOR(col("sig_b"))
    // bit i of cm = 1 iff chunk i of the xor is all-zero (clean)
    val cm = (0 until nChunks).map { i =>
      val mask = if (widths(i) >= 64) -1L else (1L << widths(i)) - 1L
      when(call_function("shiftrightunsigned", x, lit(offsets(i)))
        .bitwiseAND(lit(mask)) === 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    joined
      .filter(call_function("bit_count", x) <= maxHamming &&
        col("combo") === canonicalCombo(cm, nChunks))
      .withColumn("hamming", call_function("bit_count", x).cast("long"))
      .select("doc_a", "doc_b", "hamming")
  }

  /** Canonical combo as a function of the m-bit clean mask: the
    * lexicographically-first clean chunk pair, encoded i·m + j. Catalyst
    * inlines aliased subtrees into every reference (no CSE), so deriving
    * first/second-set-bit indexes arithmetically from `cm` replicates
    * the m-CASE mask tree ~6× into the join condition (measured ~600
    * int ops per candidate row); a 2^m lookup-table literal references
    * `cm` exactly once. The measured win was at m = 10 (1 KB table);
    * capped at 2^14 (64 KB) — beyond that the table bloats plan
    * serialization and task binaries for no measured benefit, so larger
    * maxHamming falls back to the arithmetic bit-trick form.
    */
  private def canonicalCombo(cm: Column, nChunks: Int): Column =
    if (nChunks <= 14) {
      val table = Array.tabulate(1 << nChunks) { cmv =>
        val rest = cmv & (cmv - 1)
        if (cmv == 0 || rest == 0) -1 // < 2 clean chunks: never matches
        else Integer.numberOfTrailingZeros(cmv) * nChunks +
          Integer.numberOfTrailingZeros(rest)
      }
      element_at(lit(table), cm.cast("int") + 1)
    } else {
      // lowest set bit b: bit_count((b & -b) - 1); clearing it
      // (cm & (cm-1)) yields the second-lowest. On rejected rows the
      // -1 underflow just yields a never-matching 64.
      def lowestIdx(c: Column): Column =
        call_function("bit_count", c.bitwiseAND(-c) - 1)
      lowestIdx(cm) * nChunks + lowestIdx(cm.bitwiseAND(cm - 1))
    }

  /** 128-bit SimHash near-dups — the documented scale move past the
    * 64-bit hash: same C(m,2) two-chunk combination banding and
    * canonical-route filter (full recall at Hamming ≤ maxHamming by
    * pigeonhole, exactly-once per pair, no pair-dedup shuffle), but the
    * combo keys carry 2·⌊128/m⌋ signature bits — double the width — so
    * the uniform-collision candidate floor drops quadratically and
    * Hamming budgets past ~10 bits stay usable. Kernel returns
    * (lo, hi, combo, key) in one pass; signatures materialized before
    * the self-join (each join side is an independent subtree).
    */
  def simhashNearDups128(documentsIn: DataFrame, maxHamming: Int = 12): DataFrame = {
    // 62 keeps the clean mask in one long (m = maxHamming + 2 ≤ 64) —
    // far past any useful near-dup Hamming budget on a 128-bit simhash
    require(maxHamming >= 0 && maxHamming <= 62,
      s"maxHamming must be in [0, 62], got $maxHamming")
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val nChunks = maxHamming + 2
    val widths = TextHash.chunkWidths(nChunks, 128)
    val offsets = widths.scanLeft(0)(_ + _)
    val bands = udf((t: String) => TextHash.simhashBands128(t, maxHamming))

    val sigRows = documents
      .select(col("doc_id"), bands(col("text")).as("bands"))
      .localCheckpoint(true)
    val chunked = sigRows
      .select(col("doc_id"), explode(col("bands")).as("ck"))
      .select(col("doc_id"), col("ck._1").as("lo"), col("ck._2").as("hi"),
        col("ck._3").as("combo"), col("ck._4").as("key"))
    val a = chunked.select(col("combo"), col("key"),
      col("doc_id").as("doc_a"), col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = chunked.select(col("combo"), col("key"),
      col("doc_id").as("doc_b"), col("lo").as("lo_b"), col("hi").as("hi_b"))
    val joined = a.join(b, Seq("combo", "key"))
      .filter(col("doc_a") < col("doc_b"))

    val xlo = col("lo_a").bitwiseXOR(col("lo_b"))
    val xhi = col("hi_a").bitwiseXOR(col("hi_b"))
    // bit i of cm = 1 iff chunk i of the 128-bit xor is all-zero; chunks
    // may straddle the word boundary — pure Column shift/mask arithmetic
    val cm = (0 until nChunks).map { i =>
      val off = offsets(i); val w = widths(i)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      val v: Column =
        if (off + w <= 64) call_function("shiftrightunsigned", xlo, lit(off))
        else if (off >= 64) call_function("shiftrightunsigned", xhi, lit(off - 64))
        else call_function("shiftrightunsigned", xlo, lit(off))
          .bitwiseOR(call_function("shiftleft", xhi, lit(64 - off)))
      when(v.bitwiseAND(lit(mask)) === 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val hamming = (call_function("bit_count", xlo) +
      call_function("bit_count", xhi)).cast("long")
    joined
      .filter(hamming <= maxHamming && col("combo") === canonicalCombo(cm, nChunks))
      .withColumn("hamming", hamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Distinct candidate pairs sharing a two-chunk combination key, before
    * the exact-Hamming verify. `private[graft]` so the key-cardinality
    * scale test can assert the candidate volume directly.
    */
  private[graft] def simhashCandidatePairs(documents: DataFrame,
      maxHamming: Int): DataFrame =
    simhashComboJoin(documents, maxHamming)._4
      .dropDuplicates("doc_a", "doc_b")

  /** Shared banding core: explode each doc's C(m,2) two-chunk combination
    * band keys (m = maxHamming + 2, single-pass JIT'd kernel) and
    * self-equi-join on (combo, value bucket).
    */
  private def simhashComboJoin(documentsIn: DataFrame, maxHamming: Int)
      : (Int, Array[Int], Array[Int], DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 62,
      s"maxHamming must be in [0, 62], got $maxHamming")
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val nChunks = maxHamming + 2
    val widths = TextHash.simhashChunkWidths(nChunks)
    val offsets = widths.scanLeft(0)(_ + _)
    val bands = udf((t: String) => TextHash.simhashBands(t, maxHamming))

    // ONE text hash per doc: the kernel returns (sig, combo, key) triples
    // and rides in a single projection (a separate sig UDF would
    // tokenize+hash every text a second time — no-CSE Catalyst cannot
    // share it), MATERIALIZED before the explode because the banding
    // table self-joins below and each join side would otherwise re-run
    // the kernel over the corpus. ~1 KB/doc materialized vs re-tokenizing
    // the text; the post-boundary explode is pure array iteration.
    val sigRows = documents
      .select(col("doc_id"), bands(col("text")).as("bands"))
      .localCheckpoint(true)
    val chunked = sigRows
      .select(col("doc_id"), explode(col("bands")).as("ck"))
      .select(col("doc_id"), col("ck._1").as("sig"),
        col("ck._2").as("combo"), col("ck._3").as("key"))
    val a = chunked.select(col("combo"), col("key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("combo"), col("key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val joined = a.join(b, Seq("combo", "key"))
      .filter(col("doc_a") < col("doc_b"))
    (nChunks, widths, offsets, joined)
  }

  /** Exact n-gram Jaccard near-dup join: every document pair whose
    * word-k-gram shingle-set Jaccard reaches `threshold`, with full recall
    * and without an all-pairs comparison. Each document is tokenized once
    * into a (doc_id, distinct shingle-hash set) table, which
    * `graft.sim.SetSimJoin.selfJoin` (AllPairs prefix filter in
    * global-rarity order, PPJoin length and positional filters, exact
    * verify) consumes for the document frequencies, the prefix and the
    * verify. Every shuffle carries (doc_id, shingle-hash) longs, never
    * text.
    *
    * The shingle table has three consumers and Catalyst does not share a
    * subtree across branches, so by default it is materialized once
    * (`localCheckpoint`, ~8 B a shingle on executor disk). With
    * `materializeShingles = false` each consumer re-tokenizes instead:
    * no intermediate storage, for inputs where the shingle table rivals
    * the corpus. The pairs are identical.
    *
    * Output (doc_a, doc_b, jaccard), doc_a < doc_b — jaccard is
    * |A∩B| / |A∪B| over distinct shingle sets, so the whole operator is
    * ANSI-SQL-expressible and oracle-checked exactly (the one near-dup
    * operator where that is possible; minhash/simhash are hash-seeded).
    * Documents with an EMPTY shingle set (blank text) pair with nothing —
    * a pair must share at least one shingle, matching the SQL definition.
    */
  def ngramJaccardNearDups(documentsIn: DataFrame, k: Int = 3,
      threshold: Double = 0.5,
      materializeShingles: Boolean = true): DataFrame = {
    val shSet = udf((t: String) => TextHash.shingleHashSet(t, k))
    val sets = graft.core.SparkUtil.spread(documentsIn)
      .select(col("doc_id").as("id"), shSet(col("text")).as("set"))
    SetSimJoin.selfJoin(
        if (materializeShingles) sets.localCheckpoint(true) else sets, threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
  }

  /** Repeated-span detection — the substring-level dedup primitive from
    * the published training-data literature (suffix-array substring dedup,
    * e.g. Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22), re-expressed for Spark: every word-k-gram span
    * (with positions — NOT the distinct shingle set) that occurs in at
    * least `minDocs` distinct documents, with its document and occurrence
    * counts. Downstream pipelines cut or down-weight the flagged spans.
    *
    * Two arms:
    *  - `hashOnly = false` (default, the oracle arm): group by the span
    *    STRING — ANSI-SQL-expressible, so the driver's DuckDB oracle
    *    checks it exactly; the shuffle carries ~k tokens per position,
    *    the honest cost the suffix-array literature exists to avoid on
    *    one node.
    *  - `hashOnly = true` (the 100 TB arm): group by `xxhash64(span)` —
    *    8-byte shuffle keys instead of ×k text amplification, plus a
    *    `min(span)` exemplar per group; counts are exact modulo 64-bit
    *    hash collisions.
    *
    * Documents with fewer than k tokens contribute no spans (substring
    * dedup wants full-length spans only — unlike `shingles`, which falls
    * back to the whole-text shingle for short docs).
    */
  def duplicateSpans(documentsIn: DataFrame, k: Int = 10, minDocs: Int = 2,
      hashOnly: Boolean = false): DataFrame = {
    require(k >= 1 && minDocs >= 2,
      s"need k >= 1 and minDocs >= 2, got k=$k minDocs=$minDocs")
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val toks = split(norm(col("text")), " ")
    val spans = transform(sequence(lit(1), size(toks) - (k - 1)),
      i => array_join(slice(toks, i, lit(k)), " "))
    val sp = documents
      .filter(size(toks) >= k)
      .select(col("doc_id"), explode(spans).as("span"))
    if (hashOnly)
      sp.groupBy(xxhash64(col("span")).as("span_hash"))
        .agg(min("span").as("span"),
          countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= minDocs)
        .select("span", "n_docs", "n_occurrences")
    else
      sp.groupBy("span")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= minDocs)
  }

  /** Per-document duplication coverage — the decision signal built on
    * `duplicateSpans`: for every document, the fraction of its token
    * positions covered by at least one repeated span (a span occurring in
    * ≥ `minDocs` distinct documents). Pipelines drop or down-weight
    * documents above a coverage threshold; boilerplate-heavy documents
    * score near 1.0, unique text scores 0.
    *
    * One positional-span table feeds both the repeated-span aggregation
    * and the coverage join (materialized once — no-CSE rule); position
    * coverage is the distinct-count of exploded span offsets, an exact
    * interval union. Output (doc_id, n_tokens, covered_tokens, coverage)
    * for EVERY document — short and unique docs included with coverage 0
    * — and `coverage` is an exact integer ratio, so the whole operator is
    * SQL-expressible and DuckDB-oracled.
    */
  def spanCoverage(documentsIn: DataFrame, k: Int = 10,
      minDocs: Int = 2, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1 && minDocs >= 2,
      s"need k >= 1 and minDocs >= 2, got k=$k minDocs=$minDocs")
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val toksCol = filter(split(norm(col("text")), " "), t => length(t) > 0)
    // tokens tokenized once; the table feeds the span explode AND the
    // final every-document join (no-CSE rule)
    val base = documents
      .select(col("doc_id"), toksCol.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    // hashKeys: the positional table carries xxhash64(span) — 8 bytes
    // instead of ~k tokens of TEXT per position. The string form is a
    // ~k× amplification of the corpus materialized to disk: fine at
    // bench scale and the DuckDB-oracle-exact arm, ruinous at crawl
    // scale. Counts identical modulo 64-bit collisions (the
    // duplicateSpans hashOnly argument).
    val keyExpr =
      if (hashKeys) xxhash64(col("col")) else col("col")
    val sp = graft.core.SparkUtil.materializeOnce(
      base.filter(col("n_tokens") >= k)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => array_join(slice(col("toks"), i, lit(k)), " "))))
        .select(col("doc_id"), (col("pos") + 1).as("start"),
          keyExpr.as("span")))
    val dup = sp.groupBy("span")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("span")
    val covered = sp.join(dup, "span")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(countDistinct("pos").as("covered_tokens"))
    base.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("coverage",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("covered_tokens").cast("double") / col("n_tokens")))
  }

  /** Duplicated-span REMOVAL — the surgery that `duplicateSpans` /
    * `spanCoverage` only measure: rewrite every document with the token
    * positions covered by a repeated span (≥ `minDocs` distinct
    * documents) cut out, in original order — the substring-dedup write
    * path of Lee et al. ACL'22, re-expressed as relational ops. Output
    * one row per document: (doc_id, n_tokens, removed_tokens,
    * clean_text); untouched documents keep their full (normalized)
    * token stream, fully-covered documents come back empty.
    *
    * Plan shape: the positional span table is built once (materialized —
    * it feeds both the repeated-span aggregation and the covered-position
    * explode; no-CSE rule); covered positions are a distinct (doc_id,
    * pos) set; the rewrite is posexplode → anti-join covered →
    * re-assemble per doc via sort_array(collect_list(struct(pos, tok)))
    * — pos is unique per document, so the struct sort is a total order
    * and the result is deterministic under any partitioning. The only
    * text-bearing shuffle is the per-document re-assembly groupBy, which
    * any rewrite must pay; spans and positions shuffle as slim keys.
    * Every step is ANSI-SQL-expressible (ordered string_agg over the
    * anti-joined position table), so the operator is DuckDB-oracled
    * end-to-end including the rewritten text.
    */
  def removeDuplicateSpans(documentsIn: DataFrame, k: Int = 10,
      minDocs: Int = 2, hashKeys: Boolean = false): DataFrame = {
    require(k >= 1 && minDocs >= 2,
      s"need k >= 1 and minDocs >= 2, got k=$k minDocs=$minDocs")
    val documents = graft.core.SparkUtil.spread(documentsIn)
    val toksCol = filter(split(norm(col("text")), " "), t => length(t) > 0)
    val base = documents
      .select(col("doc_id"), toksCol.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .localCheckpoint(true)
    // hashKeys: 8-byte span keys instead of span TEXT in the
    // materialized positional table — see spanCoverage
    val keyExpr =
      if (hashKeys) xxhash64(col("col")) else col("col")
    val sp = graft.core.SparkUtil.materializeOnce(
      base.filter(col("n_tokens") >= k)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("toks")) - (k - 1)),
          i => array_join(slice(col("toks"), i, lit(k)), " "))))
        .select(col("doc_id"), (col("pos") + 1).as("start"),
          keyExpr.as("span")))
    val dup = sp.groupBy("span")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("span")
    val covered = sp.join(dup, "span")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    val tokPos = base
      .select(col("doc_id"), col("n_tokens"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = tokPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("clean_text"))
    base.select("doc_id", "n_tokens")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Benchmark decontamination — the evaluation-set n-gram-overlap scan
    * from the published LM training-data methodology (GPT-3's 13-gram
    * test-set filter, Brown et al. 2020 appendix C; Dodge et al. 2021's
    * C4 benchmark-overlap audit): flag every corpus document that shares
    * at least one word-k-gram with any benchmark document, with exact
    * per-document overlap counts and the contaminated fraction of its
    * distinct shingle set.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus
    * (evaluation suites are megabytes against a 100 TB crawl), so its
    * distinct shingle hashes are collected and broadcast as a flat sorted
    * array (8 B a shingle). Each corpus document is tokenized once and
    * binary-searches its own distinct shingles in that array: one map
    * pass, with no corpus-shingle explode, no join and no exchange by
    * key. Output (doc_id, n_ngrams, n_shared, contamination) for
    * contaminated documents only; both counts are over the document's
    * distinct shingle set and `contamination` is an exact integer-ratio
    * double, so the operator is ANSI-SQL-expressible and DuckDB-oracled
    * exactly (shingle-hash equality ≡ shingle-string equality: the
    * chained-FNV shingle hash is injective on the corpus modulo 2⁻⁶⁴
    * collisions, and the ' '-join of whitespace-free tokens is injective
    * — same argument as `ngramJaccardNearDups`'s oracle).
    *
    * Precondition: `doc_id` is unique in `corpusIn`. Output is one row
    * per contaminated corpus ROW, so a repeated doc_id repeats.
    */
  def decontaminate(corpusIn: DataFrame, benchmark: DataFrame,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    val bench = benchShingles(benchmark, k).collect().map(_.getLong(0)).sorted
    val bc = corpusIn.sparkSession.sparkContext.broadcast(bench)
    overlapProbe(corpusIn, k, bc)(arr =>
      h => java.util.Arrays.binarySearch(arr, h) >= 0)
  }

  /** Flag-only arm of benchmark decontamination: the `doc_id` column of
    * [[decontaminate]], i.e. the documents sharing ≥ 1 `k`-gram with the
    * benchmark, in the same one-map-pass plan. The curation funnel's
    * stage 4 consumes only this decision.
    *
    * Precondition: `doc_id` is unique in `corpusIn`.
    */
  def contaminatedDocs(corpusIn: DataFrame, benchmark: DataFrame,
      k: Int = 3): DataFrame =
    decontaminate(corpusIn, benchmark, k).select("doc_id")

  /** Bloom-filter arm of benchmark decontamination — the shape that holds
    * when the benchmark side outgrows a raw broadcast set. The exact arm
    * above broadcasts the benchmark's distinct shingle hashes as a sorted
    * array: 8 bytes a shingle, fine for evaluation suites but not for the
    * other standard use of the same scan — filtering a new crawl against
    * EVERYTHING already trained on, where the "benchmark" is billions of
    * shingles. A Bloom filter at `fpp` compresses that to
    * ~1.44·log2(1/fpp) BITS per shingle (~10 bits at 1%: 1.2 GB per 10⁹
    * shingles against 8 GB as an array), still one broadcast and the same
    * per-document map pass as the exact arm.
    *
    * Semantics: no false negatives — every truly contaminated document is
    * flagged and every true shared shingle counted (`mightContain` never
    * misses an inserted value), so the flagged set is a SUPERSET of the
    * exact arm's and per-doc `n_shared` is an upper bound, inflated only
    * by false positives at ~`fpp` per clean shingle. That one-sidedness is
    * the property pipelines need: decontamination may over-drop slightly,
    * never under-drop. Note the doc-level consequence: a clean document of
    * n distinct shingles is spuriously flagged with probability
    * 1-(1-fpp)^n, so `fpp` must be sized against DOCUMENT shingle counts,
    * not wished at 1% — the 1e-4 default holds spurious flags under ~5%
    * for 500-shingle documents; pipelines filtering on the `contamination`
    * fraction rather than n_shared ≥ 1 are insensitive to fpp entirely.
    * Both one-sidedness properties are asserted against the exact arm in
    * DedupSpec.
    *
    * The filter is built by Spark's native `stat.bloomFilter` aggregate
    * (tree-aggregated `putLong`s, one pass over the benchmark) and shipped
    * once as a broadcast variable; each corpus document is tokenized once
    * and tests its distinct shingles with `mightContainLong`.
    *
    * Precondition: `doc_id` is unique in `corpusIn`.
    */
  def decontaminateBloom(corpusIn: DataFrame, benchmark: DataFrame,
      k: Int = 3, fpp: Double = 1e-4,
      expectedShingles: Long = 0L): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val benchSh = benchShingles(benchmark, k)
    // sizing: caller-provided estimate at real scale (a count() over 100 TB
    // of benchmark just to size a filter is wasteful — pipelines know their
    // suite sizes); fall back to an exact count at test/bench scale
    val n = if (expectedShingles > 0L) expectedShingles else benchSh.count()
    // Spark's bloom-filter aggregate yields no filter for zero rows, and
    // an empty benchmark contaminates nothing
    val bf = if (n == 0L) BloomFilter.create(1L, fpp)
      else benchSh.stat.bloomFilter("sh", n, fpp)
    val bc = corpusIn.sparkSession.sparkContext.broadcast(bf)
    overlapProbe(corpusIn, k, bc)(f => f.mightContainLong)
  }

  /** Fuzzy (near-match) benchmark decontamination — the containment arm
    * the exact scan above cannot express: a benchmark item lightly
    * paraphrased or EMBEDDED inside a long document shares a large
    * fraction of ITS OWN shingles while contributing a tiny fraction of
    * the document's, so both the doc-level `contamination` ratio and any
    * symmetric Jaccard stay low. Real pipelines therefore also run an
    * asymmetric overlap pass per benchmark ITEM (the methodology family
    * of GPT-3's eval dedup, Brown et al. 2020 appendix C, and Dodge et
    * al. 2021): emit every (document, benchmark item) pair whose
    * containment |A∩B| / |B| ≥ `threshold` (A = document's distinct
    * word-k-gram set, B = the item's), with exact counts.
    *
    * Shape: the benchmark side is tiny (evaluation suites against a crawl),
    * so its shingle sets are collected and indexed once by
    * `graft.sim.SetSimJoin.containment` (prefix filter over each item's
    * rarest shingles, lossless), and the index is broadcast. The corpus
    * side is the same per-document pass as the exact arm: each document
    * is tokenized once and probes the index; no join and no shuffle.
    * Counts are over distinct shingle sets and `containment` is an
    * integer-ratio double, so the operator is ANSI-SQL-expressible and
    * DuckDB-oracled exactly (same hash/string injectivity argument as
    * `ngramJaccardNearDups`).
    *
    * Precondition: `doc_id` is a unique long in `benchmark`, and unique
    * in `corpusIn`.
    *
    * @return (doc_id, bench_id, n_bench, n_shared, containment), one row
    *         per qualifying pair; items with empty shingle sets pair
    *         with nothing (a pair must share at least one shingle)
    */
  def decontaminateFuzzy(corpusIn: DataFrame, benchmark: DataFrame,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    val shSet = udf((t: String) => TextHash.shingleHashSet(t, k))
    val bench = benchmark.select(col("doc_id"), shSet(col("text"))).collect()
    val sets = bench.map(_.getSeq[Long](1).toArray)
    val index = SetSimJoin.containment(sets.toIndexedSeq, threshold)
    val bc = corpusIn.sparkSession.sparkContext.broadcast(
      (index, bench.map(_.getLong(0)), sets.map(_.length.toLong)))
    perDocument(corpusIn, k) { sh =>
      val (ix, benchIds, nBench) = bc.value
      ix.probe(sh).toSeq.map(m =>
        (benchIds(m.index), nBench(m.index), m.inter.toLong, m.score))
    }.select(col("doc_id"), col("p._1").as("bench_id"),
      col("p._2").as("n_bench"), col("p._3").as("n_shared"),
      col("p._4").as("containment"))
  }

  /** The benchmark's distinct shingle hashes, one `sh` row each. */
  private def benchShingles(benchmark: DataFrame, k: Int): DataFrame = {
    val shSet = udf((t: String) => TextHash.shingleHashSet(t, k))
    benchmark.select(explode(shSet(col("text"))).as("sh")).distinct()
  }

  /** The one corpus pass of every decontamination arm: spread the corpus,
    * tokenize each document once into its distinct sorted shingle-hash
    * set, and explode what `probe` returns for that set as column `p`.
    * `probe` answers with a `Seq` (empty for a clean document) rather than
    * a struct that a later filter drops: Catalyst pushes such a filter
    * below the projection and so calls the UDF twice a row.
    */
  private def perDocument[R: TypeTag](corpusIn: DataFrame, k: Int)(
      probe: Array[Long] => Seq[R]): DataFrame = {
    val f = udf((t: String) => probe(TextHash.shingleHashSet(t, k)))
    graft.core.SparkUtil.spread(corpusIn)
      .select(col("doc_id"), explode(f(col("text"))).as("p"))
  }

  /** (doc_id, n_ngrams, n_shared, contamination) for the documents with
    * at least one shingle that `member(bc.value)` accepts. The count is a
    * `while` loop over the primitive array: a `Long => Boolean` passed to
    * `count` or `exists` boxes every shingle.
    */
  private def overlapProbe[T](corpusIn: DataFrame, k: Int,
      bc: Broadcast[T])(member: T => Long => Boolean): DataFrame =
    perDocument(corpusIn, k) { sh =>
      val in = member(bc.value)
      var n = 0L; var i = 0
      while (i < sh.length) { if (in(sh(i))) n += 1; i += 1 }
      if (n == 0L) Nil else Seq((sh.length.toLong, n))
    }.select(col("doc_id"), col("p._1").as("n_ngrams"),
      col("p._2").as("n_shared"),
      (col("p._2").cast("double") / col("p._1")).as("contamination"))

  /** Survivor selection straight from a pair list, with no clustering:
    * drop every document that appears as the higher id (`doc_b`) of some
    * pair and keep the rest. For a chain a~b, b~c (a < b < c) that keeps
    * only a; for a~c, b~c it keeps both a and b, although the three form
    * one connected dup-group. [[nearDupDedup]] keeps one per group.
    */
  def survivors(documents: DataFrame, dups: DataFrame): DataFrame = {
    val loser = dups.select(col("doc_b").as("doc_id")).distinct()
    documents.join(loser, Seq("doc_id"), "left_anti")
  }

  /** The complete near-dup deduplication decision over a pair list:
    * cluster the pairs with connected components, label EVERY document
    * with its cluster (documents in no pair are their own singleton
    * cluster), and keep the minimum doc_id of each cluster as its
    * representative. This is the flow a training-data pipeline actually
    * applies downstream of any pair generator (minhash / simhash /
    * n-gram Jaccard): transitive closure first — unlike `survivors`'
    * anti-join, the pairs a~c, b~c (a < b < c) keep only a, never both
    * a and b.
    *
    * Scale shape: CC iterates over the pair set only (never the corpus)
    * and the cluster-size aggregate stays on CC's output. The final
    * label attach carries NO broadcast hint: at crawl scale near-dup
    * cluster membership is routinely 30-50% of all documents, so a
    * forced broadcast of the label table is a driver/executor OOM at
    * 100x — let AQE pick broadcast when the labels actually fit (same
    * call `Curation.curate` makes on its label join, and for the same
    * reason).
    *
    * @param pairs near-dup pairs with `doc_a` < `doc_b` columns
    * @return one row per input document:
    *         (doc_id, cluster, n_members, keep)
    */
  def nearDupDedup(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = graft.graph.Components.connectedComponents(edges)
      .select(col("node").as("doc_id"), col("comp").as("cluster"))
    val sizes = labels.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
    val labeled = labels.join(sizes, "cluster")
    val cluster = coalesce(col("cluster"), col("doc_id"))
    documents.select(col("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"), cluster.as("cluster"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        (cluster === col("doc_id")).as("keep"))
  }
}
