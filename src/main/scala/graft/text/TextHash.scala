package graft.text

/** Deterministic text/vector hashing kernels used by the dedup and
  * similarity operators. Plain JVM loops (JIT-compiled) registered as
  * Scala UDFs: for these kernels the arithmetic IS the work — a tight
  * loop beats Catalyst's interpreted higher-order functions by ~100×,
  * and the surrounding plan (joins, filters, windows) stays declarative.
  * All functions are pure and stable across JVMs (FNV-1a + a fixed
  * finalizer), so results are reproducible at any parallelism.
  */
object TextHash extends Serializable {

  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT) // locale-independent, the TextOps:261 precedent
      .trim.split("\\s+").filter(_.nonEmpty)

  /** FNV-1a 64-bit. */
  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit mix (splitmix64 finalizer) for per-permutation rehash. */
  def mix(h0: Long, p: Long): Long = {
    var x = h0 + (p + 1L) * 0x9E3779B97F4A7C15L
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Word-shingle hashes of length k (shingle hash = chained mix of the
    * token hashes — no per-shingle string allocation). May contain
    * duplicates; min/set consumers handle that.
    */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val t = tokens(text)
    if (t.isEmpty) return Array.empty
    val th = new Array[Long](t.length)
    var i = 0
    while (i < t.length) { th(i) = fnv(t(i)); i += 1 }
    val n = math.max(t.length - k + 1, 1)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      var h = 0xcbf29ce484222325L
      var j = i
      val end = math.min(i + k, t.length)
      while (j < end) { h = (h ^ th(j)) * 0x100000001b3L; j += 1 }
      out(i) = h; i += 1
    }
    out
  }

  /** MinHash signature over word shingles. */
  def minhash(text: String, perms: Int, k: Int): Array[Long] = {
    val hs = shingleHashes(text, k)
    Array.tabulate(perms) { p =>
      if (hs.isEmpty) Long.MaxValue
      else {
        var m = Long.MaxValue; var i = 0
        while (i < hs.length) {
          val v = mix(hs(i), p); if (v < m) m = v; i += 1
        }
        m
      }
    }
  }

  /** In-place sort + dedup of a primitive hash array (allocation-light
    * set representation: boxed immutable.HashSet[Long] was 40% of all
    * executor CPU samples in the fuzzy-link profile).
    */
  private[graft] def distinctSorted(xs: Array[Long]): Array[Long] = {
    if (xs.length <= 1) return xs
    java.util.Arrays.sort(xs)
    var n = 1; var i = 1
    while (i < xs.length) {
      if (xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    if (n == xs.length) xs else java.util.Arrays.copyOf(xs, n)
  }

  /** Merge-count Jaccard of two sorted distinct arrays. */
  private def jaccardSorted(sa: Array[Long], sb: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      val x = sa(i); val y = sb(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /** Distinct sorted shingle-hash set of a document — the exact set whose
    * Jaccard `jaccardShingles` computes (set size = the n used in the
    * AllPairs prefix length; sorted so consumers can merge-count).
    */
  def shingleHashSet(text: String, k: Int): Array[Long] =
    distinctSorted(shingleHashes(text, k))

  /** Shingle-set Jaccard similarity. */
  def jaccardShingles(a: String, b: String, k: Int): Double = {
    val sa = distinctSorted(shingleHashes(a, k))
    val sb = distinctSorted(shingleHashes(b, k))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else jaccardSorted(sa, sb)
  }

  /** Exact |A ∩ B| of two documents' distinct shingle sets — the
    * verification count behind containment-style contamination checks
    * (merge-count over the sorted distinct arrays, allocation-light).
    */
  def shingleIntersectCount(a: String, b: String, k: Int): Long = {
    val sa = distinctSorted(shingleHashes(a, k))
    val sb = distinctSorted(shingleHashes(b, k))
    var i = 0; var j = 0; var inter = 0L
    while (i < sa.length && j < sb.length) {
      val x = sa(i); val y = sb(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** 64-bit SimHash over token hashes. */
  def simhash64(text: String): Long = {
    val t = tokens(text)
    val counts = new Array[Int](64)
    var i = 0
    while (i < t.length) {
      val h = fnv(t(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Even chunk widths for an m-way split of 64 bits. */
  def simhashChunkWidths(m: Int): Array[Int] =
    Array.tabulate(m)(i => 64 / m + (if (i < 64 % m) 1 else 0))

  /** All C(m,2) two-chunk combination band keys of a text's 64-bit
    * simhash, m = maxHamming + 2, WITH the signature embedded in every
    * element: one (sig, combo = i·m + j, mix(v_i, v_j)) triple per chunk
    * combination. Single pass — the text is tokenized and hashed ONCE per
    * document. Catalyst does not CSE: a separate sig UDF next to a bands
    * UDF hashes the text twice per row, and expressing the chunking as
    * column expressions over a sig alias re-evaluates the simhash per
    * chunk reference after project collapse — so the one UDF rides
    * inside the explode (a Generate evaluates its generator once per
    * input row) and sig travels as a payload field of each band element
    * (m(m−1)/2 extra longs per doc, transient). The value bucket is
    * hashed, not packed: a hash collision only adds a false candidate
    * (removed by the exact-Hamming verify); equal chunk values always
    * produce equal buckets, so recall is unaffected.
    */
  def simhashBands(text: String, maxHamming: Int): Array[(Long, Int, Long)] = {
    val m = maxHamming + 2
    val sig = simhash64(text)
    val widths = simhashChunkWidths(m)
    val vals = new Array[Long](m)
    var off = 0; var i = 0
    while (i < m) {
      val w = widths(i)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      vals(i) = (sig >>> off) & mask
      off += w; i += 1
    }
    val out = new Array[(Long, Int, Long)](m * (m - 1) / 2)
    var idx = 0; i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        out(idx) = (sig, i * m + j, mix(mix(0x5eedL, vals(i)), vals(j)))
        idx += 1; j += 1
      }
      i += 1
    }
    out
  }

  /** 128-bit SimHash over token hashes: two 64-bit words from
    * independently mixed token hashes (word 0 = fnv, word 1 = remixed).
    * The scale move past the 64-bit hash: with m = maxHamming + 2 chunks
    * the two-chunk combination keys carry 2·⌊128/m⌋ signature bits —
    * double the 64-bit keys' width — so the uniform-collision floor of
    * the banding join drops quadratically, and Hamming budgets beyond
    * ~10 bits keep usefully wide keys.
    */
  def simhash128(text: String): (Long, Long) = {
    val t = tokens(text)
    val counts = new Array[Int](128)
    var i = 0
    while (i < t.length) {
      val h0 = fnv(t(i))
      val h1 = mix(h0, 0x128L)
      var b = 0
      while (b < 64) {
        if (((h0 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        if (((h1 >>> b) & 1L) == 1L) counts(64 + b) += 1 else counts(64 + b) -= 1
        b += 1
      }
      i += 1
    }
    var lo = 0L; var hi = 0L; var b = 0
    while (b < 64) {
      if (counts(b) > 0) lo |= (1L << b)
      if (counts(64 + b) > 0) hi |= (1L << b)
      b += 1
    }
    (lo, hi)
  }

  /** Even chunk widths for an m-way split of `totalBits` bits. */
  def chunkWidths(m: Int, totalBits: Int): Array[Int] =
    Array.tabulate(m)(i => totalBits / m + (if (i < totalBits % m) 1 else 0))

  /** Bits [off, off+w) of the 128-bit (lo, hi) value. */
  def bits128(lo: Long, hi: Long, off: Int, w: Int): Long = {
    val mask = if (w >= 64) -1L else (1L << w) - 1L
    val v =
      if (off + w <= 64) lo >>> off
      else if (off >= 64) hi >>> (off - 64)
      else (lo >>> off) | (hi << (64 - off))
    v & mask
  }

  /** All C(m,2) two-chunk combination band keys of a text's 128-bit
    * simhash, signature embedded per element — same single-pass contract
    * as `simhashBands` (one tokenize+hash per document, rides in one
    * projection).
    */
  def simhashBands128(text: String, maxHamming: Int): Array[(Long, Long, Int, Long)] = {
    val m = maxHamming + 2
    val (lo, hi) = simhash128(text)
    val widths = chunkWidths(m, 128)
    val vals = new Array[Long](m)
    var off = 0; var i = 0
    while (i < m) {
      vals(i) = bits128(lo, hi, off, widths(i))
      off += widths(i); i += 1
    }
    val out = new Array[(Long, Long, Int, Long)](m * (m - 1) / 2)
    var idx = 0; i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        out(idx) = (lo, hi, i * m + j, mix(mix(0x5eed128L, vals(i)), vals(j)))
        idx += 1; j += 1
      }
      i += 1
    }
    out
  }

  /** Sign-random-projection signature of a float vector: bit j = sign of
    * the dot product with a pseudo-hyperplane whose ±1 weights come from
    * mix(seed·j, dim index).
    */
  def srpSignature(vec: Seq[Float], bits: Int, seed: Long): Long = {
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0; var i = 0
      val it = vec.iterator
      while (it.hasNext) {
        val v = it.next()
        val w = if ((mix(seed * 1315423911L + j, i) & 1L) == 0L) 1.0 else -1.0
        dot += v * w; i += 1
      }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Character-trigram hashes, computed over a sliding window with no
    * substring allocation. May contain duplicates; min/set consumers
    * handle that.
    */
  def charTrigramHashes(s: String): Array[Long] = {
    if (s == null || s.length < 3) return Array.empty
    val out = new Array[Long](s.length - 2)
    var i = 0
    while (i < s.length - 2) {
      var h = 0xcbf29ce484222325L
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      h = (h ^ s.charAt(i + 1)) * 0x100000001b3L
      h = (h ^ s.charAt(i + 2)) * 0x100000001b3L
      out(i) = h; i += 1
    }
    out
  }

  /** Per-band LSH key over character trigrams: each band combines
    * `rowsPerBand` independent min-hashes, so a band collision has
    * probability ~ jaccard^rowsPerBand — keeps hot buckets from flooding
    * with low-similarity candidates at corpus scale.
    */
  def charBandSignature(s: String, bands: Int, rowsPerBand: Int = 2): Array[Long] = {
    val hs = charTrigramHashes(s)
    Array.tabulate(bands) { b =>
      if (hs.isEmpty) Long.MaxValue
      else {
        var combined = 0L
        var r = 0
        while (r < rowsPerBand) {
          var m = Long.MaxValue; var i = 0
          val perm = b * rowsPerBand + r
          while (i < hs.length) {
            val v = mix(hs(i), perm); if (v < m) m = v; i += 1
          }
          combined = combined * 0x100000001b3L + m
          r += 1
        }
        combined
      }
    }
  }

  /** Distinct sorted character-trigram hash set — the exact set whose
    * Jaccard `charTrigramJaccard` computes.
    */
  def charTrigramSet(s: String): Array[Long] =
    distinctSorted(charTrigramHashes(s))

  /** Character-trigram Jaccard similarity. */
  def charTrigramJaccard(a: String, b: String): Double = {
    val sa = charTrigramSet(a)
    val sb = charTrigramSet(b)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else jaccardSorted(sa, sb)
  }

  /** Indexes of the `nprobe` nearest centroids by cosine similarity,
    * descending (ties by lower index) — the IVF coarse-quantizer kernel:
    * one allocation-light pass over the broadcast centroid table plus an
    * O(nprobe·L) partial selection (nprobe is single-digit).
    */
  def nearestCentroids(v: Seq[Float], centroids: Array[Array[Float]],
      nprobe: Int): Array[Int] = {
    val L = centroids.length
    val sims = new Array[Double](L)
    var i = 0
    while (i < L) {
      val c = centroids(i)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val it = v.iterator; var d = 0
      while (it.hasNext && d < c.length) {
        val x = it.next().toDouble; val y = c(d).toDouble
        dot += x * y; na += x * x; nb += y * y; d += 1
      }
      sims(i) = if (na == 0.0 || nb == 0.0) -2.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      i += 1
    }
    val kSel = math.min(nprobe, L)
    val out = new Array[Int](kSel)
    val taken = new Array[Boolean](L)
    var r = 0
    while (r < kSel) {
      var best = -1; var bestSim = -3.0
      i = 0
      while (i < L) {
        if (!taken(i) && sims(i) > bestSim) { best = i; bestSim = sims(i) }
        i += 1
      }
      taken(best) = true; out(r) = best; r += 1
    }
    out
  }

  /** Cosine similarity of two float vectors. */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val ia = a.iterator; val ib = b.iterator
    while (ia.hasNext && ib.hasNext) {
      val x = ia.next().toDouble; val y = ib.next().toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    // dot / (sqrt·sqrt), NOT sqrt(na*nb): bit-identical to the canonical
    // formulation (and DuckDB's list_cosine_similarity oracle)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def joinSlice(toks: Array[String], from: Int, n: Int): String = {
    var len = n - 1
    var i = from
    while (i < from + n) { len += toks(i).length; i += 1 }
    val sb = new java.lang.StringBuilder(len)
    i = from
    while (i < from + n) {
      if (i > from) sb.append(' ')
      sb.append(toks(i)); i += 1
    }
    sb.toString
  }

  private val GopherStopWords =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher lexical-quality statistics (Rae et al. 2021 table A1, the
    * non-repetition rules), exact integer-ratio doubles throughout:
    * word count, mean word length, fraction of words containing an
    * alphabetic character, symbol-to-word ratio (# and ellipsis), and
    * how many of the 8 published stop words appear at least once.
    */
  def gopherQualityStats(text: String)
      : (Int, Double, Double, Double, Int) = {
    val toks = tokens(text)
    val n = toks.length
    if (n == 0) return (0, 0.0, 0.0, 0.0, 0)
    var sumLen = 0L
    var nAlpha = 0
    var i = 0
    while (i < n) {
      val t = toks(i)
      sumLen += t.length
      var j = 0
      var alpha = false
      while (j < t.length && !alpha) {
        val c = t.charAt(j)
        if (c >= 'a' && c <= 'z') alpha = true
        j += 1
      }
      if (alpha) nAlpha += 1
      i += 1
    }
    var symbols = 0L
    i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '#' || c == '…') symbols += 1
      else if (c == '.' && i + 2 < text.length && text.charAt(i + 1) == '.'
          && text.charAt(i + 2) == '.') { symbols += 1; i += 2 }
      i += 1
    }
    var stopHits = 0
    var s = 0
    while (s < GopherStopWords.length) {
      var found = false
      i = 0
      while (i < n && !found) {
        if (toks(i) == GopherStopWords(s)) found = true
        i += 1
      }
      if (found) stopHits += 1
      s += 1
    }
    (n, sumLen.toDouble / n, nAlpha.toDouble / n, symbols.toDouble / n,
      stopHits)
  }

  /** Intra-document repetition statistics — the within-document
    * repetition signals of the published LM data-quality methodology
    * (Gopher's repetition filters, Rae et al. 2021 table A1), defined
    * deterministically so the metric is exactly reproducible in ANSI SQL:
    *
    *  - for each n in `topNs`: the largest character mass any single word
    *    n-gram accounts for, as a fraction of the normalized text length —
    *    `max over grams g of count(g)·chars(g) / chars(text)` (chars of a
    *    gram = its ' '-joined length; the max-of-product form needs no
    *    most-frequent-gram tie-break, unlike the paper's informal
    *    "fraction of characters in the most frequent n-gram").
    *  - for each n in `dupNs`: the fraction of token positions covered by
    *    at least one n-gram occurring ≥ 2 times within the document
    *    (overlapping occurrences counted once — an exact interval union,
    *    the paper's duplicate-n-gram character fraction on token
    *    positions).
    *
    * Both are integer-ratio doubles (bit-exact cross-engine). Returns
    * (nTokens, nCharsNormalized, topFracs aligned with `topNs`, dupFracs
    * aligned with `dupNs`); documents shorter than n score 0.0 for that n.
    */
  def repetitionStats(text: String, topNs: Array[Int], dupNs: Array[Int])
      : (Int, Long, Array[Double], Array[Double]) = {
    val toks = tokens(text)
    val nT = toks.length
    var chars = 0L
    var i = 0
    while (i < nT) { chars += toks(i).length; i += 1 }
    if (nT > 1) chars += nT - 1
    val topFracs = topNs.map { n =>
      if (nT < n || chars == 0L) 0.0
      else {
        val counts = new java.util.HashMap[String, Int]()
        var best = 0L
        var j = 0
        while (j + n <= nT) {
          val g = joinSlice(toks, j, n)
          val c = counts.getOrDefault(g, 0) + 1
          counts.put(g, c)
          val mass = c.toLong * g.length
          if (mass > best) best = mass
          j += 1
        }
        best.toDouble / chars
      }
    }
    val dupFracs = dupNs.map { n =>
      if (nT < n || nT == 0) 0.0
      else {
        val grams = new Array[String](nT - n + 1)
        val counts = new java.util.HashMap[String, Int]()
        var j = 0
        while (j + n <= nT) {
          grams(j) = joinSlice(toks, j, n)
          counts.put(grams(j), counts.getOrDefault(grams(j), 0) + 1)
          j += 1
        }
        val covered = new Array[Boolean](nT)
        j = 0
        while (j + n <= nT) {
          if (counts.get(grams(j)) >= 2) {
            var p = j
            while (p < j + n) { covered(p) = true; p += 1 }
          }
          j += 1
        }
        var c = 0
        j = 0
        while (j < nT) { if (covered(j)) c += 1; j += 1 }
        c.toDouble / nT
      }
    }
    (nT, chars, topFracs, dupFracs)
  }
}
