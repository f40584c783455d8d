package graft.functions

import java.util.concurrent.ConcurrentHashMap

/** Pure kernels for the near-duplicate signature functions. These back the
  * Catalyst expressions in graft.functions.expressions (called from both
  * interpreted eval and whole-stage-codegen'd static calls) and the test
  * oracles.
  *
  * Semantic seed in the reference: the predicate cascade's single
  * *similarity* (non-equality) predicate — asymmetric filename-prefix match
  * (`ViewModels/MainViewModel.cs:1064-1072`) — and the accuracy-vs-cost
  * algorithm dial (`ViewModels/MainViewModel.cs:25-38`). At web scale these
  * become word-shingle MinHash (Jaccard), 64-bit SimHash (Hamming) and
  * winnowed rolling-hash fingerprints (long common substrings,
  * cf. Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003).
  */
object MinHashImpl {

  /** Hashes of all k-word shingles (space-delimited words, as produced by
    * TextExtract's whitespace collapse). Duplicates preserved (harmless for
    * MinHash minima; frequency-weighting for SimHash). A document with fewer
    * than k words yields one shingle = the whole text. */
  def shingleHashes(text: String, k: Int, seed: Long): Array[Long] = {
    val n = text.length
    if (n == 0) return Array(Hash64.hashChars(text, 0, 0, seed))
    // word start offsets (single-space delimited)
    var words = 1
    var i = 0
    while (i < n) { if (text.charAt(i) == ' ') words += 1; i += 1 }
    if (words < k) return Array(Hash64.hashChars(text, 0, n, seed))
    val starts = new Array[Int](words + 1)
    var w = 1
    starts(0) = 0
    i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = n + 1 // sentinel: end-of-word(j) = starts(j+1) - 1
    val m = words - k + 1
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      out(s) = Hash64.hashChars(text, starts(s), starts(s + k) - 1, seed)
      s += 1
    }
    out
  }

  // ---- MinHash ------------------------------------------------------------

  private val permCache = new ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  private def perms(n: Int, seed: Long): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((n, seed), { key =>
      val a = Hash64.constants(key._1, key._2 ^ 0xA5A5A5A5L).map(_ | 1L) // odd multipliers
      val b = Hash64.constants(key._1, key._2 ^ 0x3C3C3C3CL)
      (a, b)
    })

  /** n-permutation MinHash signature over k-word shingles. */
  def sig(text: String, k: Int, n: Int, seed: Long): Array[Long] =
    sigFromShingles(shingleHashes(text, k, seed), n, seed)

  /** MinHash fold over an already-computed shingle-hash array. */
  def sigFromShingles(sh: Array[Long], n: Int, seed: Long): Array[Long] = {
    val (as, bs) = perms(n, seed)
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, -1L) // unsigned max
    var j = 0
    while (j < sh.length) {
      val h = sh(j)
      var p = 0
      while (p < n) {
        val v = h * as(p) + bs(p)
        if (java.lang.Long.compareUnsigned(v, out(p)) < 0) out(p) = v
        p += 1
      }
      j += 1
    }
    out
  }

  /** MinHash signature and SimHash fingerprint from ONE tokenize+hash
    * pass over the text — the two signature columns always travel
    * together through the LSH stage, and computing them separately paid
    * the UTF-8 decode and the per-shingle rolling hash twice. Both
    * results are bit-identical to [[sig]]/[[simhash]] on the same text
    * (the folds consume the identical shingle-hash array). */
  def sigAndSimhash(text: String, k: Int, n: Int, seed: Long): (Array[Long], Long) = {
    val sh = shingleHashes(text, k, seed)
    (sigFromShingles(sh, n, seed), simhashFromShingles(sh))
  }

  /** Fraction of agreeing components — the Jaccard estimate. */
  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Exact Jaccard over the k-shingle *sets* (verification-stage truth). */
  def exactJaccard(a: String, b: String, k: Int, seed: Long): Double =
    mergeJaccard(shingleSet(a, k, seed), shingleSet(b, k, seed))

  /** The distinct, unsigned-sorted k-shingle hash set of a text — computed
    * ONCE per document so pair verification is a plain merge instead of
    * re-tokenizing + re-hashing both texts per candidate pair (a doc in p
    * pairs was shingled p times; the per-pair allocation burn was the main
    * non-scaling term of the verify stage at 32 threads). */
  def shingleSet(text: String, k: Int, seed: Long): Array[Long] =
    distinctSorted(shingleHashes(text, k, seed))

  /** Exact Jaccard of two [[shingleSet]] outputs (unsigned-sorted merge;
    * identical by construction to [[exactJaccard]] on the source texts). */
  def mergeJaccard(sa: Array[Long], sb: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      val c = java.lang.Long.compareUnsigned(sa(i), sb(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = sa.length + sb.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    if (xs.length <= 1) return xs
    val s = xs.clone()
    java.util.Arrays.sort(s) // signed sort is fine: only used for merge identity
    var w = 1
    var i = 1
    while (i < s.length) {
      if (s(i) != s(w - 1)) { s(w) = s(i); w += 1 }
      i += 1
    }
    // keep unsigned-merge invariant: re-sort unsigned by flipping sign bit
    val u = java.util.Arrays.copyOf(s, w)
    var p = 0
    while (p < w) { u(p) = u(p) ^ Long.MinValue; p += 1 }
    java.util.Arrays.sort(u)
    p = 0
    while (p < w) { u(p) = u(p) ^ Long.MinValue; p += 1 }
    u
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over the same k-word shingles (frequency-weighted). */
  def simhash(text: String, k: Int, seed: Long): Long =
    simhashFromShingles(shingleHashes(text, k, seed))

  /** SimHash fold over an already-computed shingle-hash array. */
  def simhashFromShingles(sh: Array[Long]): Long = {
    val counters = new Array[Int](64)
    var j = 0
    while (j < sh.length) {
      val h = sh(j)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counters(bit) += 1 else counters(bit) -= 1
        bit += 1
      }
      j += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counters(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Manku/Jain/Sarma-style permuted-table keys (WWW'07 §3): the 64-bit
    * fingerprint is split into `nBlocks` near-equal blocks; each of the
    * C(nBlocks, keep) block combinations becomes one table whose key is the
    * exact value of those `keep` blocks (tagged by combination index).
    *
    * Pigeonhole guarantee: a pair at Hamming distance ≤ (nBlocks - keep)
    * leaves at least `keep` blocks untouched, so the pair shares at least
    * one table key — a COMPLETE candidate generator for
    * hamMax ≤ nBlocks - keep. With the defaults (6, 3): 20 keys per doc,
    * each drawn from a ~2^32 key space, so buckets stay tiny at 10^9+ docs
    * — unlike a 4×16-bit block scheme, whose 2^16 key space goes quadratic
    * past ~10^5 docs (round-1 finding). Keys are Hash64-mixed: equal block values map
    * to equal keys (the guarantee needs only that direction), and a random
    * 2^-64 collision merely adds a candidate that verification discards. */
  def simhashTableKeys(h: Long, nBlocks: Int, keep: Int): Array[Long] = {
    val combos = tableCombos(nBlocks, keep)
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    val values = new Array[Long](nBlocks)
    var off = 0
    var i = 0
    while (i < nBlocks) {
      val size = base + (if (i < rem) 1 else 0)
      values(i) = (h >>> off) & ((1L << size) - 1)
      off += size
      i += 1
    }
    val out = new Array[Long](combos.length)
    var c = 0
    while (c < combos.length) {
      val combo = combos(c)
      var key = Hash64.mix(0x7AB1E5L ^ c.toLong)
      var j = 0
      while (j < combo.length) {
        key = Hash64.combine(key, values(combo(j)))
        j += 1
      }
      out(c) = key
      c += 1
    }
    out
  }

  private val comboCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Int]]]()

  /** All C(n, k) index combinations, cached (config-constant per run). */
  private def tableCombos(n: Int, k: Int): Array[Array[Int]] =
    comboCache.computeIfAbsent((n << 8) | k, _ => {
      val acc = scala.collection.mutable.ArrayBuffer[Array[Int]]()
      def rec(start: Int, cur: List[Int]): Unit =
        if (cur.length == k) acc += cur.reverse.toArray
        else {
          var i = start
          while (i <= n - (k - cur.length)) {
            rec(i + 1, i :: cur)
            i += 1
          }
        }
      rec(0, Nil)
      acc.toArray
    })

  // ---- LSH banding ---------------------------------------------------------

  /** One bucket id per band: hash of (band index, the band's r signature
    * components). Docs sharing any band bucket become candidates. */
  def bandBuckets(sig: Array[Long], bands: Int, rowsPerBand: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Hash64.mix(seed ^ (b.toLong * 0x9E3779B97F4A7C15L))
      var r = 0
      while (r < rowsPerBand) {
        h = Hash64.combine(h, sig(b * rowsPerBand + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Single digest of the full signature (identical-signature grouping). */
  def sigDigest(sig: Array[Long]): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < sig.length) { h = Hash64.combine(h, sig(i)); i += 1 }
    h
  }

  /** UTF-16 code units of `text` as ints — the depth-1 ranks of the
    * suffix-array prefix-doubling pass (SuffixArray.scala). Code units are
    * order- and equality-preserving for the binary collation SQL's
    * ORDER BY uses on the engine's (ASCII) corpora, which is all prefix
    * doubling needs from its initial ranks. */
  def charCodes(text: String): Array[Int] = {
    val out = new Array[Int](text.length)
    var i = 0
    while (i < text.length) { out(i) = text.charAt(i).toInt; i += 1 }
    out
  }

  // ---- Winnowing (long-common-substring candidates) ------------------------

  /** Winnowed character-level fingerprints: k-char rolling hashes, one
    * selected (the rightmost minimum) per sliding window of w consecutive
    * k-grams. Guarantee: two texts sharing a substring of length
    * ≥ w + k - 1 share at least one selected fingerprint. Returns the
    * distinct selected hashes. */
  def winnowFingerprints(text: String, k: Int, w: Int): Array[Long] = {
    val n = text.length
    if (n < k) return Array.empty
    val m = n - k + 1 // number of k-grams
    val grams = new Array[Long](m)
    // polynomial rolling hash base B over mod 2^64, then mixed
    val B = 0x100000001B3L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    grams(0) = Hash64.mix(h)
    var g = 1
    while (g < m) {
      h = (h - text.charAt(g - 1) * pow) * B + text.charAt(g + k - 1)
      grams(g) = Hash64.mix(h)
      g += 1
    }
    if (m <= w) {
      // too short for a full window: select the global minimum
      var best = grams(0)
      i = 1
      while (i < m) {
        if (java.lang.Long.compareUnsigned(grams(i), best) <= 0) best = grams(i)
        i += 1
      }
      return Array(best)
    }
    // sliding-window minimum (monotonic deque over indices)
    val selected = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail)
    i = 0
    while (i < m) {
      while (tail > head && java.lang.Long.compareUnsigned(grams(deque(tail - 1)), grams(i)) >= 0)
        tail -= 1 // rightmost-min rule: pop equals too
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) selected.add(grams(deque(head)))
      i += 1
    }
    val out = new Array[Long](selected.size())
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Exact verification: do a and b share a common substring of length ≥ L?
    * Rolling-hash L-grams of the shorter side into a table, slide the longer
    * side, confirm hash hits by direct character comparison (no
    * false positives). O(|a| + |b|) expected.
    *
    * The gram index is a primitive open-addressing table (parallel long/int
    * arrays, linear probing, ≤ 4 stored positions per distinct hash): this
    * kernel runs once per candidate pair — ~300k pairs per 1M docs — and
    * the earlier boxed HashMap<Long, ArrayList<Integer>> allocated ~m boxed
    * entries per call, tens of millions of heap objects per stage on a
    * memory-bandwidth-bound host (BENCH.md). Zero allocations now beyond
    * the three flat arrays. */
  def commonSubstringAtLeast(a: String, b: String, L: Int): Boolean = {
    if (a.length < L || b.length < L) return false
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val B = 0x100000001B3L
    val Cap = 4
    var pow = 1L
    var i = 0
    while (i < L - 1) { pow *= B; i += 1 }
    val mS = s.length - L + 1
    // power-of-two table ≥ 2× gram count; cnt[slot] = stored positions.
    // Sizing is computed in Long (ADVICE r2): with Int arithmetic a shorter
    // side above 2^30 chars made `mS * 2` negative (degenerate 4-slot table
    // ⇒ infinite linear probe) and above 2^28 the nB*Cap below overflowed.
    // A ≥256 MiB *shorter* side means two such documents met in one
    // candidate pair — reject loudly rather than hang.
    require(mS <= (1 << 28),
      s"commonSubstringAtLeast: shorter side has $mS grams (> 2^28); " +
        "document too large for the in-memory gram table")
    var nB = 4
    while (nB.toLong < mS.toLong * 2) nB <<= 1
    val mask = nB - 1
    val keys = new Array[Long](nB)
    val cnt = new Array[Byte](nB)
    val posArr = new Array[Int](nB * Cap)
    // index the shorter string's L-grams
    var h = 0L
    i = 0
    while (i < L) { h = h * B + s.charAt(i); i += 1 }
    var pos = 0
    while (pos < mS) {
      val key = Hash64.mix(h)
      var slot = (key & mask).toInt
      while (cnt(slot) != 0 && keys(slot) != key) slot = (slot + 1) & mask
      keys(slot) = key
      if (cnt(slot) < Cap) { // cap verify fan-out per hash
        posArr(slot * Cap + cnt(slot)) = pos
        cnt(slot) = (cnt(slot) + 1).toByte
      }
      if (pos + 1 < mS) h = (h - s.charAt(pos) * pow) * B + s.charAt(pos + L)
      pos += 1
    }
    // slide the longer string
    h = 0L
    i = 0
    while (i < L) { h = h * B + t.charAt(i); i += 1 }
    pos = 0
    val mT = t.length - L + 1
    while (pos < mT) {
      val key = Hash64.mix(h)
      var slot = (key & mask).toInt
      while (cnt(slot) != 0 && keys(slot) != key) slot = (slot + 1) & mask
      if (cnt(slot) != 0) {
        var j = 0
        while (j < cnt(slot)) {
          if (t.regionMatches(pos, s, posArr(slot * Cap + j), L)) return true
          j += 1
        }
      }
      if (pos + 1 < mT) h = (h - t.charAt(pos) * pow) * B + t.charAt(pos + L)
      pos += 1
    }
    false
  }

  /** Merged 1-based character spans of `a` that are covered by some exact
    * L-gram also present in `b` — the per-pair kernel of Lee et al. 2022
    * span-level dedup ("Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): a character of `a` is duplicated w.r.t. `b` iff it
    * lies inside an exact ≥ L-char substring shared with `b`, and every
    * shared ≥ L substring is exactly a maximal run of shared L-grams, so
    * the union of shared-L-gram windows IS the duplicated-span set.
    *
    * Returns spans packed as `(start << 32) | end` with 1-based `start`,
    * exclusive `end` (substr-compatible), merged: overlapping or adjacent
    * windows coalesce. Same open-addressing gram table + rolling-hash +
    * direct character confirmation as [[commonSubstringAtLeast]] (zero
    * false positives), O(|a| + |b|) expected.
    */
  def sharedGramSpans(a: String, b: String, L: Int): Array[Long] = {
    if (a.length < L || b.length < L) return Array.emptyLongArray
    val B = 0x100000001B3L
    val Cap = 4
    var pow = 1L
    var i = 0
    while (i < L - 1) { pow *= B; i += 1 }
    // index b's L-grams (hash → ≤ Cap char-verify positions; the 64-bit
    // mixed hash makes >Cap distinct-content collisions per key negligible,
    // and coverage needs only ONE confirmed occurrence)
    val mB = b.length - L + 1
    require(mB <= (1 << 28),
      s"sharedGramSpans: indexed side has $mB grams (> 2^28); " +
        "document too large for the in-memory gram table")
    var nB = 4
    while (nB.toLong < mB.toLong * 2) nB <<= 1
    val mask = nB - 1
    val keys = new Array[Long](nB)
    val cnt = new Array[Byte](nB)
    val posArr = new Array[Int](nB * Cap)
    var h = 0L
    i = 0
    while (i < L) { h = h * B + b.charAt(i); i += 1 }
    var pos = 0
    while (pos < mB) {
      val key = Hash64.mix(h)
      var slot = (key & mask).toInt
      while (cnt(slot) != 0 && keys(slot) != key) slot = (slot + 1) & mask
      keys(slot) = key
      if (cnt(slot) < Cap) {
        posArr(slot * Cap + cnt(slot)) = pos
        cnt(slot) = (cnt(slot) + 1).toByte
      }
      if (pos + 1 < mB) h = (h - b.charAt(pos) * pow) * B + b.charAt(pos + L)
      pos += 1
    }
    // slide a; emit merged spans of confirmed shared windows
    val spans = new scala.collection.mutable.ArrayBuffer[Long]()
    var curS = -1L
    var curE = -1L
    h = 0L
    i = 0
    while (i < L) { h = h * B + a.charAt(i); i += 1 }
    pos = 0
    val mA = a.length - L + 1
    while (pos < mA) {
      val key = Hash64.mix(h)
      var slot = (key & mask).toInt
      while (cnt(slot) != 0 && keys(slot) != key) slot = (slot + 1) & mask
      var matched = false
      if (cnt(slot) != 0) {
        var j = 0
        while (!matched && j < cnt(slot)) {
          matched = a.regionMatches(pos, b, posArr(slot * Cap + j), L)
          j += 1
        }
      }
      if (matched) {
        val s1 = (pos + 1).toLong // 1-based start
        val e1 = s1 + L // exclusive end
        if (curS >= 0 && s1 <= curE) { if (e1 > curE) curE = e1 }
        else {
          if (curS >= 0) spans += ((curS << 32) | curE)
          curS = s1; curE = e1
        }
      }
      if (pos + 1 < mA) h = (h - a.charAt(pos) * pow) * B + a.charAt(pos + L)
      pos += 1
    }
    if (curS >= 0) spans += ((curS << 32) | curE)
    spans.toArray
  }

  // ---- Vector LSH (random hyperplane SimHash for embeddings) ---------------

  /** Sign-random-projection signature for a float vector (Charikar 2002):
    * bit i = sign(<v, r_i>) with r_i a deterministic ±1 hyperplane derived
    * from (seed, i, dim index). Cosine-similar vectors agree on most bits. */
  def vecSimHash(v: Array[Float], bits: Int, seed: Long): Long = {
    require(bits <= 64)
    var out = 0L
    var b = 0
    while (b < bits) {
      var acc = 0.0
      var d = 0
      while (d < v.length) {
        // deterministic ±1 component
        val r = if ((Hash64.mix(seed ^ (b.toLong << 32) ^ d.toLong) & 1L) == 1L) 1.0 else -1.0
        acc += v(d) * r
        d += 1
      }
      if (acc > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
