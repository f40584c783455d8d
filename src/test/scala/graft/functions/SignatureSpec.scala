package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class SignatureSpec extends AnyFunSuite {

  private val seed = 42L

  private def randomDoc(r: scala.util.Random, n: Int): String =
    Seq.fill(n)(s"w${r.nextInt(500)}").mkString(" ")

  test("minhash signature is deterministic and length n") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val a = MinHashImpl.sig(t, 5, 128, seed)
    val b = MinHashImpl.sig(t, 5, 128, seed)
    assert(a.length == 128 && a.sameElements(b))
    assert(!MinHashImpl.sig(t + " tail", 5, 128, seed).sameElements(a))
  }

  test("property: |estJaccard − trueJaccard| ≤ 3/√n on random edits") {
    val r = new scala.util.Random(seed)
    val n = 128
    val eps = 3.0 / math.sqrt(n.toDouble) // ≈ 0.265, 3σ-ish bound per pair
    (0 until 60).foreach { _ =>
      val base = randomDoc(r, 80 + r.nextInt(200))
      val toks = base.split(' ')
      val edits = 1 + r.nextInt(math.max(1, toks.length / 5))
      (0 until edits).foreach(_ => toks(r.nextInt(toks.length)) = s"w${r.nextInt(500)}")
      val other = toks.mkString(" ")
      val trueJ = MinHashImpl.exactJaccard(base, other, 5, seed)
      val estJ = MinHashImpl.estJaccard(
        MinHashImpl.sig(base, 5, n, seed), MinHashImpl.sig(other, 5, n, seed))
      assert(math.abs(estJ - trueJ) <= eps, s"est=$estJ true=$trueJ")
    }
  }

  test("identical texts have estJaccard 1.0 and equal simhash") {
    val t = randomDoc(new scala.util.Random(1), 100)
    assert(MinHashImpl.estJaccard(
      MinHashImpl.sig(t, 5, 128, seed), MinHashImpl.sig(t, 5, 128, seed)) == 1.0)
    assert(MinHashImpl.simhash(t, 5, seed) == MinHashImpl.simhash(t, 5, seed))
  }

  test("simhash hamming grows monotonically-ish with edit rate") {
    val r = new scala.util.Random(3)
    val base = randomDoc(r, 300)
    def editedHam(pct: Int): Double = {
      val hs = (0 until 10).map { i =>
        val rr = new scala.util.Random(100 + i)
        val toks = base.split(' ')
        val e = math.max(1, toks.length * pct / 100)
        (0 until e).foreach(_ => toks(rr.nextInt(toks.length)) = s"x${rr.nextInt(500)}")
        MinHashImpl.hamming(
          MinHashImpl.simhash(base, 5, seed),
          MinHashImpl.simhash(toks.mkString(" "), 5, seed))
      }
      hs.sum.toDouble / hs.size
    }
    val h1 = editedHam(1); val h8 = editedHam(8); val h40 = editedHam(40)
    assert(h1 <= h8 && h8 <= h40 && h1 < h40, s"h1=$h1 h8=$h8 h40=$h40")
    // each token edit perturbs k=5 shingles, so even 1% token edits move
    // several bits — simhash hamming ≤ 3 captures only the very nearest dups
    assert(h1 <= 14, s"1% edits should stay nearest: $h1")
  }

  test("property: mergeJaccard(shingleSet) ≡ exactJaccard(texts)") {
    // the verify stage precomputes each doc's shingle set once and merges
    // per pair — must be value-identical to the per-pair text kernel
    val r = new scala.util.Random(31)
    (0 until 60).foreach { _ =>
      val a = randomDoc(r, r.nextInt(300)) // includes < k-word and empty docs
      val toks = a.split(' ')
      (0 until r.nextInt(1 + toks.length / 4)).foreach(_ =>
        toks(r.nextInt(toks.length)) = s"z${r.nextInt(500)}")
      val b = toks.mkString(" ")
      val viaSets = MinHashImpl.mergeJaccard(
        MinHashImpl.shingleSet(a, 5, seed), MinHashImpl.shingleSet(b, 5, seed))
      assert(viaSets == MinHashImpl.exactJaccard(a, b, 5, seed))
    }
    // sets are distinct + unsigned-sorted (merge precondition)
    val s = MinHashImpl.shingleSet(randomDoc(r, 200), 5, seed)
    (1 until s.length).foreach(i =>
      assert(java.lang.Long.compareUnsigned(s(i - 1), s(i)) < 0))
  }

  test("short docs (fewer than k words) hash as whole-text single shingle") {
    assert(MinHashImpl.shingleHashes("one two", 5, seed).length == 1)
    assert(MinHashImpl.shingleHashes("", 5, seed).length == 1)
    assert(MinHashImpl.exactJaccard("one two", "one two", 5, seed) == 1.0)
    assert(MinHashImpl.exactJaccard("one two", "one three", 5, seed) == 0.0)
  }

  test("lsh banding: J≥0.8 pairs share a band bucket with near-certainty") {
    // P(no shared band) = (1-J^r)^b ; J=0.8, r=4, b=32 → ≈ 5e-8
    val r = new scala.util.Random(11)
    var shared = 0; var total = 0
    (0 until 40).foreach { _ =>
      val base = randomDoc(r, 200)
      val toks = base.split(' ')
      (0 until math.max(1, toks.length / 50)).foreach(_ => // ~2% edits
        toks(r.nextInt(toks.length)) = s"y${r.nextInt(500)}")
      val other = toks.mkString(" ")
      if (MinHashImpl.exactJaccard(base, other, 5, seed) >= 0.8) {
        total += 1
        val ba = MinHashImpl.bandBuckets(MinHashImpl.sig(base, 5, 128, seed), 32, 4, seed)
        val bb = MinHashImpl.bandBuckets(MinHashImpl.sig(other, 5, 128, seed), 32, 4, seed)
        if (ba.zip(bb).exists { case (x, y) => x == y }) shared += 1
      }
    }
    assert(total > 10 && shared == total, s"$shared/$total")
  }

  test("simhash permuted tables (Manku WWW'07): hamming ≤ 3 pairs share a " +
    "table key; key count is C(6,3); key space beats 16-bit blocks") {
    val r = new scala.util.Random(29)
    (0 until 500).foreach { _ =>
      val h = r.nextLong()
      var h2 = h
      // flip 0..3 DISTINCT bits (xor of a random bit twice would undo it)
      val bits = r.shuffle((0 until 64).toList).take(r.nextInt(4))
      bits.foreach(b => h2 ^= (1L << b))
      val a = MinHashImpl.simhashTableKeys(h, 6, 3)
      val b = MinHashImpl.simhashTableKeys(h2, 6, 3)
      assert(a.length == 20 && b.length == 20)
      assert(a.zip(b).exists { case (x, y) => x == y },
        s"hamming=${MinHashImpl.hamming(h, h2)} pair shares no table key")
    }
    // determinism
    val h = 0x123456789ABCDEFL
    assert(MinHashImpl.simhashTableKeys(h, 6, 3)
      .sameElements(MinHashImpl.simhashTableKeys(h, 6, 3)))
    // hamming 4 pairs may legitimately miss (guarantee is ≤ nBlocks - keep)
  }

  test("winnowing guarantee: shared ≥L-char substring ⇒ shared fingerprint") {
    val r = new scala.util.Random(17)
    val k = 50; val L = 200; val w = L - k + 1
    (0 until 30).foreach { _ =>
      val shared = randomDoc(r, 60).take(250) // > L chars
      val a = randomDoc(r, 50) + " " + shared + " " + randomDoc(r, 50)
      val b = randomDoc(r, 70) + " " + shared + " " + randomDoc(r, 30)
      val fa = MinHashImpl.winnowFingerprints(a, k, w).toSet
      val fb = MinHashImpl.winnowFingerprints(b, k, w).toSet
      assert(fa.intersect(fb).nonEmpty)
      assert(MinHashImpl.commonSubstringAtLeast(a, b, L))
    }
  }

  test("commonSubstringAtLeast: negative and boundary cases") {
    val r = new scala.util.Random(19)
    val a = randomDoc(r, 300)
    val b = randomDoc(r, 300)
    assert(!MinHashImpl.commonSubstringAtLeast(a, b, 100))
    assert(MinHashImpl.commonSubstringAtLeast(a, a, a.length)) // whole string
    assert(!MinHashImpl.commonSubstringAtLeast("short", "short", 100)) // too short
    val c = a.substring(50, 180)
    assert(MinHashImpl.commonSubstringAtLeast(a, "zzz " + c + " qqq", 100))
  }

  test("commonSubstringAtLeast: differential vs naive O(n²) truth on random pairs") {
    def naive(a: String, b: String, l: Int): Boolean = {
      if (a.length < l || b.length < l) return false
      val grams = (0 to b.length - l).map(i => b.substring(i, i + l)).toSet
      (0 to a.length - l).exists(i => grams.contains(a.substring(i, i + l)))
    }
    val r = new scala.util.Random(29)
    (0 until 60).foreach { i =>
      val l = 20 + r.nextInt(60)
      val a = randomDoc(r, 30 + r.nextInt(40))
      val b =
        if (i % 3 == 0) a.substring(r.nextInt(10)) + " " + randomDoc(r, 20) // planted overlap
        else if (i % 3 == 1) randomDoc(r, 30 + r.nextInt(40)) // independent
        else randomDoc(r, 10) + " " + a.substring(5, math.min(a.length, 5 + l + r.nextInt(40)))
      assert(
        MinHashImpl.commonSubstringAtLeast(a, b, l) == naive(a, b, l),
        s"l=$l i=$i kernel disagrees with naive truth")
    }
  }

  test("vecSimHash: identical vectors agree; orthogonal-ish differ") {
    val r = new scala.util.Random(23)
    val v = Array.fill(64)(r.nextFloat() - 0.5f)
    assert(MinHashImpl.vecSimHash(v, 16, seed) == MinHashImpl.vecSimHash(v, 16, seed))
    val scaled = v.map(_ * 3.7f) // scale-invariant (sign projections)
    assert(MinHashImpl.vecSimHash(scaled, 16, seed) == MinHashImpl.vecSimHash(v, 16, seed))
    val neg = v.map(x => -x) // antipodal flips every bit
    assert(MinHashImpl.hamming(
      MinHashImpl.vecSimHash(neg, 16, seed), MinHashImpl.vecSimHash(v, 16, seed)) == 16)
  }
}
