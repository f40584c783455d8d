package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the engine's non-built-in scalar functions.
  *
  * Each implements `doGenCode` as a single static call into the pure kernels
  * (Hash64 / MinHashImpl / NaturalKey / TextExtract), so they participate in
  * whole-stage codegen rather than falling back to interpreted eval — the
  * hot path (signature computation over every document) stays inside one
  * generated loop with the parquet scan and the downstream projections.
  *
  * Parameters (k, n, seed, …) are plan-time constants held in the case
  * class, not child expressions: they are fixed per run (reference analog:
  * the persisted config record, `ViewModels/MainViewModel.cs:114-145`).
  */
object codegenHelpers {
  /** Static entry points invoked from generated Java. */
  def minhash(u: UTF8String, k: Int, n: Int, seed: Long): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashImpl.sig(u.toString, k, n, seed))
  def simhash(u: UTF8String, k: Int, seed: Long): Long =
    MinHashImpl.simhash(u.toString, k, seed)
  def sigPair(u: UTF8String, k: Int, n: Int, seed: Long)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val (sig, sim) = MinHashImpl.sigAndSimhash(u.toString, k, n, seed)
    new GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(sig), sim))
  }
  def naturalKey(u: UTF8String): Array[Byte] =
    NaturalKey.key(u.toString)
  def nkPrefix64(key: Array[Byte]): Long = NaturalKey.prefix64(key)
  def extractText(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(TextExtract.extractText(bytes))
  def winnow(u: UTF8String, k: Int, w: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashImpl.winnowFingerprints(u.toString, k, w))
  def charCodes(u: UTF8String): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashImpl.charCodes(u.toString))
  def bandBuckets(sig: org.apache.spark.sql.catalyst.util.ArrayData,
                  bands: Int, rowsPerBand: Int, seed: Long): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      MinHashImpl.bandBuckets(sig.toLongArray(), bands, rowsPerBand, seed))
  def sigDigest(sig: org.apache.spark.sql.catalyst.util.ArrayData): Long =
    MinHashImpl.sigDigest(sig.toLongArray())
  def simhashTableKeys(h: Long, nBlocks: Int, keep: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashImpl.simhashTableKeys(h, nBlocks, keep))
  def estJaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 b: org.apache.spark.sql.catalyst.util.ArrayData): Double =
    MinHashImpl.estJaccard(a.toLongArray(), b.toLongArray())
  def exactJaccard(a: UTF8String, b: UTF8String, k: Int, seed: Long): Double =
    MinHashImpl.exactJaccard(a.toString, b.toString, k, seed)
  def shingleSet(u: UTF8String, k: Int, seed: Long): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(MinHashImpl.shingleSet(u.toString, k, seed))
  def mergeJaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
                   b: org.apache.spark.sql.catalyst.util.ArrayData): Double =
    MinHashImpl.mergeJaccard(a.toLongArray(), b.toLongArray())
  def hamming(a: Long, b: Long): Int = MinHashImpl.hamming(a, b)
  def commonSubstring(a: UTF8String, b: UTF8String, l: Int): Boolean =
    MinHashImpl.commonSubstringAtLeast(a.toString, b.toString, l)
  def sharedSpans(a: UTF8String, b: UTF8String, l: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      MinHashImpl.sharedGramSpans(a.toString, b.toString, l))
  def vecSimHash(v: org.apache.spark.sql.catalyst.util.ArrayData, bits: Int, seed: Long): Long =
    MinHashImpl.vecSimHash(v.toFloatArray(), bits, seed)
  def unicodeNorm(u: UTF8String, form: String): UTF8String = {
    val s = u.toString
    val f = java.text.Normalizer.Form.valueOf(form)
    // already-normalized text (the overwhelming majority of a web corpus)
    // short-circuits without allocating a normalized copy
    if (java.text.Normalizer.isNormalized(s, f)) u
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }
}

private[graft] trait GraftUnary extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  protected final val H = "graft.functions.codegenHelpers"
  protected def staticCall(c: String): String
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => staticCall(c))
}

/** html binary → canonical extracted text (FIXTURES.md extractor contract). */
case class ExtractText(child: Expression) extends GraftUnary {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.extractText(v.asInstanceOf[Array[Byte]])
  override protected def staticCall(c: String): String = s"$H.extractText($c)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "extract_text"
}

/** string → binary-comparable natural-sort key (reference comparator,
  * `ViewModels/MainViewModel.cs:942-982`). */
case class NaturalSortKey(child: Expression) extends GraftUnary {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.naturalKey(v.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String = s"$H.naturalKey($c)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "natural_sort_key"
}

/** natural key binary → order-preserving 8-byte prefix long (hot-path
  * ordering only — see NaturalKey.prefix64). */
case class NkPrefix64(child: Expression) extends GraftUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.nkPrefix64(v.asInstanceOf[Array[Byte]])
  override protected def staticCall(c: String): String = s"$H.nkPrefix64($c)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nk_prefix64"
}

/** text → MinHash signature (array<long>, length n). */
case class MinHashSig(child: Expression, k: Int, n: Int, seed: Long) extends GraftUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.minhash(v.asInstanceOf[UTF8String], k, n, seed)
  override protected def staticCall(c: String): String = s"$H.minhash($c, $k, $n, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** text → 64-bit SimHash fingerprint. */
case class SimHash64(child: Expression, k: Int, seed: Long) extends GraftUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.simhash(v.asInstanceOf[UTF8String], k, seed)
  override protected def staticCall(c: String): String = s"$H.simhash($c, $k, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** text → struct(sig: array<long>, simhash: long) from one tokenize+hash
  * pass — [[MinHashSig]] and [[SimHash64]] fused for the signature stage,
  * where the two columns always travel together and separate expressions
  * paid the UTF-8 decode and shingle rolling hash twice per document.
  * Field values are bit-identical to the standalone expressions. */
case class SigPair(child: Expression, k: Int, n: Int, seed: Long) extends GraftUnary {
  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("simhash", LongType, nullable = false)))
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.sigPair(v.asInstanceOf[UTF8String], k, n, seed)
  override protected def staticCall(c: String): String =
    s"$H.sigPair($c, $k, $n, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sig_pair"
}

/** minhash signature → per-band LSH bucket ids (array<long>, length bands). */
case class BandBuckets(child: Expression, bands: Int, rowsPerBand: Int, seed: Long)
    extends GraftUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.bandBuckets(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands, rowsPerBand, seed)
  override protected def staticCall(c: String): String =
    s"$H.bandBuckets($c, $bands, $rowsPerBand, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "band_buckets"
}

/** minhash signature → single 64-bit digest (identical-signature grouping). */
case class SigDigest(child: Expression) extends GraftUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.sigDigest(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def staticCall(c: String): String = s"$H.sigDigest($c)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sig_digest"
}

/** simhash → C(nBlocks, keep) permuted-table keys (Manku WWW'07) — complete
  * candidates for Hamming ≤ nBlocks - keep with ~2^32 key space per table. */
case class SimHashTableKeys(child: Expression, nBlocks: Int, keep: Int) extends GraftUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.simhashTableKeys(v.asInstanceOf[Long], nBlocks, keep)
  override protected def staticCall(c: String): String =
    s"$H.simhashTableKeys($c, $nBlocks, $keep)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash_table_keys"
}

/** text → winnowed substring fingerprints (array<long>); pairs sharing one
  * are candidates for a ≥ (w + k - 1)-char common substring. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int) extends GraftUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.winnow(v.asInstanceOf[UTF8String], k, w)
  override protected def staticCall(c: String): String = s"$H.winnow($c, $k, $w)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "winnow_fingerprints"
}

/** text → UTF-16 code units (array<int>) — the depth-1 ranks of the
  * suffix-array prefix-doubling pass (operators/SuffixArray.scala). */
case class CharCodes(child: Expression) extends GraftUnary {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.charCodes(v.asInstanceOf[UTF8String])
  override protected def staticCall(c: String): String = s"$H.charCodes($c)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "char_codes"
}

private[graft] trait GraftBinary extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  protected final val H = "graft.functions.codegenHelpers"
  protected def staticCall(l: String, r: String): String
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => staticCall(l, r))
}

/** (sigA, sigB) → estimated Jaccard (component agreement fraction). */
case class EstJaccard(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.estJaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def staticCall(l: String, r: String): String = s"$H.estJaccard($l, $r)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "est_jaccard"
}

/** (textA, textB) → exact k-shingle-set Jaccard (verification truth). */
case class ShingleJaccard(left: Expression, right: Expression, k: Int, seed: Long)
    extends GraftBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.exactJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k, seed)
  override protected def staticCall(l: String, r: String): String =
    s"$H.exactJaccard($l, $r, $k, ${seed}L)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "shingle_jaccard"
}

/** text → distinct unsigned-sorted k-shingle hash set (array<long>).
  * Computed once per doc so pair verification merges precomputed sets
  * instead of re-shingling both texts per pair (see MinHashImpl.shingleSet). */
case class ShingleSet(child: Expression, k: Int, seed: Long) extends GraftUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.shingleSet(v.asInstanceOf[UTF8String], k, seed)
  override protected def staticCall(c: String): String = s"$H.shingleSet($c, $k, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "shingle_set"
}

/** (shingleSetA, shingleSetB) → exact Jaccard (sorted-merge; equals
  * shingle_jaccard on the source texts by construction). */
case class MergeJaccard(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.mergeJaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def staticCall(l: String, r: String): String = s"$H.mergeJaccard($l, $r)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "merge_jaccard"
}

/** (simhashA, simhashB) → Hamming distance. */
case class HammingDist(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.hamming(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def staticCall(l: String, r: String): String = s"$H.hamming($l, $r)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "hamming_dist"
}

/** (textA, textB) → true iff an exact common substring of length ≥ L exists. */
case class CommonSubstringGE(left: Expression, right: Expression, l: Int) extends GraftBinary {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.commonSubstring(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], l)
  override protected def staticCall(x: String, y: String): String =
    s"$H.commonSubstring($x, $y, $l)"
  override protected def withNewChildrenInternal(x: Expression, y: Expression): Expression =
    copy(left = x, right = y)
  override def prettyName: String = "common_substring_ge"
}

/** (textA, textB) → merged 1-based [start, end) spans of textA covered by an
  * exact L-gram shared with textB, packed (start << 32) | end — the Lee et
  * al. 2022 span-dedup kernel (see MinHashImpl.sharedGramSpans). */
case class SharedSpans(left: Expression, right: Expression, l: Int) extends GraftBinary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    codegenHelpers.sharedSpans(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], l)
  override protected def staticCall(x: String, y: String): String =
    s"$H.sharedSpans($x, $y, $l)"
  override protected def withNewChildrenInternal(x: Expression, y: Expression): Expression =
    copy(left = x, right = y)
  override def prettyName: String = "shared_spans"
}

/** embedding array<float> → sign-random-projection LSH signature. */
case class VecSimHash(child: Expression, bits: Int, seed: Long) extends GraftUnary {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.vecSimHash(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits, seed)
  override protected def staticCall(c: String): String = s"$H.vecSimHash($c, $bits, ${seed}L)"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "vec_simhash"
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD via `java.text.Normalizer`) —
  * the pre-hash canonicalization step every dedup pipeline needs: composed
  * U+00E9 and decomposed e+U+0301 render identically but hash differently,
  * so un-normalized corpora under-deduplicate. Already-normalized input
  * (the vast majority of web text) short-circuits via `isNormalized`
  * without allocation, keeping the hot path cheap inside whole-stage
  * codegen. `form` is a plan-time constant from the validated set. */
case class UnicodeNorm(child: Expression, form: String) extends GraftUnary {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"unknown form: $form")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    codegenHelpers.unicodeNorm(v.asInstanceOf[UTF8String], form)
  override protected def staticCall(c: String): String = s"""$H.unicodeNorm($c, "$form")"""
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "unicode_norm"
}

/** Column-API surface for the custom expressions. */
object gf {
  private def expr(c: Column): Expression = org.apache.spark.sql.graft.bridge.expression(c)
  private def col(e: Expression): Column = org.apache.spark.sql.graft.bridge.column(e)

  def extract_text(c: Column): Column = col(ExtractText(expr(c)))
  def natural_sort_key(c: Column): Column = col(NaturalSortKey(expr(c)))
  def nk_prefix64(c: Column): Column = col(NkPrefix64(expr(c)))
  def minhash_sig(c: Column, k: Int, n: Int, seed: Long): Column =
    col(MinHashSig(expr(c), k, n, seed))
  def simhash64(c: Column, k: Int, seed: Long): Column = col(SimHash64(expr(c), k, seed))
  def sig_pair(c: Column, k: Int, n: Int, seed: Long): Column =
    col(SigPair(expr(c), k, n, seed))
  def band_buckets(c: Column, bands: Int, rowsPerBand: Int, seed: Long): Column =
    col(BandBuckets(expr(c), bands, rowsPerBand, seed))
  def sig_digest(c: Column): Column = col(SigDigest(expr(c)))
  def simhash_table_keys(c: Column, nBlocks: Int, keep: Int): Column =
    col(SimHashTableKeys(expr(c), nBlocks, keep))
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    col(WinnowFingerprints(expr(c), k, w))
  def char_codes(c: Column): Column = col(CharCodes(expr(c)))
  def est_jaccard(a: Column, b: Column): Column = col(EstJaccard(expr(a), expr(b)))
  def shingle_jaccard(a: Column, b: Column, k: Int, seed: Long): Column =
    col(ShingleJaccard(expr(a), expr(b), k, seed))
  def shingle_set(c: Column, k: Int, seed: Long): Column = col(ShingleSet(expr(c), k, seed))
  def merge_jaccard(a: Column, b: Column): Column = col(MergeJaccard(expr(a), expr(b)))
  def hamming_dist(a: Column, b: Column): Column = col(HammingDist(expr(a), expr(b)))
  def common_substring_ge(a: Column, b: Column, l: Int): Column =
    col(CommonSubstringGE(expr(a), expr(b), l))
  def shared_spans(a: Column, b: Column, l: Int): Column =
    col(SharedSpans(expr(a), expr(b), l))
  def vec_simhash(c: Column, bits: Int, seed: Long): Column =
    col(VecSimHash(expr(c), bits, seed))
  def bounded_topk(nkp: Column, id: Column, sim: Column, cap: Int): Column =
    col(BoundedTopK(expr(nkp), expr(id), expr(sim), cap).toAggregateExpression())
  def misra_gries(item: Column, cap: Int): Column =
    col(MisraGries(expr(item), cap).toAggregateExpression())
  def kmv_sketch(hash: Column, k: Int): Column =
    col(KmvSketch(expr(hash), k).toAggregateExpression())
  def unicode_norm(c: Column, form: String = "NFC"): Column =
    col(UnicodeNorm(expr(c), form))
}
