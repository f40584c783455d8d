package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the engine's custom expressions, so every operator
  * is reachable from `spark.sql(...)` as well as the Column API:
  *
  *   SELECT url, minhash_sig(text, 5, 128, 42) FROM pages
  *
  * Two surfaces over one builder table:
  *   - [[GraftFunctions.register]] — imperative, current session only;
  *   - [[graft.GraftExtensions]] — `spark.sql.extensions` injection, so a
  *     plain `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
  *     exposes the functions with no driver code at all.
  */
object GraftFunctions {

  private def intLit(e: Expression): Int = e.eval(null).toString.toInt
  private def longLit(e: Expression): Long = e.eval(null).toString.toLong

  /** (name, builder) for every SQL-exposed function. `bounded_topk` builds
    * the bare [[BoundedTopK]] AggregateFunction — the analyzer wraps it in
    * an AggregateExpression like any built-in aggregate. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "extract_text" -> (es => ExtractText(es.head)),
    "natural_sort_key" -> (es => NaturalSortKey(es.head)),
    "nk_prefix64" -> (es => NkPrefix64(es.head)),
    "minhash_sig" -> (es => MinHashSig(es(0), intLit(es(1)), intLit(es(2)), longLit(es(3)))),
    "simhash64" -> (es => SimHash64(es(0), intLit(es(1)), longLit(es(2)))),
    "band_buckets" -> (es => BandBuckets(es(0), intLit(es(1)), intLit(es(2)), longLit(es(3)))),
    "sig_digest" -> (es => SigDigest(es.head)),
    "simhash_table_keys" -> (es => SimHashTableKeys(es(0), intLit(es(1)), intLit(es(2)))),
    "winnow_fingerprints" -> (es => WinnowFingerprints(es(0), intLit(es(1)), intLit(es(2)))),
    "est_jaccard" -> (es => EstJaccard(es(0), es(1))),
    "shingle_jaccard" -> (es => ShingleJaccard(es(0), es(1), intLit(es(2)), longLit(es(3)))),
    "shingle_set" -> (es => ShingleSet(es(0), intLit(es(1)), longLit(es(2)))),
    "merge_jaccard" -> (es => MergeJaccard(es(0), es(1))),
    "hamming_dist" -> (es => HammingDist(es(0), es(1))),
    "common_substring_ge" -> (es => CommonSubstringGE(es(0), es(1), intLit(es(2)))),
    "vec_simhash" -> (es => VecSimHash(es(0), intLit(es(1)), longLit(es(2)))),
    "bounded_topk" -> (es => BoundedTopK(es(0), es(1), es(2), intLit(es(3)))),
    "misra_gries" -> (es => MisraGries(es(0), intLit(es(1)))),
    "kmv_sketch" -> (es => KmvSketch(es(0), intLit(es(1)))),
    "unicode_norm" -> (es => UnicodeNorm(es(0), es(1).eval(null).toString)))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
