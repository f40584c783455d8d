package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.gf
import graft.operators.{Drift, Kmv, Lsh, SubstringDup, WebNormalize}

/** Executed-plan assertions for the round-5 third-wave PLAN claims
  * (PLANS.md 36–38). Inputs round-trip through parquet first so
  * ConvertToLocalRelation cannot fold the projections at plan time (the
  * known local-Seq fake documented in the verify skill); assertions read
  * the AQE FINAL plan section only.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def viaParquet(texts: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_shape").toString
    texts.toDF("url", "text").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def fixture = (1 to 300).map(i =>
    (s"https://h${i % 7}.example/p$i", s"alpha w$i beta tok${i % 40} gamma"))

  test("PLAN 36: kmv sketch runs a map-side partial; exchange carries buffers, not keys") {
    val plan = finalPlan(Kmv.distinctReport(viaParquet(fixture), "text", 64))
    assert(plan.contains("partial_kmv_sketch"),
      s"map-side partial pass missing:\n$plan")
    // the only exchange for the sketch is the SinglePartition buffer merge
    // — no hashpartitioning of the corpus keys anywhere
    assert(!plan.contains("Exchange hashpartitioning"),
      s"sketch must not shuffle corpus keys:\n$plan")
    assert(plan.contains("Exchange SinglePartition"))
  }

  test("PLAN 37: cdxIndex is a projection plus ONE range exchange (sorted artifact)") {
    val caps = viaParquet(fixture)
      .select(col("url"), lit(1L).as("ts_s"), col("text"))
    val plan = finalPlan(WebNormalize.cdxIndex(caps))
    assert("Exchange rangepartitioning\\(surt".r.findAllIn(plan).length == 1,
      s"want exactly one range exchange on surt:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no aggregate/join shuffle belongs in the index write:\n$plan")
    assert(!plan.contains("ScalaUDF"))
  }

  test("PLAN 38: drift is one bounded-key aggregate; token text never shuffles") {
    val a = viaParquet(fixture)
    val b = viaParquet(fixture.map { case (u, t) => (u, t + " shifted") })
    val plan = finalPlan(Drift.report(a, b))
    // partial_sum under the (key, bucket) exchange = map-side combine ran
    assert(plan.contains("partial_sum"), s"map-side combine missing:\n$plan")
    // every hash exchange keys on the bounded (key, bucket) / key columns
    // — 'tok' must appear in no exchange
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toList
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("tok")),
      s"token stream must not shuffle:\n$exchanges")
  }

  test("PLAN: substring candidates cross exactly ONE bkey exchange (shared capped-pair step)") {
    val docs = viaParquet(fixture).withColumn("nk", gf.natural_sort_key(col("url")))
    val plan = finalPlan(
      SubstringDup.candidatePairs(spark, docs, SubstringDup.Config(minSubstr = 20, anchorK = 8)))
    // the exploded fingerprint table is partitioned by bkey once; the
    // bounded top-k aggregate and the pair expansion reuse it
    val bkeyExchanges = "hashpartitioning\\(bkey".r.findAllIn(plan).length
    assert(bkeyExchanges == 1, s"expected 1 bkey exchange, got $bkeyExchanges:\n$plan")
  }

  test("PLAN: the near and substring verifiers reduce and attach endpoints from ONE evaluation") {
    import spark.implicits._
    val docs = viaParquet(fixture)
    val urls = fixture.map(_._1)
    val dir = java.nio.file.Files.createTempDirectory("plan_shape_pairs").toString
    urls.zip(urls.tail).take(40).map { case (a, b) => (a, b, true, 0, 1L) }
      .toDF("src", "dst", "same_sig", "ham", "nshared")
      .write.mode("overwrite").parquet(dir)
    val cands = spark.read.parquet(dir)
    // the pair melt probes one payload subtree: one touched-url semi-join
    // and one shingling pass, however many pairs each doc sits in
    val near = finalPlan(Lsh.verifiedEdges(cands, docs, Lsh.Config(), tau = 0.0))
    assert("shingle_set\\(".r.findAllIn(near).length == 1, s"shingle_set planned twice:\n$near")
    assert("LeftSemi".r.findAllIn(near).length == 1, s"expected one LeftSemi:\n$near")
    val sub = finalPlan(SubstringDup.verifiedEdges(
      cands.select(col("src"), col("dst")), docs, SubstringDup.Config(minSubstr = 20, anchorK = 8)))
    assert("LeftSemi".r.findAllIn(sub).length == 1, s"expected one LeftSemi:\n$sub")
  }
}
