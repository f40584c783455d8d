package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SyntheticCorpus

class PipelineSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private val S = 600
  private lazy val corpus = SyntheticCorpus.local(S)
  private lazy val result = {
    val pages = spark.createDataFrame(corpus.pages)
    DedupPipeline.run(spark, pages, DedupConfig(verifyExtract = true), fromHtml = true)
  }
  private lazy val decisions = result.decisions.collect().map { r =>
    r.getAs[String]("url") ->
      (r.getAs[String]("cluster"), r.getAs[Long]("cluster_size"), r.getAs[String]("state"))
  }.toMap

  test("extract invariant: 0 mismatches") {
    assert(result.docs.where(!col("extract_ok")).count() == 0)
  }

  test("generation-truth dup-pair recall is ≥ 0.99") {
    val hit = corpus.truth.count(p =>
      decisions.get(p.a).map(_._1) == decisions.get(p.b).map(_._1))
    val recall = hit.toDouble / corpus.truth.size
    assert(corpus.truth.nonEmpty && recall >= 0.99, s"recall=$recall of ${corpus.truth.size}")
  }

  test("greedy-oracle (reference semantics) dup-pair recall is ≥ 0.99") {
    val oracle = GreedyOracle.run(corpus.pages)
    val hit = oracle.pairs.count { case (a, b) =>
      decisions.get(a).map(_._1) == decisions.get(b).map(_._1)
    }
    val recall = hit.toDouble / oracle.pairs.size
    assert(oracle.pairs.nonEmpty && recall >= 0.99,
      s"recall=$recall of ${oracle.pairs.size} oracle pairs")
  }

  test("short docs are ignored (strict < minLen) and never clustered") {
    corpus.shortUrls.foreach { u =>
      val (_, _, state) = decisions(u)
      assert(state == "ignored", s"$u: $state")
    }
    // strictness: a doc of exactly minLen chars must NOT be ignored
    val d = result.decisions.where(col("len") === 20 && col("state") === "ignored").count()
    assert(d == 0)
  }

  test("exactly one keep per multi-doc cluster; representative is natural-min") {
    val clusters = decisions.toSeq.groupBy(_._2._1)
    clusters.foreach { case (cluster, members) =>
      if (members.size > 1) {
        val keeps = members.filter(_._2._3 == "keep")
        assert(keeps.size == 1, s"cluster $cluster keeps=${keeps.size}")
        assert(keeps.head._1 == cluster, "keep is the cluster representative")
        val minUrl = members.map(_._1).min(Ordering.fromLessThan(
          (a: String, b: String) => graft.functions.NaturalKey.compare(a, b) < 0))
        assert(cluster == minUrl, s"rep $cluster != natural min $minUrl")
        members.filter(m => m._1 != cluster).foreach { m =>
          assert(m._2._3 == "delete")
        }
      }
    }
  }

  test("singletons are unique; states partition the corpus") {
    decisions.foreach { case (url, (cluster, size, state)) =>
      if (state == "unique") assert(size == 1, s"$url unique but size $size")
    }
    val byState = decisions.values.groupBy(_._3).view.mapValues(_.size).toMap
    assert(byState.values.sum == S)
    assert(Set("keep", "delete", "unique", "ignored").intersect(byState.keySet) == byState.keySet)
  }

  test("skew bomb forms one cluster with one keep") {
    val layout = SyntheticCorpus.Layout(S)
    val skewUrls = (0 until S)
      .filter(i => layout.slot(i).cls == "skew")
      .map(i => SyntheticCorpus.urlFor(S, i))
    val clusters = skewUrls.map(u => decisions(u)._1).toSet
    assert(clusters.size == 1, s"skew split into $clusters")
    assert(skewUrls.count(u => decisions(u)._3 == "keep") == 1)
  }

  test("stats aggregate to corpus totals") {
    val stats = result.stats.collect().map(r =>
      r.getAs[String]("state") -> r.getAs[Long]("docs")).toMap
    assert(stats.values.sum == S)
    val ratios = result.stats.agg(sum("doc_ratio")).head().getDouble(0)
    assert(math.abs(ratios - 1.0) < 1e-9)
  }

  test("digest dial (O12): crc32/md5/sha512 elect identical clusters") {
    // the reference exposes the algorithm as a user dial
    // (MainViewModel.cs:25-38); on a collision-free corpus every choice
    // must produce the same decisions
    val pages = spark.createDataFrame(SyntheticCorpus.local(200).pages)
    def run(algo: String) = DedupPipeline.run(
      spark, pages,
      DedupConfig(algo = algo, enableNear = false, enableSubstr = false),
      fromHtml = true)
      .decisions.select("url", "cluster", "state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val base = run("sha256")
    assert(run("md5") == base)
    assert(run("sha512") == base)
    assert(run("crc32") == base)
  }

  test("garbage rows (null html, null url, empty html) neither fail the run nor get clustered") {
    val pages = spark.createDataFrame(SyntheticCorpus.local(200).pages)
    val ts = new java.sql.Timestamp(0L)
    val garbage = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row("https://x/a.html", ts, null, null, "en"),
      org.apache.spark.sql.Row(null, ts, "<p>hi</p>".getBytes, null, "en"),
      org.apache.spark.sql.Row("https://x/b.html", ts, Array.empty[Byte], null, "en"))),
      pages.schema)
    val states = DedupPipeline.run(spark, pages.unionByName(garbage), DedupConfig(), fromHtml = true)
      .decisions.select("url", "state").collect()
      .map(r => Option(r.getString(0)) -> r.getString(1))
    assert(states.filter(_._1.contains("https://x/b.html")).map(_._2).toSeq == Seq("ignored"))
    val garbageStates = states.filter(s => s._1.isEmpty || s._1.contains("https://x/a.html"))
    assert(!garbageStates.exists(s => s._2 == "keep" || s._2 == "delete"), garbageStates.toSeq)
  }

  test("deduped corpus drops exactly the delete rows") {
    val pages = spark.createDataFrame(corpus.pages)
    val deduped = DedupPipeline.dedupedCorpus(pages, result.decisions)
    val expectDeleted = decisions.values.count(_._3 == "delete")
    assert(deduped.count() == S - expectDeleted)
  }
}
