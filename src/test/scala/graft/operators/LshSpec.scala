package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.gf

class LshSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val cfg = Lsh.Config()

  private def docsFrame(texts: Seq[(String, String)]) = {
    import spark.implicits._
    Lsh.withSignatures(
      texts.toDF("url", "text").withColumn("nk", gf.natural_sort_key(col("url"))),
      cfg)
  }

  private def randomDoc(r: scala.util.Random, n: Int): String =
    Seq.fill(n)(s"w${r.nextInt(500)}").mkString(" ")

  test("near-dup pairs found, random pairs not; verified jaccard is exact") {
    val r = new scala.util.Random(42)
    val base = randomDoc(r, 200)
    val toks = base.split(' '); toks(3) = "edited"; toks(77) = "words"
    val near = toks.mkString(" ")
    val docs = docsFrame(Seq(
      ("u1", base), ("u2", near), ("u3", randomDoc(r, 200)), ("u4", randomDoc(r, 150))))
    val cands = Lsh.candidatePairs(spark, docs, cfg)
    val edges = Lsh.verifiedEdges(cands, docs, cfg, tau = 0.8)
      .select("src", "dst").collect().map(x => (x.getString(0), x.getString(1)))
    // orientation is a deterministic (nk-prefix, id) canonical order, not
    // necessarily natural order — undirected consumers never care
    assert(edges.map { case (a, b) => Set(a, b) }.toSet == Set(Set("u1", "u2")))
  }

  test("identical texts pair via same-sig star edges (linear, not quadratic)") {
    val r = new scala.util.Random(1)
    val t = randomDoc(r, 100)
    val many = (0 until 50).map(i => (f"u$i%03d", t))
    val docs = docsFrame(many)
    val cands = Lsh.candidatePairs(spark, docs, cfg)
    val stars = cands.where(col("same_sig")).count()
    val cross = cands.where(!col("same_sig")).count()
    assert(cross == 0)
    assert(stars == 49, s"expected 49 star edges, got $stars") // one per non-center member
    // a star, not a clique: ONE deterministic center emits every edge
    val centers = cands.select("src").distinct().collect().map(_.getString(0))
    assert(centers.length == 1, s"expected one star center, got ${centers.toSeq}")
  }

  test("bucket cap bounds cross-sig pairs and reports drops") {
    val r = new scala.util.Random(2)
    // one hot bucket: same leading shingles force shared bands is hard to
    // guarantee; instead use a tiny cap against moderately-similar docs
    val base = randomDoc(r, 300)
    val variants = (0 until 30).map { i =>
      val toks = base.split(' ')
      toks(i) = s"v$i" // one distinct edit each → high mutual similarity
      (f"u$i%03d", toks.mkString(" "))
    }
    val smallCap = cfg.copy(bucketCap = 8)
    val docs = docsFrame(variants)
    val cands = Lsh.candidatePairs(spark, docs, smallCap)
    val nonStar = cands.where(!col("same_sig"))
    // with 30 distinct sigs in (mostly) shared buckets, pairs per bucket are
    // bounded by 8*7/2 = 28; across bands the distinct union stays well
    // below the uncapped 30*29/2 = 435
    val n = nonStar.count()
    assert(n > 0 && n < 435, s"pairs=$n")
    assert(nonStar.where(col("dropped") > 0).count() > 0, "drops must be reported")
  }

  test("verification rejects dissimilar pairs; prefilter skips weak candidates") {
    val r = new scala.util.Random(3)
    val a = randomDoc(r, 200)
    val b = randomDoc(r, 200)
    val docs = docsFrame(Seq(("a", a), ("b", b)))
    import spark.implicits._
    // force-candidate the pair with a PASSING prefilter (nshared high):
    // exact jaccard ≈ 0 → verification drops it
    val strong = Seq(("a", "b", false, 64, 32L))
      .toDF("src", "dst", "same_sig", "ham", "nshared")
    assert(Lsh.verifiedEdges(strong, docs, cfg, tau = 0.8).count() == 0)
    // weak signals (1 shared bucket, far Hamming, different sigs) never
    // reach the text join at all
    val weak = Seq(("a", "b", false, 30, 1L))
      .toDF("src", "dst", "same_sig", "ham", "nshared")
    assert(Lsh.verifiedEdges(weak, docs, cfg, tau = 0.8).count() == 0)
  }

  test("plan: the exploded bucket table crosses exactly ONE exchange") {
    val r = new scala.util.Random(11)
    val docs = docsFrame((0 until 20).map(i => (s"u$i", randomDoc(r, 100))))
    val plan = Lsh.candidatePairs(spark, docs, cfg)
      .queryExecution.executedPlan.toString()
    // the 32×-exploded table is partitioned by bkey once; windows, cap
    // filter, groupBy(bkey) and pair expansion all reuse that partitioning
    val bkeyExchanges = "hashpartitioning\\(bkey".r.findAllIn(plan).length
    assert(bkeyExchanges == 1, s"expected 1 bkey exchange, got $bkeyExchanges:\n$plan")
  }

  test("plan: the ~1 KB sig array never enters a Sort (narrow center election)") {
    val r = new scala.util.Random(12)
    val docs = docsFrame((0 until 20).map(i => (s"u$i", randomDoc(r, 100))))
    val fmt = Lsh.candidatePairs(spark, docs, cfg).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val sortBlocks = fmt.split("\\(\\d+\\) ").filter(_.startsWith("Sort"))
    assert(sortBlocks.nonEmpty, fmt)
    // "sig#" never substring-matches "sigd#"/"bscope_#": the signature
    // column itself must be absent from every Sort's input
    sortBlocks.foreach(b =>
      assert(!b.contains("sig#"), s"a Sort still carries the sig array:\n$b"))
  }

  test("candidate pairs carry free prefilter signals (ham, nshared)") {
    val r = new scala.util.Random(9)
    val base = randomDoc(r, 200)
    val toks = base.split(' '); toks(5) = "x"; toks(50) = "y"
    val docs = docsFrame(Seq(("u1", base), ("u2", toks.mkString(" "))))
    val c = Lsh.candidatePairs(spark, docs, cfg)
      .where(col("src").isin("u1", "u2") && col("dst").isin("u1", "u2")).head()
    // near-identical docs: many shared bands, small Hamming distance
    assert(c.getAs[Long]("nshared") >= 2, s"nshared=${c.getAs[Long]("nshared")}")
    assert(c.getAs[Int]("ham") <= 10, s"ham=${c.getAs[Int]("ham")}")
  }

  test("verified edges carry their candidate's ham and nshared through the endpoint reassembly") {
    val r = new scala.util.Random(21)
    val base = randomDoc(r, 300)
    val variants = (0 until 12).map { i =>
      val toks = base.split(' ')
      (0 to i % 4).foreach(j => toks(10 * i + j) = s"v$i.$j") // 1–4 edits each
      (f"u$i%02d", toks.mkString(" "))
    }
    val docs = docsFrame(variants)
    val cands = Lsh.candidatePairs(spark, docs, cfg)
    val edges = Lsh.verifiedEdges(cands, docs, cfg, tau = 0.8)
    val joined = edges.as("e")
      .join(cands.as("c"), col("e.src") === col("c.src") && col("e.dst") === col("c.dst"))
      .select(col("e.ham"), col("c.ham"), col("e.nshared"), col("c.nshared"))
      .collect()
    assert(joined.length == edges.count() && joined.length > 10, s"edges=${joined.length}")
    // distinct signal values, so a swapped or cross-pair reassembly shows
    assert(joined.map(_.getLong(2)).distinct.length > 1)
    joined.foreach { row =>
      assert(row.getInt(0) == row.getInt(1) && row.getLong(2) == row.getLong(3), s"$row")
    }
  }
}
