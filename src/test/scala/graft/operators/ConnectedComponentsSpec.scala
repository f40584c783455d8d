package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NaturalKey

class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** Union-find ground truth. */
  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    Array.tabulate(n)(find)
  }

  private def runCase(n: Int, edges: Seq[(Int, Int)]): Unit =
    runCase(IndexedSeq.tabulate(n)(i => s"u$i"), edges)

  private def runCase(urls: IndexedSeq[String], edges: Seq[(Int, Int)]): Unit = {
    import spark.implicits._
    val n = urls.length
    val nodes = urls.toSeq.toDF("url")
      .withColumn("nk", graft.functions.gf.natural_sort_key(
        org.apache.spark.sql.functions.col("url")))
    val edgeDf = edges.map { case (a, b) => (urls(a), urls(b)) }.toDF("src", "dst")
    // force the DISTRIBUTED path (driver union-find covered separately)
    val got = ConnectedComponents.run(spark, nodes, edgeDf, maxDriverEdges = 0)
      .select("url", "cluster_url").as[(String, String)].collect().toMap
    // driver path must agree exactly with the distributed path
    val viaDriver = ConnectedComponents.run(spark, nodes, edgeDf)
      .select("url", "cluster_url").as[(String, String)].collect().toMap
    assert(got == viaDriver, "driver union-find diverged from distributed CC")

    val truth = unionFind(n, edges)
    // same partition?
    val byTruth = (0 until n).groupBy(truth(_))
    byTruth.values.foreach { comp =>
      val labels = comp.map(i => got(urls(i))).toSet
      assert(labels.size == 1, s"component split: $comp -> $labels")
      // representative = natural-sort-min member, url breaking key ties
      val expectedRep = comp.map(urls).minBy(identity)(
        Ordering.fromLessThan { (a: String, b: String) =>
          val c = NaturalKey.compare(a, b)
          c < 0 || (c == 0 && a < b)
        })
      assert(labels.head == expectedRep, s"rep ${labels.head} != $expectedRep")
    }
    // no cross-component merging
    assert(got.values.toSet.size == byTruth.size)
  }

  test("random graphs match union-find (components + natural-min representative)") {
    val r = new scala.util.Random(42)
    (0 until 5).foreach { _ =>
      val n = 30 + r.nextInt(50)
      val m = r.nextInt(n * 2)
      val edges = Seq.fill(m)((r.nextInt(n), r.nextInt(n))).filter(e => e._1 != e._2)
      runCase(n, edges)
    }
  }

  test("long chain converges (worst-case diameter)") {
    val n = 40
    runCase(n, (0 until n - 1).map(i => (i, i + 1)))
  }

  test("empty edges: every node its own cluster") {
    runCase(10, Seq.empty)
  }

  test("urls differing only in case: both paths break the key tie by url") {
    // natural keys are case-insensitive, so these pairs tie on nk
    runCase(
      IndexedSeq(
        "https://h.example/page.html", "https://h.example/Page.html",
        "https://h.example/b/Item2", "https://h.example/b/item2",
        "https://h.example/b/ITEM2"),
      Seq((0, 1), (2, 3), (3, 4)))
  }

  test("star and clique") {
    runCase(12, (1 until 12).map(i => (0, i)))
    runCase(8, for { i <- 0 until 8; j <- (i + 1) until 8 } yield (i, j))
  }
}
