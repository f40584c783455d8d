package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class LineDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  test("frequent lines strip everywhere; unique lines survive in order") {
    import spark.implicits._
    val banner = "subscribe now"
    val docs = (0 until 12).map { i =>
      val own = Seq(s"unique alpha $i", s"unique beta $i")
      val lines = if (i % 2 == 0) Seq(banner, own.head, banner, own.last)
      else own
      (s"u$i", lines.mkString("\n"))
    }.toDF("url", "text")
    val out = LineDedup.stripFrequentLines(docs, maxDf = 5)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // banner appears in 6 docs ≥ 5 → stripped from all, BOTH occurrences
    assert(out("u0") == (("unique alpha 0\nunique beta 0", 4L, 2L)))
    // untouched doc: byte-identical text, zero stripped
    assert(out("u1") == (("unique alpha 1\nunique beta 1", 2L, 0L)))
  }

  test("threshold boundary: df == maxDf strips, df == maxDf - 1 survives") {
    import spark.implicits._
    val docs = ((0 until 3).map(i => (s"a$i", "at the edge\nown a" + i)) ++
      (0 until 2).map(i => (s"b$i", "below edge\nown b" + i))).toDF("url", "text")
    val out = LineDedup.stripFrequentLines(docs, maxDf = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a0") == "own a0") // df=3 ≥ 3 stripped
    assert(out("b0") == "below edge\nown b0") // df=2 survives
  }

  test("paragraph granularity: sep=\"\\n\\n\" dedups whole paragraphs, not their lines") {
    import spark.implicits._
    val boiler = "subscribe now\nall rights reserved" // one 2-line paragraph
    val docs = (0 until 12).map { i =>
      val own = s"unique first $i\nunique second $i"
      val paras = if (i % 2 == 0) Seq(boiler, own) else Seq(own)
      (s"u$i", paras.mkString("\n\n"))
    }.toDF("url", "text")
    val out = LineDedup.stripFrequentLines(docs, maxDf = 5, sep = "\n\n")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the boilerplate PARAGRAPH (df=6 ≥ 5) strips as one unit; the unique
    // paragraph keeps its internal newline intact
    assert(out("u0") == (("unique first 0\nunique second 0", 2L, 1L)))
    assert(out("u1") == (("unique first 1\nunique second 1", 1L, 0L)))
  }

  test("a fully-boilerplate doc empties; counts account for every line") {
    import spark.implicits._
    val docs = ((0 until 6).map(i => (s"c$i", "same line"))).toDF("url", "text")
    val out = LineDedup.stripFrequentLines(docs, maxDf = 5).collect()
    out.foreach { r =>
      assert(r.getString(1) == "" && r.getLong(2) == 1L && r.getLong(3) == 1L)
    }
  }

  test("within-doc strip keeps first occurrences in order; distinct docs untouched") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x\ny\nx\nz\ny\nx"), // repeats of x and y
      ("b", "p\nq"),             // nothing repeated
      ("c", "s\ns\ns\ns")        // one line repeated throughout
    ).toDF("url", "text")
    val out = LineDedup.stripRepeatedLinesWithinDoc(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") == (("x\ny\nz", 6L, 3L)))
    assert(out("b") == (("p\nq", 2L, 0L)))
    assert(out("c") == (("s", 4L, 3L)))
  }

  test("within-doc strip composes with the corpus-frequency strip and plans no shuffle") {
    import spark.implicits._
    val docs = Seq(("u1", "dup\ndup\nbanner"), ("u2", "banner\nown"),
      ("u3", "banner\nmore")).toDF("url", "text")
    val intra = LineDedup.stripRepeatedLinesWithinDoc(docs)
    val plan = intra.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"within-doc strip must not shuffle:\n$plan")
    val out = LineDedup.stripFrequentLines(
      intra.select(col("url"), col("kept_text").as("text")), maxDf = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("u1") == "dup" && out("u2") == "own" && out("u3") == "more")
  }

  test("per-scope strip: host-frequent banner strips in its host only; corpus-frequent host-rare line survives") {
    import spark.implicits._
    // hosts a and b, 5 docs each; banner frequent on a only (df 5 ≥ 5
    // strips there); quote in 4 docs of each host (per-host df 4 < 5
    // survives, though its corpus df is 8)
    val docs = (for {
      h <- Seq("a", "b"); i <- 0 until 5
    } yield {
      val banner = if (h == "a") "banner of site a\n" else ""
      val quote = if (i < 4) "quote q\n" else ""
      (h, s"$h$i", s"$banner${quote}unique $h $i")
    }).toDF("host", "url", "text")
    val out = LineDedup.stripFrequentLinesPerScope(docs, "host", maxDf = 5, sep = "\n")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a0") == (("quote q\nunique a 0", 3L, 1L)))
    assert(out("a4") == (("unique a 4", 2L, 1L)))
    assert(out("b0") == (("quote q\nunique b 0", 2L, 0L)))
  }

  test("per-scope strip keeps host-rare lines that a GLOBAL strip would remove") {
    import spark.implicits._
    // quote in 3 docs of each of 4 hosts: corpus df 12 >= 10 (global
    // strips), per-host df 3 < 10 (scoped keeps)
    val docs = (for {
      h <- Seq("a", "b", "c", "d"); i <- 0 until 3
    } yield (h, s"$h$i", s"shared quote line\nunique $h $i")).toDF("host", "url", "text")
    val scoped = LineDedup.stripFrequentLinesPerScope(docs, "host", maxDf = 10)
      .where(col("n_stripped") > 0).count()
    val global = LineDedup.stripFrequentLines(docs.select(col("url"), col("text")), maxDf = 10)
      .where(col("n_stripped") > 0).count()
    assert(scoped == 0L, "host-rare line must survive the scoped strip")
    assert(global == 12L, "the same line is corpus-frequent for the global strip")
  }

  test("reserved strip-set column names are rejected up front") {
    import spark.implicits._
    val docs = Seq(("h", "u1", "a\nb", "x")).toDF("host", "url", "text", "strips")
    Seq(
      () => LineDedup.stripFrequentLinesPerScope(docs.drop("host"), "strips", maxDf = 2),
      () => LineDedup.stripFrequentLinesPerScope(docs, "host", maxDf = 2),
      () => LineDedup.stripFrequentLinesPerScope(
        docs.drop("strips").withColumn("__fs", col("host")), "host", maxDf = 2),
      () => LineDedup.stripFrequentLines(docs.drop("host"), maxDf = 2)
    ).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("reserved name"), e.getMessage)
    }
  }
}
