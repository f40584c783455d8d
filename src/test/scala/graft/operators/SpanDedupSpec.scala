package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashImpl

/** Span-level dedup (Lee et al. 2022): the shared-gram span kernel, the
  * per-doc span union, and the cleaned-corpus guarantee. */
class SpanDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  // deterministic filler prose with doc-specific vocabulary: doc i shares
  // no 8-char substring with doc j by construction (every word carries its
  // doc id)
  private def prose(docId: Int, words: Int): String =
    (0 until words).map(w => s"w${docId}x$w").mkString(" ")

  private def unpack(p: Long): (Long, Long) = (p >>> 32, p & 0xFFFFFFFFL)

  /** Brute-force truth: merged 1-based spans of a covered by an L-gram of b. */
  private def bruteSpans(a: String, b: String, L: Int): Seq[(Long, Long)] = {
    val starts = (0 to a.length - L).filter(i => b.contains(a.substring(i, i + L)))
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    starts.foreach { p0 =>
      val s = (p0 + 1).toLong; val e = s + L
      merged.lastOption match {
        case Some((ls, le)) if s <= le => merged(merged.length - 1) = (ls, math.max(le, e))
        case _ => merged += ((s, e))
      }
    }
    merged.toSeq
  }

  test("kernel: planted passage yields the exact merged span on both sides") {
    val passage = ("shared boilerplate passage " * 10).trim // 269 chars
    val a = prose(1, 40) + " " + passage + " " + prose(1, 40)
    val b = prose(2, 60) + " " + passage
    val L = 200
    val got = MinHashImpl.sharedGramSpans(a, b, L).map(unpack).toSeq
    assert(got == bruteSpans(a, b, L))
    val gotB = MinHashImpl.sharedGramSpans(b, a, L).map(unpack).toSeq
    assert(gotB == bruteSpans(b, a, L))
    // one merged span that COVERS the passage occurrence in a (it may extend
    // a little further: incidentally-shared boundary chars like "9 " join it)
    val pStart = a.indexOf(passage) + 1L
    assert(got.size == 1 &&
      got.head._1 <= pStart && got.head._2 >= pStart + passage.length)
  }

  test("kernel: two separated occurrences stay two spans; overlap merges") {
    val passage = "Z" + ("abcdefghij" * 25) + "Y" // 252 chars, unique alphabet
    val gap = prose(3, 80)
    val a = passage + " " + gap + " " + passage
    val b = prose(4, 30) + " " + passage + " " + prose(4, 30)
    val L = 200
    val got = MinHashImpl.sharedGramSpans(a, b, L).map(unpack).toSeq
    assert(got == bruteSpans(a, b, L))
    assert(got.size == 2)
  }

  test("kernel: disjoint vocabularies share nothing; short inputs are empty") {
    assert(MinHashImpl.sharedGramSpans(prose(5, 100), prose(6, 100), 200).isEmpty)
    assert(MinHashImpl.sharedGramSpans("short", "also short", 200).isEmpty)
  }

  test("dupSpans matches brute-force spans over a planted corpus") {
    import spark.implicits._
    val passage = ("all rights reserved to the example corporation " * 6).trim
    val docsSeq = Seq(
      "u1" -> (prose(11, 50) + " " + passage),
      "u2" -> (passage + " " + prose(12, 50)),
      "u3" -> (prose(13, 40) + " " + passage + " " + prose(13, 40)),
      "u4" -> prose(14, 120), // clean doc
      "u5" -> prose(15, 120)) // clean doc
    val df = docsSeq.toDF("url", "text")
      .withColumn("nk", graft.functions.gf.natural_sort_key(org.apache.spark.sql.functions.col("url")))
    val cfg = SubstringDup.Config(minSubstr = 200, anchorK = 50)
    val got = SubstringDup.dupSpans(spark, df, cfg)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

    val L = 200
    val truth = (for {
      (ua, ta) <- docsSeq
      merged = {
        // union of spans against every OTHER doc, then merge
        val rows = docsSeq.filter(_._1 != ua).flatMap { case (_, tb) => bruteSpans(ta, tb, L) }
        val sorted = rows.sorted
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        sorted.foreach { case (s, e) =>
          out.lastOption match {
            case Some((ls, le)) if s <= le => out(out.length - 1) = (ls, math.max(le, e))
            case _ => out += ((s, e))
          }
        }
        out
      }
      (s, e) <- merged
    } yield (ua, s, e)).toSet
    assert(got == truth)
  }

  test("dupSpansKeepOne: each duplicated passage survives exactly once corpus-wide") {
    import spark.implicits._
    val passage = ("all rights reserved to the example corporation " * 6).trim
    val docsSeq = Seq(
      "u1" -> (prose(31, 50) + " " + passage),
      "u2" -> (passage + " " + prose(32, 50)),
      "u3" -> (prose(33, 40) + " " + passage + " " + prose(33, 40)),
      "u4" -> prose(34, 120))
    val df = docsSeq.toDF("url", "text")
      .withColumn("nk", graft.functions.gf.natural_sort_key(org.apache.spark.sql.functions.col("url")))
    val cfg = SubstringDup.Config(minSubstr = 200, anchorK = 50)
    val spans = SubstringDup.dupSpansKeepOne(spark, df, cfg)
    val got = spans.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // brute truth: per doc, spans shared with any STRICTLY EARLIER doc
    // (url order here == natural order), merged
    val L = 200
    val truth = (for {
      ((ua, ta), ia) <- docsSeq.zipWithIndex
      merged = {
        val rows = docsSeq.take(ia).flatMap { case (_, tb) => bruteSpans(ta, tb, L) }
        val sorted = rows.sorted
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        sorted.foreach { case (s, e) =>
          out.lastOption match {
            case Some((ls, le)) if s <= le => out(out.length - 1) = (ls, math.max(le, e))
            case _ => out += ((s, e))
          }
        }
        out
      }
      (s, e) <- merged
    } yield (ua, s, e)).toSet
    assert(got == truth)
    // the order-minimal doc u1 is never the later side: no spans cut from it
    assert(!got.exists(_._1 == "u1"))

    // THE keep-one-copy guarantee: after cutting, the passage occurs
    // exactly once in the whole corpus (in u1), not zero times
    val cleaned = SubstringDup.removeSpans(df, spans).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val occurrences = cleaned.values.map { t =>
      Iterator.iterate(t.indexOf(passage))(i => t.indexOf(passage, i + 1))
        .takeWhile(_ >= 0).size
    }.sum
    assert(occurrences == 1, s"passage should survive exactly once, got $occurrences")
    assert(cleaned("u1").contains(passage))
    // untouched doc passes through
    assert(cleaned("u4") == docsSeq.toMap.apply("u4"))
  }

  test("removeSpans: cleaned corpus has no cross-doc substring ≥ L; clean docs pass through") {
    import spark.implicits._
    val passage = ("subscribe to our newsletter for daily updates " * 6).trim
    val docsSeq = Seq(
      "u1" -> (prose(21, 60) + " " + passage),
      "u2" -> (passage + " " + prose(22, 60)),
      "u3" -> prose(23, 150))
    val df = docsSeq.toDF("url", "text")
      .withColumn("nk", graft.functions.gf.natural_sort_key(org.apache.spark.sql.functions.col("url")))
    val cfg = SubstringDup.Config(minSubstr = 200, anchorK = 50)
    val spans = SubstringDup.dupSpans(spark, df, cfg)
    val cleaned = SubstringDup.removeSpans(df, spans).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq

    val byUrl = cleaned.map(c => c._1 -> c).toMap
    // untouched doc passes through byte-identical with zero spans
    assert(byUrl("u3")._2 == docsSeq.toMap.apply("u3"))
    assert(byUrl("u3")._3 == 0 && byUrl("u3")._4 == 0L)
    // accounting: removed_chars = original - cleaned
    cleaned.foreach { case (u, t, _, removed) =>
      assert(removed == docsSeq.toMap.apply(u).length - t.length)
    }
    // the hard guarantee: no ≥ L-char substring is shared across cleaned docs
    for {
      (ua, ta, _, _) <- cleaned
      (ub, tb, _, _) <- cleaned if ua < ub
    } assert(!MinHashImpl.commonSubstringAtLeast(ta, tb, cfg.minSubstr),
      s"cleaned docs $ua and $ub still share a ${cfg.minSubstr}-char substring")
  }

  test("dupMassFilter: mirror pair drops at theta, partial-dup and clean docs keep") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val passage = ("subscribe to our newsletter for daily updates " * 6).trim
    val mirror = prose(31, 60)
    val docsSeq = Seq(
      "u1" -> mirror,                          // full mirror of u2 → frac 1
      "u2" -> mirror,                          // full mirror of u1 → frac 1
      "u3" -> (passage + " " + prose(33, 200)), // partial dup (passage w/ u4)
      "u4" -> (prose(34, 200) + " " + passage),
      "u5" -> prose(35, 150))                  // clean
    val df = docsSeq.toDF("url", "text")
      .withColumn("nk", graft.functions.gf.natural_sort_key(col("url")))
    val cfg = SubstringDup.Config(minSubstr = 200, anchorK = 50)
    val spans = SubstringDup.dupSpans(spark, df, cfg)
    val out = SubstringDup.dupMassFilter(df.select(col("url"), col("text")), spans, 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.size == 5)
    assert(out("u1")._3 == 1.0 && out("u1")._4, s"full mirror must drop: ${out("u1")}")
    assert(out("u2")._3 == 1.0 && out("u2")._4)
    assert(out("u3")._3 > 0.0 && out("u3")._3 < 0.5 && !out("u3")._4,
      s"partial dup must keep: ${out("u3")}")
    assert(out("u5") == ((docsSeq.toMap.apply("u5").length.toLong, 0L, 0.0, false)))
    // accounting: dup_chars never exceeds n_chars
    out.values.foreach { case (n, d, f, _) =>
      assert(d <= n && math.abs(f - d.toDouble / n) < 1e-12)
    }
  }

  test("candidatePairs: a passage shared by cap + k docs yields capped pairs and counts drops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    val passage = ("all rights reserved to the example corporation " * 6).trim
    val cap = 4; val k = 3
    val df = (0 until cap + k).map(i => s"u$i" -> (prose(40 + i, 30) + " " + passage))
      .toDF("url", "text")
      .withColumn("nk", graft.functions.gf.natural_sort_key(col("url")))
    val cands = SubstringDup.candidatePairs(
      spark, df, SubstringDup.Config(minSubstr = 200, anchorK = 50, bucketCap = cap))
    val pairs = cands.select("src", "dst").as[(String, String)].collect()
    // every passage bucket keeps the same (nk, id)-first `cap` members, so
    // the union is the C(cap, 2) clique over them, not C(cap + k, 2)
    assert(pairs.length == cap * (cap - 1) / 2, pairs.toSeq)
    assert(pairs.flatMap { case (a, b) => Seq(a, b) }.toSet.size == cap)
    assert(cands.agg(max(col("dropped"))).head().getLong(0) == k,
      "members beyond the cap must be counted")
  }
}
