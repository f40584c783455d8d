package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.DedupConfig
import graft.functions.{gf, MinHashImpl, NaturalKey, TextExtract}
import graft.operators._

/** The pipeline recomposed from each module's public entry points, in
  * `DedupPipeline.run` order for the default configuration (scope `all`,
  * sha256, text extracted from html, no source priority). Each call's
  * output is pinned and counted inside its own span, so a span holds that
  * layer's work and nothing upstream of it. */
object Composition {
  final case class Result(decisions: DataFrame, rows: Map[String, Long], ccDriverPath: Boolean)

  /** Span names in call order. `operators.docs` (extraction and keys) and
    * `operators.reps` (exact-representative election) are written inline in
    * `DedupPipeline.run`; the benchmark copies them. */
  val Spans = Seq("operators.docs", "operators.exact", "operators.reps",
    "operators.lsh.signatures", "operators.lsh.candidates", "operators.lsh.verify",
    "operators.substring.candidates", "operators.substring.verify", "operators.cc",
    "operators.decisions")

  /** The caller checks `decisions` and releases the pins after the spans close. */
  def run(spark: SparkSession, tr: Tracer, pages: DataFrame, cfg: DedupConfig): Result = {
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def pinned(name: String)(build: => DataFrame): DataFrame = tr.span(name) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      rows(name) = df.count()
      df
    }

    val docs = pinned("operators.docs") {
      Scope.withScopeCols(
        pages.withColumn("etext", gf.extract_text(col("html")))
          .select(col("url"), col("warc_ts"), col("lang"), col("etext").as("text"),
            lit(true).as("extract_ok"))
          .where(col("text").isNotNull && col("url").isNotNull)
          .withColumn("len", length(col("text")))
          .withColumn("nk", gf.natural_sort_key(col("url")))
          .withColumn("sha", sha2(col("text"), 256)))
        .withColumn("bscope", lit(""))
    }
    val live = docs.where(col("len") >= cfg.minLen)
    val exact = pinned("operators.exact") {
      ExactDedup.repsAndEdges(live.select(col("url"), col("nk"), col("sha"), col("bscope")),
        blockCols = Seq("sha", "bscope"))._2.withColumn("kind", lit("exact"))
    }
    val reps = pinned("operators.reps") {
      live.groupBy(col("sha"), col("bscope"))
        .agg(min_by(col("url"), col("nk")).as("url"), min(col("nk")).as("nk"))
        .hint("shuffle_hash")
        .join(live.select(col("url"), col("text")), Seq("url"))
        .select(col("url"), col("nk"), col("text"), col("bscope"))
    }
    val sigs = pinned("operators.lsh.signatures")(Lsh.withSignatures(reps, cfg.lshConfig))
    val lshCands = pinned("operators.lsh.candidates") {
      Lsh.candidatePairs(spark, sigs, cfg.lshConfig, scopeCol = col("bscope"))
    }
    val near = pinned("operators.lsh.verify") {
      Lsh.verifiedEdges(lshCands, sigs, cfg.lshConfig, cfg.jaccardTau)
        .select(col("src"), col("dst")).withColumn("kind", lit("near"))
    }
    val subCands = pinned("operators.substring.candidates") {
      SubstringDup.candidatePairs(spark, reps, cfg.substrConfig, scopeCol = col("bscope"))
    }
    val sub = pinned("operators.substring.verify") {
      SubstringDup.verifiedEdges(subCands, reps, cfg.substrConfig).withColumn("kind", lit("substring"))
    }
    val edges = exact.unionByName(near).unionByName(sub)
    val nEdges = rows("operators.exact") + rows("operators.lsh.verify") + rows("operators.substring.verify")
    val labels = pinned("operators.cc") {
      ConnectedComponents.run(spark, live.select(col("url"), col("nk")), edges.select(col("src"), col("dst")),
        maxDriverEdges = cfg.ccMaxDriverEdges, driverNk = Some(NaturalKey.key _))
    }
    val decisions = pinned("operators.decisions") {
      val d = Decisions.decide(
        docs.select(col("url"), col("warc_ts"), col("lang"), col("host"), col("dir"), col("len"),
          col("sha"), col("extract_ok")),
        labels.select(col("url"), col("cluster_url")), cfg.minLen)
      Decisions.stats(d).collect()
      d
    }
    // the same rule ConnectedComponents.run applies to its bounded edge probe
    Result(decisions, rows.toMap, nEdges <= cfg.ccMaxDriverEdges)
  }
}

/** Single-thread microbenchmark of the per-document kernels behind the
  * engine's Catalyst expressions, over a fixed sample of the workload's
  * pages. Each kernel's outputs fold into a checksum that must repeat on
  * every pass, so the JIT cannot drop the work and drift is caught. */
object Kernels {
  final case class Result(nsPer: Map[String, Double], checksums: Map[String, Long], problems: Seq[String])

  /** Milliseconds per kernel: half warm-up, half timed passes (at least 5). */
  val BudgetMs = 400L

  private def h(xs: Array[Long]): Long = java.util.Arrays.hashCode(xs).toLong * 31 + xs.length

  /** `pairs` pair each sampled page with a planted duplicate when it has one. */
  def run(sample: Vector[Doc], pairs: Vector[(String, String)], cfg: DedupConfig): Result = {
    val htmls = sample.map(d => Gen.html(d.text)).toArray
    val urls = sample.map(_.url).toArray
    val texts = sample.map(_.text).toArray
    val pairA = pairs.map(_._1).toArray
    val pairB = pairs.map(_._2).toArray
    val sub = cfg.substrConfig
    val kernels: Seq[(String, Int, Int => Long)] = Seq(
      ("functions.extract_text.ns_per_doc", htmls.length,
        i => TextExtract.extractText(htmls(i)).hashCode.toLong),
      ("functions.natural_sort_key.ns_per_doc", urls.length,
        i => java.util.Arrays.hashCode(NaturalKey.key(urls(i))).toLong),
      ("functions.sig_pair.ns_per_doc", texts.length, { i =>
        val (sig, simhash) = MinHashImpl.sigAndSimhash(texts(i), cfg.shingleK, cfg.numHashes, cfg.seed)
        h(sig) ^ simhash
      }),
      ("functions.shingle_set.ns_per_doc", texts.length,
        i => h(MinHashImpl.shingleSet(texts(i), cfg.shingleK, cfg.seed))),
      ("functions.winnow.ns_per_doc", texts.length,
        i => h(MinHashImpl.winnowFingerprints(texts(i), sub.anchorK, sub.window))),
      ("functions.shared_spans.ns_per_pair", pairA.length,
        i => h(MinHashImpl.sharedGramSpans(pairA(i), pairB(i), sub.minSubstr))))

    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val extractMismatches = htmls.indices.count(i => TextExtract.extractText(htmls(i)) != texts(i))
    if (extractMismatches > 0) problems += s"extract_text changed $extractMismatches sampled pages"

    val results = kernels.map { case (name, n, f) =>
      def pass(): (Long, Long) = {
        var sum = 0L
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sum = sum * 1000003L + f(i); i += 1 }
        (System.nanoTime() - t0, sum)
      }
      val warmUntil = System.nanoTime() + BudgetMs * 1000000L / 2
      val ref = pass()._2
      while (System.nanoTime() < warmUntil) pass()
      val until = System.nanoTime() + BudgetMs * 1000000L / 2
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (times.size < 5 || System.nanoTime() < until) {
        val (t, sum) = pass()
        if (sum != ref && !problems.exists(_.startsWith(name))) problems += s"$name checksum changed between passes"
        times += t
      }
      (name, Stats.median(times.map(_.toDouble).toSeq) / n, ref)
    }
    Result(results.map(r => r._1 -> r._2).toMap, results.map(r => r._1 -> r._3).toMap, problems.toSeq)
  }
}
