package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{DedupConfig, GraftSession}
import graft.operators.IncrementalDedup

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A short CPU and memory-bandwidth probe, reported beside each run's
  * metrics (never as one) so a run taken during a co-tenant burst can be
  * recognized. */
object HostProbe {
  private def threads(n: Int)(body: Int => Long): Long = {
    val counts = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until n).map(t => new Thread(() => { counts.addAndGet(body(t)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    counts.get()
  }

  /** Millions of multiply-add rounds per second across `n` threads. */
  def cpu(n: Int, ms: Long): Double = {
    val deadline = System.nanoTime() + ms * 1000000L
    threads(n) { t =>
      var x = t.toLong; var c = 0L
      while (System.nanoTime() < deadline) {
        var i = 0
        while (i < 10000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        c += 1
      }
      if (x == 42) c + 1 else c
    } * 10000 / (ms * 1000.0)
  }

  /** GiB per second streamed from 64 MiB arrays across `n` threads. */
  def memory(n: Int, ms: Long): Double = {
    val deadline = System.nanoTime() + ms * 1000000L
    threads(n) { _ =>
      val a = new Array[Long](8 * 1024 * 1024)
      var s = 0L; var c = 0L
      while (System.nanoTime() < deadline) {
        var i = 0
        while (i < a.length) { s += a(i); i += 1 }
        c += 1
      }
      if (s == 42) c + 1 else c
    } * 64.0 / 1024 / (ms / 1000.0)
  }
}

/** Per-layer metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  private val OpStats = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "shuffle_write_mb" -> "MiB",
    "spill_mb" -> "MiB", "task_skew" -> "ratio", "rows_out" -> "rows", "jobs" -> "count")

  val PerLayer: Seq[(String, String)] =
    Seq("extract_text", "natural_sort_key", "sig_pair", "shingle_set", "winnow")
      .map(k => s"functions.$k.ns_per_doc" -> "ns/doc") ++
      Seq("functions.shared_spans.ns_per_pair" -> "ns/pair") ++
      Composition.Spans.flatMap(s => OpStats.map { case (m, u) => s"$s.$m" -> u }) ++
      Seq("operators.lsh.verify.pass_ratio" -> "ratio",
        "operators.substring.verify.pass_ratio" -> "ratio",
        "operators.cc.driver_path" -> "flag",
        "pipeline.run_call_s" -> "s", "pipeline.write_s" -> "s", "pipeline.no_job_s" -> "s",
        "pipeline.jobs" -> "count", "pipeline.task_cpu_s" -> "s",
        "pipeline.shuffle_write_mb" -> "MiB", "pipeline.spill_mb" -> "MiB",
        "plans.ckpt.write_s" -> "s", "plans.ckpt.mb_written" -> "MiB",
        "plans.resume.recompute_s" -> "s",
        "incremental.newDocs.wall_s" -> "s", "incremental.newDocs.task_cpu_s" -> "s",
        "incremental.newDocs.shuffle_write_mb" -> "MiB",
        "incremental.vsCorpus.wall_s" -> "s", "incremental.vsCorpus.task_cpu_s" -> "s",
        "incremental.vsCorpus.shuffle_write_mb" -> "MiB",
        "incremental.vsCorpus.novel_share" -> "ratio",
        "trace.overhead_share" -> "ratio", "trace.unattributed_share" -> "ratio",
        "jvm.peak_heap_mb" -> "MiB")
}

/** A workload's generated, pinned input and its operation. `sample` and
  * `pairs` feed the kernel microbenchmark. `pages` is set for the pipeline
  * workload: its traced run adds the composition and the
  * checkpoint-and-resume layer. */
final case class Prepared(
    op: Op, truth: Vector[Doc], sample: Vector[Doc], pairs: Vector[(String, String)],
    pages: Option[DataFrame])

object Workloads {
  val Names = Seq("crawl_mix", "ingest_batch")
  /** Pages of `crawl_mix`, and the `ingest_batch` corpus and batch sizes. */
  val CrawlDocs = 2000
  val IngestCorpus = 4000
  val IngestBatch = 2000
  val SampleDocs = 256

  /** Pairs each sampled page with a planted duplicate, else with the next page. */
  private def pairs(sample: Vector[Doc], partner: Doc => Option[String]) =
    sample.zipWithIndex.map { case (d, i) => d.text -> partner(d).getOrElse(sample((i + 1) % sample.size).text) }

  def prepare(name: String, seed: Long, spark: SparkSession, parts: Int): Prepared = {
    val gen = new Gen(seed)
    name match {
      case "crawl_mix" =>
        val docs = gen.crawlMix(CrawlDocs)
        val pages = Gen.pin(spark, docs, parts)
        val byGroup = docs.groupBy(_.group)
        val sample = docs.take(SampleDocs)
        Prepared(new PipelineOp(spark, pages, docs, DedupConfig()), docs, sample,
          pairs(sample, d => byGroup(d.group).find(_.url != d.url).map(_.text)), Some(pages))
      case "ingest_batch" =>
        val (corpus, batch) = gen.ingest(IngestCorpus, IngestBatch)
        val corpusDf = Gen.pin(spark, corpus, parts).select(col("url"), col("text"))
        val shas = Gen.pinFrame(spark,
          corpusDf.select(IncrementalDedup.digestCol(col("text"), "sha256").as("sha")))
        val batchDf = Gen.pin(spark, batch, parts).select(col("url"), col("text"))
        val bySrc = corpus.iterator.map(d => d.url -> d.text).toMap
        val sample = batch.take(SampleDocs)
        Prepared(new IngestOp(corpusDf, shas, batchDf, batch), batch, sample,
          pairs(sample, d => Option(d.src).map(bySrc)), None)
    }
  }
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <scratch dir> --spans <file for the traced run's spans>`.
  * A closed loop: one caller, one call at a time, on `local[<available
  * processors>]`. The last stdout line is the result. */
object Main {
  /** Sessions built per untraced run; `setup_s` is their median. */
  val SetupSamples = 5
  /** Untimed calls between the cold first call and the timed ones: until
    * about the sixth call each one runs faster as the JIT catches up. */
  val WarmupCalls = 4
  /** Warm calls timed at least, whatever `--seconds` says... */
  val MinWarmCalls = 3
  /** ...unless another call would end later than this many seconds into
    * the run (an untraced one; a traced one has more to do afterwards), so
    * a run on a loaded host still ends within its time limit. */
  val CallBudgetS = 120
  val TracedCallBudgetS = 60

  private var attempted = 0
  private var failed = 0
  private var expected: String = null

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One call plus its checks. A call that throws or fails a check counts as
    * failed; so does one whose decision counts differ from the run's first. */
  private def attempt(spark: SparkSession, op: Op, tr: Option[Tracer] = None): Option[(Double, Outcome)] = {
    attempted += 1
    try {
      val t = op.call(tr)
      val o = op.outcome()
      Pins.release(spark)
      if (expected == null) expected = o.summary
      val problems = o.problems ++
        (if (o.summary != expected) Seq(s"decisions '${o.summary}' differ from '$expected'") else Nil)
      problems.foreach(p => log(s"check failed: $p"))
      if (problems.nonEmpty) failed += 1
      Some((t, o))
    } catch {
      case e: Exception =>
        log(s"call failed: $e")
        e.printStackTrace()
        failed += 1
        None
    }
  }

  private def session(cpus: Int): SparkSession = {
    val s = GraftSession.build(cpus, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def json(metrics: Seq[(String, Double, String)]): String = {
    // a metric that could not be measured reads 0, and the run is not correct
    if (metrics.exists(m => !java.lang.Double.isFinite(m._2))) failed += 1
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (java.lang.Double.isFinite(v)) v else 0.0}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${attempted > 0 && failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val probe = Seq("cpu_mrounds_per_s" -> HostProbe.cpu(cpus, 250), "mem_gib_per_s" -> HostProbe.memory(cpus, 250))

    val setup = (1 to (if (traced) 1 else SetupSamples)).map { i =>
      val t0 = System.nanoTime()
      val s = session(cpus)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < SetupSamples && !traced) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      t
    }
    val spark = SparkSession.active
    val prep = Workloads.prepare(workload, seed, spark, cpus * 2)
    val op = prep.op

    val first = attempt(spark, op)
    var lastS = first.map(_._1).getOrElse(0.0)
    val budgetS = if (traced) TracedCallBudgetS else CallBudgetS
    def room = (System.nanoTime() - started) / 1e9 + lastS * 1.2 < budgetS
    (1 to WarmupCalls).foreach(_ => if (room) attempt(spark, op).foreach(r => lastS = r._1))
    val warmUntil = System.nanoTime() + (seconds * 1e9).toLong
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (traced) heapPools.foreach(_.resetPeakUsage())
    while ((warm.size < MinWarmCalls || (!traced && System.nanoTime() < warmUntil)) && room)
      attempt(spark, op).foreach { r => warm += r._1; lastS = r._1 }
    // out of room before any timed call: the last call stands in
    if (warm.isEmpty) warm += lastS
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / Tracer.Mb

    val diag = scala.collection.mutable.LinkedHashMap[String, String](
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "cpus" -> cpus.toString,
      "docs" -> op.docs.toString, "summary" -> s""""$expected"""",
      "setup_samples_s" -> setup.mkString("[", ", ", "]"),
      "warm_samples_s" -> warm.mkString("[", ", ", "]"))
    probe.foreach { case (k, v) => diag(k) = v.toString }

    val metrics =
      if (!traced) {
        val o = first.map(_._2)
        Seq(
          ("setup_s", Stats.median(setup), "s"),
          ("first_run_s", first.map(_._1).getOrElse(0.0), "s"),
          ("docs_per_s", op.docs / Stats.median(warm.toSeq), "docs/s"),
          ("dup_pair_recall", o.map(_.recall).getOrElse(0.0), "ratio"),
          ("delete_precision", o.map(_.precision).getOrElse(0.0), "ratio"),
          ("ok_call_share", 1.0 - failed.toDouble / attempted, "ratio"))
      } else {
        val untraced = Stats.median(warm.toSeq)
        val layers = traceLayers(spark, prep, untraced, work, Paths.get(opt("spans")).toAbsolutePath)
        val units = Metrics.PerLayer.toMap
        (layers + ("jvm.peak_heap_mb" -> peakHeapMb)).toSeq.map { case (n, v) => (n, v, units(n)) }
      }

    // a second probe, so a burst during the run shows against the first
    diag("cpu_mrounds_per_s_end") = HostProbe.cpu(cpus, 250).toString
    diag("mem_gib_per_s_end") = HostProbe.memory(cpus, 250).toString
    spark.stop()
    println("perfbench-diag " + diag.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    println(json(metrics))
  }

  /** The traced run's layer metrics: a traced call of the workload's
    * operation; for the pipeline workload the traced composition and a
    * checkpointed run with a crash and a resume; then the kernel
    * microbenchmark. Layers a workload does not run read 0. */
  private def traceLayers(
      spark: SparkSession, prep: Prepared, untracedS: Double, work: Path, spans: Path): Map[String, Double] = {
    val tr = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tr)
    val cfg = DedupConfig()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Metrics.PerLayer.foreach { case (n, _) => out(n) = 0.0 }

    val opS = attempt(spark, prep.op, Some(tr)).map(_._1).getOrElse(0.0)
    val composition = prep.pages.map { pages =>
      attempted += 1
      val c = tr.span("compose")(Composition.run(spark, tr, pages, cfg))
      val o = Checks.decisions(c.decisions, prep.truth, cfg.minLen)
      Pins.release(spark)
      if (o.summary != expected) {
        log(s"check failed: composed decisions '${o.summary}' differ from '$expected'")
        failed += 1
      }
      c
    }
    val resume = prep.pages.map { pages =>
      val r = new ResumeOp(spark, pages, prep.truth, cfg, work.resolve("ckpt"))
      attempt(spark, r, Some(tr))
      r
    }
    tr.finish()
    spark.sparkContext.removeSparkListener(tr)
    resume.foreach { r =>
      out("plans.ckpt.write_s") = r.ckptWriteS
      out("plans.ckpt.mb_written") = r.ckptMbWritten
      out("plans.resume.recompute_s") = tr.get("plans.resume").wallS
    }

    out("trace.overhead_share") = opS / untracedS - 1.0
    composition.foreach { c =>
      Composition.Spans.foreach { s =>
        tr.stats(s).foreach { case (k, v) => out(s"$s.$k") = v }
        out(s"$s.rows_out") = c.rows(s).toDouble
      }
      def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
      out("operators.lsh.verify.pass_ratio") =
        ratio(c.rows("operators.lsh.verify"), c.rows("operators.lsh.candidates"))
      out("operators.substring.verify.pass_ratio") =
        ratio(c.rows("operators.substring.verify"), c.rows("operators.substring.candidates"))
      out("operators.cc.driver_path") = if (c.ccDriverPath) 1.0 else 0.0
      out("trace.unattributed_share") =
        1.0 - Composition.Spans.map(tr.get(_).wallS).sum / tr.get("compose").wallS

      val parts = Seq("pipeline.run_call", "pipeline.write").map(tr.stats)
      out("pipeline.run_call_s") = parts(0)("wall_s")
      out("pipeline.write_s") = parts(1)("wall_s")
      out("pipeline.no_job_s") = Seq("pipeline.run_call", "pipeline.write").map(tr.noJobS).sum
      Seq("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb").foreach { k =>
        out(s"pipeline.$k") = parts.map(_(k)).sum
      }
    }
    prep.op match {
      case i: IngestOp =>
        Seq("newDocs", "vsCorpus").foreach { s =>
          val st = tr.stats(s"incremental.$s")
          Seq("wall_s", "task_cpu_s", "shuffle_write_mb").foreach(k => out(s"incremental.$s.$k") = st(k))
        }
        out("incremental.vsCorpus.novel_share") = i.novelShare
        out("trace.unattributed_share") = 1.0 -
          (tr.get("incremental.newDocs").wallS + tr.get("incremental.vsCorpus").wallS) / opS
      case _ =>
    }

    val k = Kernels.run(prep.sample, prep.pairs, cfg)
    attempted += 1
    if (k.problems.nonEmpty) { k.problems.foreach(p => log(s"check failed: $p")); failed += 1 }
    out ++= k.nsPer

    Files.createDirectories(spans.getParent)
    Files.write(spans, (tr.spansJson + "\n").getBytes(UTF_8))
    log("kernel checksums " + k.checksums.toSeq.sorted.mkString(" "))
    out.toMap
  }
}
