package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{DedupConfig, DedupPipeline, DedupResult}
import graft.operators.{IncrementalDedup, IncrementalNear}

/** What the checks make of one call's outputs. `summary` must read the same
  * on every call of a run; `problems` lists failed checks. */
final case class Outcome(summary: String, recall: Double, precision: Double, problems: Seq[String])

/** A workload's operation: one call is timed, its outputs are checked after. */
trait Op {
  /** Input pages one call processes. */
  def docs: Long
  /** One call; returns its timed seconds. With a tracer, the call's layers
    * run inside named spans. */
  def call(tr: Option[Tracer]): Double
  /** Checks the last call's outputs against the planted labels. */
  def outcome(): Outcome
}

object Op {
  def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** `DedupPipeline.run` plus writing the decisions to the `noop` sink. */
final class PipelineOp(spark: SparkSession, pages: DataFrame, truth: Vector[Doc], cfg: DedupConfig)
    extends Op {
  private var last: DedupResult = _
  def docs: Long = truth.size

  def call(tr: Option[Tracer]): Double = Op.seconds {
    last = Op.span(tr, "pipeline.run_call")(DedupPipeline.run(spark, pages, cfg))
    Op.span(tr, "pipeline.write")(Checks.writeNoop(last.decisions))
  }

  def outcome(): Outcome = Checks.decisions(last.decisions, truth, cfg.minLen)
}

/** A checkpointed run (`DedupConfig.runDir` set), a simulated crash that
  * loses every stage after `reps`, and the resumed run. Both runs end in a
  * `noop` write of the decisions and are timed; comparing the two
  * decision sets sits between them, untimed. */
final class ResumeOp(
    spark: SparkSession, pages: DataFrame, truth: Vector[Doc], cfg: DedupConfig, runDir: Path)
    extends Op {
  private var last: DedupResult = _
  private var resumedDiffers = false
  /** Stage wall seconds and MiB written, from the manifests of the last uninterrupted run. */
  var ckptWriteS = 0.0
  var ckptMbWritten = 0.0
  def docs: Long = truth.size

  def call(tr: Option[Tracer]): Double = {
    Files.createDirectories(runDir.getParent)
    Checks.deleteRecursively(runDir)
    val ck = cfg.copy(runDir = Some(runDir.toString))
    val first = Op.seconds {
      Op.span(tr, "plans.ckpt_run")(Checks.writeNoop(DedupPipeline.run(spark, pages, ck).decisions))
    }
    val uninterrupted = Checks.decisionRows(spark.read.parquet(runDir.resolve("decisions").toString))
    readManifests()
    Pins.release(spark)
    ResumeOp.LostStages.foreach(s => Files.delete(runDir.resolve(s"$s._graft_manifest.json")))
    val resumed = Op.seconds {
      Op.span(tr, "plans.resume") {
        last = DedupPipeline.run(spark, pages, ck)
        Checks.writeNoop(last.decisions)
      }
    }
    resumedDiffers = Checks.decisionRows(last.decisions) != uninterrupted
    first + resumed
  }

  private def readManifests(): Unit = {
    val wall = """"wall_ms":(\d+)""".r
    val bytes = """"bytes_written":(\d+)""".r
    val bodies = ResumeOp.Stages.map(s =>
      new String(Files.readAllBytes(runDir.resolve(s"$s._graft_manifest.json")), "UTF-8"))
    ckptWriteS = bodies.flatMap(b => wall.findFirstMatchIn(b)).map(_.group(1).toLong).sum / 1e3
    ckptMbWritten = bodies.flatMap(b => bytes.findAllMatchIn(b)).map(_.group(1).toLong).sum / Tracer.Mb
  }

  def outcome(): Outcome = {
    val o = Checks.decisions(last.decisions, truth, cfg.minLen)
    if (resumedDiffers) o.copy(problems = o.problems :+ "resumed decisions differ from the uninterrupted run")
    else o
  }
}

object ResumeOp {
  val Stages = Seq("docs", "exact_edges", "reps", "signatures", "near_edges", "substr_edges",
    "labels", "decisions")
  /** The crash comes after `reps` committed. */
  val LostStages: Seq[String] = Stages.dropWhile(_ != "signatures")
}

/** `IncrementalDedup.newDocs` against the pinned corpus digests, then
  * `IncrementalNear.vsCorpus` against the pinned corpus; both results are
  * collected to the driver. */
final class IngestOp(
    corpus: DataFrame, corpusShas: DataFrame, batch: DataFrame, truth: Vector[Doc])
    extends Op {
  private var newUrls: Set[String] = Set.empty
  private var matches: Map[String, String] = Map.empty
  def docs: Long = truth.size
  def novelShare: Double = matches.count(_._2 == null).toDouble / truth.size

  def call(tr: Option[Tracer]): Double = Op.seconds {
    newUrls = Op.span(tr, "incremental.newDocs") {
      IncrementalDedup.newDocs(batch, corpusShas).select(col("url")).collect().map(_.getString(0)).toSet
    }
    matches = Op.span(tr, "incremental.vsCorpus") {
      IncrementalNear.vsCorpus(batch, corpus).select(col("url"), col("dup_of")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
  }

  def outcome(): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    def matched(d: Doc) = matches.getOrElse(d.url, null)
    def flagged(d: Doc) = !newUrls(d.url) || matched(d) != null
    val planted = truth.filter(_.src != null)
    val wrongSource = planted.count(d => matched(d) != d.src)
    if (matches.size != truth.size) problems += s"vsCorpus returned ${matches.size} verdicts for ${truth.size} pages"
    if (wrongSource > 0) problems += s"$wrongSource planted copies matched another corpus page"
    val recall = planted.count(flagged).toDouble / planted.size
    val nFlagged = truth.count(flagged)
    val wrong = truth.count(d => d.src == null && flagged(d))
    if (recall < Checks.RecallFloor) problems += f"recall $recall%.4f below ${Checks.RecallFloor}"
    Outcome(
      s"new=${newUrls.size} matched=${matches.count(_._2 != null)}",
      recall, if (nFlagged == 0) 0.0 else 1.0 - wrong.toDouble / nFlagged, problems.toSeq)
  }
}

object Checks {
  /** The north-star floor for planted-pair recall. */
  val RecallFloor = 0.99

  def writeNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def decisionRows(decisions: DataFrame): Seq[(String, String, String)] =
    decisions.select(col("url"), col("cluster"), col("state")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** Recall and wrong deletes from contingency counts (planted group ×
    * predicted cluster), never from pair lists: a planted group of n pages
    * holds n(n-1)/2 pairs, of which those sharing a cluster were found. */
  def decisions(decisions: DataFrame, truth: Vector[Doc], minLen: Int): Outcome = {
    val rows = decisionRows(decisions)
    val byUrl = truth.iterator.map(d => d.url -> d).toMap
    val groupSize = truth.groupBy(_.group).view.mapValues(_.size).toMap
    val cells = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)
    val states = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val keepClusters = mutable.Map.empty[String, Int].withDefaultValue(0)
    var wrongDeletes = 0L
    rows.foreach { case (url, cluster, state) =>
      val d = byUrl(url)
      cells((d.group, cluster)) += 1
      states(state) += 1
      if (state == "keep" || state == "delete") keepClusters(cluster) += (if (state == "keep") 1 else 0)
      if (state == "delete" && groupSize(d.group) == 1) wrongDeletes += 1
    }
    def pairs(n: Long) = n * (n - 1) / 2
    val planted = groupSize.values.map(n => pairs(n.toLong)).sum
    val found = cells.values.map(pairs).sum
    val recall = found.toDouble / planted
    val deletes = states("delete")

    val problems = mutable.ArrayBuffer.empty[String]
    if (rows.size != truth.size) problems += s"${rows.size} decisions for ${truth.size} pages"
    val short = truth.count(_.text.length < minLen)
    if (states("ignored") != short) problems += s"${states("ignored")} ignored, $short planted short pages"
    val badClusters = keepClusters.count(_._2 != 1)
    if (badClusters > 0) problems += s"$badClusters duplicate clusters without exactly one keep"
    if (recall < RecallFloor) problems += f"recall $recall%.4f below $RecallFloor"
    Outcome(
      states.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(" ") +
        s" clusters=${keepClusters.size}",
      recall, if (deletes == 0) 0.0 else 1.0 - wrongDeletes.toDouble / deletes, problems.toSeq)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
}
