package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-level checkpoint + resume with per-partition lineage and metrics —
  * the batch engine's pause/resume (reference: cooperative pause/cancel,
  * `ViewModels/MainViewModel.cs:1475-1539`, memoized per-row hashes
  * `ViewModels/FileEntryViewModel.cs:98-101`) and device telemetry
  * (`ViewModels/DiskViewModel.cs:26-93`).
  *
  * Commit protocol (Iceberg-shaped; no Iceberg runtime jar exists in this
  * offline sandbox — see SURVEY.md §4.3): data is written to `<stage>.tmp`,
  * atomically renamed to `<stage>`, and `_graft_manifest.json` is written
  * last. A stage directory without its manifest is garbage; rerun overwrites
  * it. Resume = skip stages whose manifest is committed AND whose config
  * hash matches (a changed config refuses stale checkpoints, mirroring the
  * reference's persisted settings record `MainViewModel.cs:350-387`). In
  * production the CheckpointIO seam is where a real `USING iceberg` catalog
  * drops in.
  *
  * Metrics: a SparkListener captures per-task (= per-partition) rows,
  * bytes and wall time for every job launched inside the stage, written to
  * the manifest — per-partition lineage without touching row schemas.
  */
final class CheckpointIO(
    spark: SparkSession,
    runDir: String,
    configHash: String) {

  Files.createDirectories(Paths.get(runDir))

  /** Run `build` or return the committed checkpoint. */
  def stage(name: String)(build: => DataFrame): DataFrame = {
    val dir = Paths.get(runDir, name)
    val manifest = Paths.get(runDir, s"$name._graft_manifest.json")
    if (Files.exists(manifest) && manifestMatches(manifest)) {
      return spark.read.parquet(dir.toString)
    }
    val listener = new StageMetricsListener(name)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val tmp = Paths.get(runDir, s"$name.tmp")
      deleteRecursively(tmp)
      val df = build
      df.write.mode("overwrite").parquet(tmp.toString)
      deleteRecursively(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      writeManifest(manifest, name, wallMs, listener)
      spark.read.parquet(dir.toString)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def manifestMatches(manifest: Path): Boolean = {
    val body = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    body.contains(s""""config_hash":"$configHash"""")
  }

  private def writeManifest(
      manifest: Path, name: String, wallMs: Long,
      listener: StageMetricsListener): Unit = {
    val parts = listener.partitions.synchronized {
      listener.partitions.map { p =>
        s"""{"stage_id":${p.stageId},"partition":${p.partition},""" +
          s""""records_read":${p.recordsRead},"records_written":${p.recordsWritten},""" +
          s""""bytes_read":${p.bytesRead},"bytes_written":${p.bytesWritten},""" +
          s""""shuffle_read_records":${p.shuffleReadRecords},""" +
          s""""shuffle_write_records":${p.shuffleWriteRecords},""" +
          s""""run_time_ms":${p.runTimeMs}}"""
      }.mkString("[", ",", "]")
    }
    val body =
      s"""{"stage":"$name","config_hash":"$configHash","wall_ms":$wallMs,""" +
        s""""committed":true,"partitions":$parts}"""
    val tmp = Paths.get(manifest.toString + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}

final case class PartitionMetrics(
    stageId: Int,
    partition: Int,
    recordsRead: Long,
    recordsWritten: Long,
    bytesRead: Long,
    bytesWritten: Long,
    shuffleReadRecords: Long,
    shuffleWriteRecords: Long,
    runTimeMs: Long)

/** Collects per-task metrics for all jobs run while registered. */
final class StageMetricsListener(stageName: String) extends SparkListener {
  val partitions: mutable.ArrayBuffer[PartitionMetrics] = mutable.ArrayBuffer.empty

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      partitions.synchronized {
        partitions += PartitionMetrics(
          stageId = taskEnd.stageId,
          partition = taskEnd.taskInfo.index,
          recordsRead = m.inputMetrics.recordsRead,
          recordsWritten = m.outputMetrics.recordsWritten,
          bytesRead = m.inputMetrics.bytesRead,
          bytesWritten = m.outputMetrics.bytesWritten,
          shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
          shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
          runTimeMs = m.executorRunTime)
      }
    }
  }
}
