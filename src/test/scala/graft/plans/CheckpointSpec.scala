package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{DedupConfig, DedupPipeline}
import graft.sources.SyntheticCorpus

class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_ck_").toString
    d
  }

  test("stage writes manifest with per-partition metrics and skips on rerun") {
    val dir = freshDir()
    val ck = new CheckpointIO(spark, dir, "cfg1")
    var builds = 0
    def build() = { builds += 1; spark.range(100).toDF("id") }
    val a = ck.stage("s1")(build())
    assert(a.count() == 100 && builds == 1)
    val b = ck.stage("s1")(build())
    assert(b.count() == 100 && builds == 1, "second call must skip the build")
    val manifest = new String(Files.readAllBytes(
      Paths.get(dir, "s1._graft_manifest.json")))
    assert(manifest.contains("\"committed\":true"))
    assert(manifest.contains("\"partitions\":[{"))
    assert(manifest.contains("\"records_written\""))
  }

  test("config hash mismatch forces rebuild") {
    val dir = freshDir()
    var builds = 0
    def build() = { builds += 1; spark.range(10).toDF("id") }
    new CheckpointIO(spark, dir, "cfgA").stage("s")(build())
    new CheckpointIO(spark, dir, "cfgB").stage("s")(build())
    assert(builds == 2)
  }

  test("kill-after-stage-k resume: later stages recompute, earlier skip, output identical") {
    val dir = freshDir()
    val corpus = SyntheticCorpus.local(200)
    val pages = spark.createDataFrame(corpus.pages)
    val cfg = DedupConfig(runDir = Some(dir))

    val r1 = DedupPipeline.run(spark, pages, cfg, fromHtml = true)
    val d1 = r1.decisions.orderBy("url").collect().map(_.toString)

    // simulate a crash after the signature stage: delete every later manifest
    val later = Seq("near_edges", "substr_edges", "labels", "decisions")
    later.foreach { s =>
      Files.deleteIfExists(Paths.get(dir, s"$s._graft_manifest.json"))
    }
    val docsMtime = Files.getLastModifiedTime(
      Paths.get(dir, "docs._graft_manifest.json"))

    val r2 = DedupPipeline.run(spark, pages, cfg, fromHtml = true)
    val d2 = r2.decisions.orderBy("url").collect().map(_.toString)
    assert(d1.sameElements(d2), "resumed output must be byte-identical")
    assert(Files.getLastModifiedTime(Paths.get(dir, "docs._graft_manifest.json"))
      == docsMtime, "stage ≤ k must not recompute")
    assert(Files.exists(Paths.get(dir, "labels._graft_manifest.json")),
      "stage > k must recommit")
  }

  test("a copied run dir resumes at its new path: no stage rebuilds") {
    val src = freshDir()
    val corpus = SyntheticCorpus.local(120)
    val pages = spark.createDataFrame(corpus.pages)
    val r1 = DedupPipeline.run(spark, pages, DedupConfig(runDir = Some(src)), fromHtml = true)
    val d1 = r1.decisions.orderBy("url").collect().map(_.toString)

    val dst = Paths.get(freshDir(), "moved")
    val srcRoot = Paths.get(src)
    val walk = Files.walk(srcRoot)
    try walk.forEach(p => Files.copy(p, dst.resolve(srcRoot.relativize(p).toString)))
    finally walk.close()
    def manifests() = {
      val ls = Files.list(dst)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith("._graft_manifest.json"))
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
      finally ls.close()
    }
    val before = manifests()
    assert(before.keySet.exists(_.startsWith("decisions.")), before.keySet)

    val r2 = DedupPipeline.run(
      spark, pages, DedupConfig(runDir = Some(dst.toString)), fromHtml = true)
    val d2 = r2.decisions.orderBy("url").collect().map(_.toString)
    assert(d1.sameElements(d2), "resumed output must be identical")
    assert(manifests() == before, "a copied run dir must not rebuild any stage")
  }
}
