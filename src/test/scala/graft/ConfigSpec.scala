package graft

import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  test("config json round trip preserves every field") {
    val c = DedupConfig(
      minLen = 30, shingleK = 7, numHashes = 64, bands = 16, rowsPerBand = 4,
      seed = 7L, jaccardTau = 0.75, minSharedBands = 3, hamMax = 5,
      minSubstr = 150, anchorK = 40, bucketCap = 32, scope = "same_host",
      algo = "md5", enableNear = false, enableSubstr = true,
      sourcePriority = Seq("a.example", "b.example"),
      verifyExtract = true)
    val back = ConfigIO.fromJson(ConfigIO.toJson(c))
    assert(back == c.copy(runDir = None))
  }

  test("config hash changes when any parameter changes") {
    val base = DedupConfig()
    assert(base.hash == DedupConfig().hash)
    assert(base.hash != base.copy(shingleK = 6).hash)
    assert(base.hash != base.copy(jaccardTau = 0.81).hash)
    // the digest dial is part of query identity: resume must refuse a run
    // checkpointed under a different algorithm (O12/O29)
    assert(base.hash != base.copy(algo = "sha512").hash)
    assert(base.hash != base.copy(sourcePriority = Seq("x.example")).hash)
  }

  test("config hash ignores where the run lives and which CC path runs") {
    val base = DedupConfig()
    // a moved or copied run dir must still resume from its checkpoints
    assert(base.hash == base.copy(runDir = Some("runs/a")).hash)
    assert(base.copy(runDir = Some("runs/a")).hash ==
      base.copy(runDir = Some("moved/a")).hash)
    // both CC paths elect the same labels, so the threshold is not identity
    assert(base.hash == base.copy(ccMaxDriverEdges = 0L).hash)
  }

  test("unknown digest algo is rejected") {
    intercept[IllegalArgumentException] { DedupConfig(algo = "sha1") }
  }

  test("save/load file round trip") {
    val p = java.nio.file.Files.createTempFile("graft_cfg", ".json").toString
    val c = DedupConfig(scope = "different_host", bucketCap = 99)
    ConfigIO.save(c, p)
    assert(ConfigIO.load(p) == c)
  }

  test("source validation rejects nested and duplicate prefixes") {
    ConfigIO.validateSources(Seq("https://a.com/x", "https://a.com/y", "https://b.com"))
    intercept[IllegalArgumentException] {
      ConfigIO.validateSources(Seq("https://a.com/x", "https://a.com/x/sub"))
    }
    intercept[IllegalArgumentException] {
      ConfigIO.validateSources(Seq("https://a.com/x", "HTTPS://A.COM/x/"))
    }
  }
}
