package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf
import graft.operators._
import graft.plans.CheckpointIO

/** End-to-end near-duplicate detection + clustering configuration.
  * The persisted query-parameter record of the reference
  * (`ViewModels/MainViewModel.cs:114-145`, persisted `:350-387`): its hash
  * is stamped into every checkpoint manifest so resume refuses mismatched
  * configs. */
final case class DedupConfig(
    minLen: Int = 20,
    shingleK: Int = 5,
    numHashes: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    seed: Long = 42L,
    jaccardTau: Double = 0.8,
    /** Pairs enter exact verification when co-bucketed in ≥ this many LSH
      * buckets (or same-signature / Hamming ≤ hamMax) — signals produced by
      * candidate generation itself, replacing the round-1 est-Jaccard
      * prefilter and its full-signature-table shuffle. */
    minSharedBands: Int = 2,
    hamMax: Int = 3,
    minSubstr: Int = 200,
    anchorK: Int = 50,
    bucketCap: Int = 64,
    scope: String = "all",
    /** Content-digest algorithm for the exact stage — the reference's
      * user-selectable accuracy dial (`ViewModels/MainViewModel.cs:25-38`,
      * default SHA512 at `:114`; we default to sha256: at 10^12 docs its
      * ~1-in-10^75 collision odds, the reference's own published number at
      * `:33-34`, already dwarf hardware error rates and the digest is half
      * the shuffle width of sha512). */
    algo: String = "sha256",
    /** Stage toggles: an exact-only run (near & substring off) is the
      * reference's CompareHash-only configuration
      * (`ViewModels/MainViewModel.cs:136-145`). */
    enableNear: Boolean = true,
    enableSubstr: Boolean = true,
    /** Ordered host priorities — the reference's user-ordered source-folder
      * list (`MainViewModel.cs:68,539-557,877-882`): scan order is source
      * order first, natural name order second, and scan order decides which
      * cluster member is kept. Hosts listed earlier win representative
      * election; unlisted hosts rank after all listed ones. */
    sourcePriority: Seq[String] = Nil,
    verifyExtract: Boolean = false,
    /** Edge-count threshold below which connected components run as a
      * driver-local union-find (constant wall-clock, wins at sandbox
      * scale); 0 forces the distributed label-propagation path — the
      * cluster configuration, and the scaling-experiment dial. */
    ccMaxDriverEdges: Long = operators.ConnectedComponents.DefaultMaxDriverEdges,
    runDir: Option[String] = None) {

  require(
    Set("crc32", "md5", "sha256", "sha512").contains(algo),
    s"unknown digest algo: $algo (expected crc32|md5|sha256|sha512)")

  def lshConfig: Lsh.Config = Lsh.Config(
    shingleK = shingleK, numHashes = numHashes, bands = bands,
    rowsPerBand = rowsPerBand, seed = seed, bucketCap = bucketCap,
    minSharedBands = minSharedBands, hamMax = hamMax)

  def substrConfig: SubstringDup.Config = SubstringDup.Config(
    minSubstr = minSubstr, anchorK = anchorK, bucketCap = bucketCap, seed = seed)

  /** Deterministic config hash (stamped into checkpoint manifests), over
    * the persisted record only: `runDir` (where the run lives) and
    * `ccMaxDriverEdges` (which CC path computes the same labels) do not
    * change any output, so a moved run dir or a changed CC threshold still
    * resumes from its checkpoints. */
  def hash: String = {
    val repr = ConfigIO.toJson(this)
    java.lang.Long.toHexString(graft.functions.Hash64.hashBytes(
      repr.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0x60F1L))
  }
}

final case class DedupResult(
    docs: DataFrame, // url,nk,ts,lang,host,dir,len,text,sha
    edges: DataFrame, // src,dst,kind
    decisions: DataFrame, // url,cluster,cluster_size,state,…
    stats: DataFrame)

/** The flagship pipeline (SURVEY.md §3.1 engine lifecycle):
  *
  *   read pages → extract text (byte-identical invariant) → length filter
  *   → exact sha2 stage (blocking + singleton short-circuit + star edges)
  *   → signatures (MinHash + SimHash, exact-representatives only — the
  *     laziness of the reference's memoized digest: hash only what can
  *     still collide) → LSH banding → single-exchange windowed candidate
  *   pairs (cap-bounded, drops counted) → exact-Jaccard verification →
  *   winnowed substring pass →
  *   iterative connected components → representative election → decisions
  *   + stats.
  *
  * Every stage is an idiomatic DataFrame transform; shuffles happen exactly
  * at the blocking keys (sha, LSH bucket, fingerprint, cluster label).
  */
object DedupPipeline {

  /** Below this corpus size the reps/sigs eager counts are skipped: every
    * frame involved broadcasts comfortably regardless of the optimizer's
    * string-width size guesses, and the two extra scheduler round trips
    * are pure fixed cost (they flattened small-input latency; the guard
    * they provide — a multi-GB frame mistaken for broadcastable — cannot
    * arise under 100k docs). */
  val EagerCountMinDocs: Long = 100000L

  /** pages: url, warc_ts, html, text, lang (input_hint shape). When
    * `fromHtml`, text is re-derived from html via the canonical extractor
    * (and optionally verified byte-identical against the provided text). */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      cfg: DedupConfig = DedupConfig(),
      fromHtml: Boolean = true): DedupResult = {

    val ck = cfg.runDir.map(d => new CheckpointIO(spark, d, cfg.hash))
    // Without a checkpoint dir, persist + EAGERLY count only the frames
    // consumed more than once downstream (docs, reps, sigs): the
    // eager count both stops the MinHash kernel recomputing per consumer
    // and lets downstream join planning see the cache's REAL size instead
    // of string-width guesses (which at millions of docs made the optimizer
    // broadcast a multi-GB side). Single-consumer stages (the three edge
    // frames) stream straight into the CC union, which materializes them
    // once itself — round 1 eagerly materialized all eight stages and the
    // fixed per-job latency was exactly what flattened 8→32-thread scaling.
    // The docs count (needed anyway) additionally gates the LATER eager
    // counts: below `EagerCountMinDocs` every frame broadcasts comfortably
    // whatever the optimizer guesses, so reps/sigs persist lazily and the
    // small-corpus fixed cost drops two scheduler round trips.
    var eagerCounts = true
    def stage(name: String, multiConsumer: Boolean = true)(build: => DataFrame): DataFrame =
      ck.map(_.stage(name)(build)).getOrElse {
        if (!multiConsumer) build
        else {
          val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          if (eagerCounts || name == "docs") {
            val n = df.count()
            if (name == "docs") eagerCounts = n >= DedupPipeline.EagerCountMinDocs
          }
          df
        }
      }

    val mode = Scope.parse(cfg.scope)
    // Comparison-scope plan (round-2 completeness fix — see Scope.scala):
    //   Same* modes fold the scope value into EVERY blocking key (exact
    //   groups, rep election, LSH band buckets, fingerprint buckets), so
    //   candidate pairs are same-scope by construction and no post-filter
    //   can drop a within-scope duplicate whose group rep sat elsewhere.
    //   Different* modes cluster by similarity alone and dissolve clusters
    //   that never leave one scope value in the decide step.
    val scopeKey: org.apache.spark.sql.Column = mode match {
      case Scope.SameDir => col("dir")
      case Scope.SameHost => col("host")
      case _ => lit("")
    }
    val dissolve = mode match {
      case Scope.DifferentDir => Some("dir")
      case Scope.DifferentHost => Some("host")
      case _ => None
    }

    // content digest per the configured algorithm (reference dial,
    // MainViewModel.cs:25-38); crc32 is zero-padded hex so the column is
    // uniformly a hex string whatever the dial says
    val digest = IncrementalDedup.digestCol(col("text"), cfg.algo)

    // ---- extract + normalize (O1/O2/O3/O4 analogs) ----
    val docs = stage("docs") {
      val extracted =
        if (fromHtml) pages.withColumn("etext", gf.extract_text(col("html")))
        else pages.withColumn("etext", col("text"))
      val checked =
        if (cfg.verifyExtract && fromHtml)
          // per-row invariant (BASELINE.json input_hint): extracted text must
          // equal the provided text byte-for-byte; violations are surfaced,
          // never silently dropped
          extracted.withColumn("extract_ok", col("etext") === col("text"))
        else extracted.withColumn("extract_ok", lit(true))
      Scope.withScopeCols(
        checked
          .select(
            col("url"),
            col("warc_ts"),
            col("lang"),
            col("etext").as("text"),
            col("extract_ok"))
          .where(col("text").isNotNull && col("url").isNotNull)
          .withColumn("len", length(col("text")))
          .withColumn(
            "nk",
            if (cfg.sourcePriority.isEmpty) gf.natural_sort_key(col("url"))
            else graft.functions.NaturalKey.sourcePriorityKey(col("url"), cfg.sourcePriority))
          .withColumn("sha", digest))
        .withColumn("bscope", scopeKey)
    }

    // comparison universe: not ignored (strict <, MainViewModel.cs:603)
    val live = docs.where(col("len") >= cfg.minLen)

    // ---- exact stage (O5/O7/O11/O12) ----
    // Same* scopes block on (sha, scope): two identical docs in one scope
    // always star together even when the global natural-min rep of their
    // text lives in another scope (the round-1 completeness hole).
    val exactEdges = stage("exact_edges", multiConsumer = false) {
      val (_, edges) = ExactDedup.repsAndEdges(
        live.select(col("url"), col("nk"), col("sha"), col("bscope")),
        blockCols = Seq("sha", "bscope"))
      edges.withColumn("kind", lit("exact"))
    }

    // exact representatives: one doc per distinct (text, scope) — near-dup
    // and substring work runs on these only (identical texts ride along via
    // the exact star edges). This is the reference's lazy hashing inverted:
    // never compute an expensive signature twice for the same bytes.
    //
    // Election runs NARROW: min_by's string buffer plans SortAggregate, and
    // carrying `text` through that partial sort (the r2.1 shape:
    // `first(text)` rode the agg) sorted every document body map-side. Now
    // only (sha, url, nk, bscope) enter the aggregation and the rep's text
    // re-attaches through a hash join whose build side is the narrow
    // elected table — document bodies cross one exchange, zero sorts.
    lazy val reps = stage("reps") {
      val elected = live
        .groupBy(col("sha"), col("bscope"))
        .agg(min_by(col("url"), col("nk")).as("url"), min(col("nk")).as("nk"))
      elected
        .hint("shuffle_hash") // build = narrow elected side, stream texts
        .join(live.select(col("url"), col("text")), Seq("url"))
        .select(col("url"), col("nk"), col("text"), col("bscope"))
    }

    // ---- signature stage (O12/O14) ----
    // lazy: an exact-only run (enableNear = false) never touches the
    // signature kernel — the reference's "hash only what can still collide"
    // laziness applied at stage granularity
    lazy val sigs = stage("signatures") {
      Lsh.withSignatures(reps, cfg.lshConfig)
    }

    // ---- LSH candidates + verification (O8/O10/O13 analogs) ----
    // Bucket keys are salted with the scope for Same* modes (same-scope by
    // construction); Different* modes cluster globally and dissolve
    // single-scope clusters at decide time — a post-filter on pairs would
    // silently drop cross-scope duplicates reachable only through a
    // same-scope rep (ADVICE r1).
    val nearEdges =
      if (!cfg.enableNear) spark.emptyDataFrame.select(
        lit("").as("src"), lit("").as("dst"), lit("near").as("kind")).limit(0)
      else stage("near_edges", multiConsumer = false) {
        // verification consumes the candidate frame three times (two
        // touched-url scans + the melted probe side); AQE stage reuse only
        // partially deduplicates the copies (measured 1.47× wall / 1.74×
        // shuffle bytes unpersisted — BENCH.md, round-4 melt rework), so
        // the narrow ~50 MB-per-M-pairs frame is worth pinning
        val cands = Lsh.candidatePairs(spark, sigs, cfg.lshConfig, scopeCol = col("bscope"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Lsh.verifiedEdges(cands, sigs, cfg.lshConfig, cfg.jaccardTau)
          .select(col("src"), col("dst"))
          .withColumn("kind", lit("near"))
      }

    // ---- substring stage (O15) ----
    val substrEdges =
      if (!cfg.enableSubstr) spark.emptyDataFrame.select(
        lit("").as("src"), lit("").as("dst"), lit("substring").as("kind")).limit(0)
      else stage("substr_edges", multiConsumer = false) {
        // same three-consumer shape as near_edges above: pin the narrow
        // candidate frame rather than re-running fingerprint bucketing
        val cands = SubstringDup.candidatePairs(
          spark, reps, cfg.substrConfig, scopeCol = col("bscope"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        SubstringDup.verifiedEdges(cands, reps, cfg.substrConfig)
          .withColumn("kind", lit("substring"))
      }

    // lazy persist: CC materializes the union once (its symmetric closure
    // is a single-read explode) and the cache then serves callers reading
    // DedupResult.edges without re-running the verification kernels
    val edges = exactEdges
      .unionByName(nearEdges)
      .unionByName(substrEdges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- clustering (O16) ----
    // single consumer (decisions, which persists itself): no eager count —
    // the CC output is either a driver-built LocalRelation or a join over
    // localCheckpointed label tables, both with known sizes for planning
    val labels = stage("labels", multiConsumer = false) {
      ConnectedComponents.run(
        spark,
        live.select(col("url"), col("nk")),
        edges.select(col("src"), col("dst")),
        maxDriverEdges = cfg.ccMaxDriverEdges,
        // source-priority keys are not derivable from the url alone — the
        // driver union-find must then read them from the nodes frame
        driverNk =
          if (cfg.sourcePriority.isEmpty) Some(graft.functions.NaturalKey.key _)
          else None)
    }

    // ---- decisions + stats (O16/O18/O19/O22) ----
    val decisions = stage("decisions", multiConsumer = false) {
      Decisions.decide(
        docs.select(col("url"), col("warc_ts"), col("lang"), col("host"),
          col("dir"), col("len"), col("sha"), col("extract_ok")),
        labels.select(col("url"), col("cluster_url")),
        cfg.minLen,
        dissolveSingleScope = dissolve)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    val stats = Decisions.stats(decisions)
    DedupResult(docs, edges, decisions, stats)
  }

  /** The deduplicated corpus: everything except `delete` rows — the
    * copy-unique sink analog (`ViewModels/MainViewModel.cs:1348-1469`),
    * partitioned by host to preserve source structure. */
  def dedupedCorpus(pages: DataFrame, decisions: DataFrame): DataFrame =
    pages.join(
      decisions.where(col("state") === "delete").select(col("url")),
      Seq("url"), "left_anti")
}
