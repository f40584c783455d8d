package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Long-common-substring duplicate pass — the web-scale analog of the
  * reference's exact byte-by-byte content comparison
  * (`ViewModels/MainViewModel.cs:1093-1146`) applied to *substrings*:
  * find document pairs sharing an exact run of ≥ L characters.
  *
  * Design: winnowed rolling-hash fingerprints (Schleimer/Wilkerson/Aiken,
  * SIGMOD 2003) with k-gram size `anchorK` and window w = L - anchorK + 1,
  * which guarantees any pair sharing an exact ≥ L-char substring shares at
  * least one selected fingerprint. Candidate generation is then a plain
  * `explode → groupBy(fingerprint)` — a shuffle is the index — followed by
  * exact rolling-hash + character verification per pair. A distributed
  * suffix array (pDC3) is the literature alternative; fingerprint anchoring
  * reuses the same bounded-bucket machinery as the LSH stage and never
  * materializes the O(total-text) suffix structure.
  */
object SubstringDup {

  final case class Config(
      minSubstr: Int = 200,
      anchorK: Int = 50,
      bucketCap: Int = 64,
      seed: Long = 42L) {
    def window: Int = minSubstr - anchorK + 1
  }

  /** Candidate pairs: docs sharing a winnowed fingerprint. Bounded per
    * fingerprint bucket by `bucketCap` members (a viral shared passage —
    * license boilerplate across millions of docs — is the same skew bomb
    * the LSH stage is hardened against); overflow counts surface in
    * `dropped` — no silent truncation. Same single-exchange Catalyst shape
    * as `Lsh.candidatePairs`: three-long bucket rows (plus a constant
    * `sim`) into the shared [[Lsh.cappedPairs]] step, whose bounded top-k
    * aggregate ships at most `cap` members per bucket per input partition
    * (no task-memory buffering — the round-1 `toBuffer` held whole buckets
    * in memory, ADVICE r1 — and no full-table window sort). `scopeCol` is
    * folded into the bucket key for Same*-scope runs. */
  def candidatePairs(
      spark: SparkSession,
      docs: DataFrame,
      cfg: Config,
      scopeCol: org.apache.spark.sql.Column = lit("")): DataFrame = {
    val ids = docs.select(
      xxhash64(col("url"), lit(0x5AB5EEDL)).as("id"),
      col("url"), col("nk"), col("text"), scopeCol.as("bscope_"))
    val fps = ids
      .select(
        col("id"), gf.nk_prefix64(col("nk")).as("nkp"), col("bscope_"),
        explode(gf.winnow_fingerprints(col("text"), cfg.anchorK, cfg.window)).as("fp"))
      .select(
        xxhash64(col("fp"), col("bscope_")).as("bkey"), col("nkp"), col("id"),
        lit(0L).as("sim"))

    val pairs = Lsh.cappedPairs(fps, cfg.bucketCap)
      .groupBy(col("src_id"), col("dst_id"))
      .agg(max(col("dropped")).as("dropped"))

    Lsh.resolveUrls(pairs, ids)
  }

  /** Per-document merged duplicated spans — the Lee et al. 2022 behavior
    * (span-level dedup, ACL 2022): for every candidate pair, compute the
    * exact character ranges of each side covered by an L-gram shared with
    * the other side (`gf.shared_spans`, zero false positives), then union
    * the ranges per document into maximal merged [s, e) intervals.
    *
    * Completeness rides the winnowing guarantee: every shared ≥ L-char
    * substring anchors at least one shared fingerprint, so the pair that
    * would contribute a span is a candidate (bucket-cap drops are counted
    * upstream, never silent). Scale shape: the span kernel runs once per
    * candidate pair on pair-rebalanced partitions; the per-doc union is a
    * groupBy(url) whose values are a few ints per pair — document bodies
    * never enter the aggregation.
    *
    * Reference anchor: the delete sink removes duplicated *content*
    * (`ViewModels/MainViewModel.cs:1093-1146, 1248-1346`); at corpus scale
    * the right granularity is the duplicated span, not the whole document.
    *
    * @return (url, s, e) — 1-based start, exclusive end, merged disjoint
    *         ascending spans per url. */
  def dupSpans(
      spark: SparkSession,
      docs: DataFrame,
      cfg: Config,
      scopeCol: org.apache.spark.sql.Column = lit("")): DataFrame = {
    // the candidate frame feeds BOTH the endpoint attach's touched-url
    // semi-join and its pair melt; pin the narrow frame so the fingerprint
    // bucketing runs once (the same three-consumer shape the pipeline's
    // substr stage pins — AQE reuse alone recovers only part of the
    // duplicate work: 1.47× wall / 1.74× shuffle bytes unpersisted,
    // OPTIMIZATION_r06.md §6)
    val candidates = candidatePairs(spark, docs, cfg, scopeCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val paired = Lsh.attachEndpoints(
      candidates.select(col("src"), col("dst")), docs, "text" -> col("text"))
    // both directions from one kernel invocation pair; packed (s << 32) | e
    val perPair = paired.select(
      col("src"), col("dst"),
      gf.shared_spans(col("text_a"), col("text_b"), cfg.minSubstr).as("sp_a"),
      gf.shared_spans(col("text_b"), col("text_a"), cfg.minSubstr).as("sp_b"))
    val spanRows = perPair
      .select(col("src").as("url"), explode(col("sp_a")).as("sp"))
      .unionByName(perPair.select(col("dst").as("url"), explode(col("sp_b")).as("sp")))
      .select(
        col("url"),
        shiftright(col("sp"), 32).as("s"),
        col("sp").bitwiseAND(lit(0xFFFFFFFFL)).as("e"))
    mergeSpans(spanRows)
  }

  /** Interval union per url: overlapping or adjacent [s, e) spans coalesce.
    * Pure Catalyst: per-doc sorted fold via the `aggregate` higher-order
    * function over a collect_list — span counts per doc are bounded by
    * len/1 in theory and by a handful in practice, so the per-group state
    * is tiny and the aggregation keeps map-side partials. */
  def mergeSpans(spanRows: DataFrame): DataFrame = {
    val folded = spanRows
      .groupBy(col("url"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .select(
        col("url"),
        aggregate(
          col("sp"),
          expr("cast(array() as array<struct<s:bigint,e:bigint>>)"),
          (acc, x) =>
            when(
              size(acc) === 0 || x.getField("s") > element_at(acc, -1).getField("e"),
              concat(acc, array(x.cast("struct<s:bigint,e:bigint>"))))
              .otherwise(concat(
                slice(acc, lit(1), size(acc) - 1),
                array(struct(
                  element_at(acc, -1).getField("s").as("s"),
                  greatest(element_at(acc, -1).getField("e"), x.getField("e")).as("e"))))))
          .as("merged"))
    folded
      .select(col("url"), explode(col("merged")).as("m"))
      .select(col("url"), col("m.s").as("s"), col("m.e").as("e"))
  }

  /** Keep-one-copy duplicated spans — the standard Lee et al. 2022
    * pipeline variant: every duplicated passage survives exactly once
    * corpus-wide, in its (natural-key, url)-minimal document, and is cut
    * from every other occurrence.
    *
    * Election rides the pair graph directly, no connected-components pass
    * needed: the (nk, url) order is total, so for each candidate pair the
    * span kernel runs against the LATER side only — the earlier side keeps.
    * A passage present in docs d1 < d2 < ... < dk is cut from d2..dk (each
    * pairs with the earlier d1) and kept in d1 (d1 is never the later side
    * of a pair sharing it). This is the distributed analog of the
    * reference's one-keep-per-cluster election
    * (`ViewModels/MainViewModel.cs:1226-1240`) at span granularity.
    *
    * Scale shape matches [[dupSpans]] minus half the kernel work: one
    * oriented `shared_spans` call per candidate pair instead of two; the
    * per-doc union ships only ints. Completeness rides the same winnowing
    * guarantee — any single shared ≥ L-char gram is itself a ≥ L-char
    * shared substring, so its pair is a candidate.
    *
    * @return (url, s, e) — merged disjoint spans to remove, per url; docs
    *         that only ever appear as the earlier side emit no rows. */
  def dupSpansKeepOne(
      spark: SparkSession,
      docs: DataFrame,
      cfg: Config,
      scopeCol: org.apache.spark.sql.Column = lit("")): DataFrame = {
    // two consumers (the endpoint attach's touched-url semi-join + pair
    // melt): pin the narrow candidate frame rather than re-running
    // fingerprint bucketing
    val candidates = candidatePairs(spark, docs, cfg, scopeCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val paired = Lsh.attachEndpoints(
      candidates.select(col("src"), col("dst")), docs,
      "nk" -> col("nk"), "text" -> col("text"))
    // orient: the (nk, url)-earlier side keeps, spans cut from the later
    val srcFirst =
      col("nk_a") < col("nk_b") ||
        (col("nk_a") === col("nk_b") && col("src") <= col("dst"))
    val spanRows = paired
      .select(
        when(srcFirst, col("dst")).otherwise(col("src")).as("url"),
        explode(gf.shared_spans(
          when(srcFirst, col("text_b")).otherwise(col("text_a")),
          when(srcFirst, col("text_a")).otherwise(col("text_b")),
          cfg.minSubstr)).as("sp"))
      .select(
        col("url"),
        shiftright(col("sp"), 32).as("s"),
        col("sp").bitwiseAND(lit(0xFFFFFFFFL)).as("e"))
    mergeSpans(spanRows)
  }

  /** The cleaned corpus: every duplicated span cut from every document (the
    * strict every-copy variant; [[dupSpansKeepOne]] computes the spans for
    * the keep-one-copy variant — feed its output here to cut them).
    * Stitching is a per-row fold
    * over the doc's merged spans — no shuffle beyond the span groupBy.
    *
    * @return (url, cleaned_text, n_spans, removed_chars) for every doc in
    *         `docs` (docs without spans pass through uncut). */
  def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("url"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
    docs
      .join(perDoc, Seq("url"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("cast(array() as array<struct<s:bigint,e:bigint>>)")))
      .select(
        col("url"),
        concat(
          aggregate(
            col("sp"),
            struct(lit("").as("t"), lit(1L).as("cur")),
            (acc, x) => struct(
              concat(acc.getField("t"),
                substr(col("text"), acc.getField("cur"),
                  x.getField("s") - acc.getField("cur"))).as("t"),
              x.getField("e").as("cur")),
            acc => acc.getField("t")),
          substr(col("text"),
            element_at(
              concat(array(lit(1L)), transform(col("sp"), x => x.getField("e"))), -1),
            length(col("text")).cast("long"))).as("cleaned_text"),
        size(col("sp")).as("n_spans"),
        coalesce(
          aggregate(col("sp"), lit(0L),
            (acc, x) => acc + x.getField("e") - x.getField("s")),
          lit(0L)).as("removed_chars"))
  }

  /** Duplicate-mass document filter — the RefinedWeb-style composition
    * rule layered ON TOP of span dedup: instead of cutting duplicated
    * passages, DROP whole documents whose duplicated-character fraction
    * reaches `theta` (a mostly-duplicated page is template chrome or a
    * mirror; cutting would leave an incoherent stub). `spans` is
    * [[dupSpans]]/[[dupSpansKeepOne]] output (already interval-merged, so
    * summing lengths never double-counts).
    *
    * Scale shape: an ints-only (url → Σ(e−s)) aggregate over the span
    * table (tiny — only dup-touched docs appear) left-joined to a narrow
    * (url, length) projection of the corpus; document text never moves.
    *
    * @return (url, n_chars, dup_chars, dup_frac, dropped), one row per
    *         doc; span-free docs read 0 / 0.0 / false. */
  def dupMassFilter(docs: DataFrame, spans: DataFrame, theta: Double): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta out of (0,1]: $theta")
    val mass = spans.groupBy(col("url"))
      .agg(sum(col("e") - col("s")).as("dup_chars"))
    docs
      .select(col("url"), length(col("text")).cast("long").as("n_chars"))
      .join(mass, Seq("url"), "left")
      .withColumn("dup_chars", coalesce(col("dup_chars"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_chars") === 0L, lit(0.0))
          .otherwise(col("dup_chars").cast("double") / col("n_chars")))
      .withColumn("dropped", col("dup_frac") >= lit(theta))
  }

  /** Exact verification: keep pairs with a real common substring ≥ L chars
    * (rolling-hash candidate positions confirmed by direct character
    * comparison — zero false positives). Both endpoint texts attach through
    * [[Lsh.attachEndpoints]]: only candidate-touched texts are shuffled, and
    * once each. */
  def verifiedEdges(candidates: DataFrame, docs: DataFrame, cfg: Config): DataFrame =
    Lsh.attachEndpoints(candidates.select(col("src"), col("dst")), docs, "text" -> col("text"))
      .where(gf.common_substring_ge(col("text_a"), col("text_b"), cfg.minSubstr))
      .select(col("src"), col("dst"))
}
