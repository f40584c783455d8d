package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Near-duplicate candidate generation: MinHash LSH banding, entirely in
  * Catalyst.
  *
  * Pipeline: signature columns → one partially-aggregated (sigd) groupBy
  * electing a center per distinct signature (non-centers star to it —
  * linear: the hot-bucket "skew bomb" of repeated boilerplate never goes
  * quadratic; the exact stage already stars byte-identical docs, this
  * covers identical-signature-but-different-bytes) → posexplode band
  * buckets of the CENTERS only (identical signatures share identical
  * buckets, so non-centers can't contribute new pairs) → [[cappedPairs]]:
  * one bounded-top-k aggregate per bucket keeping members by (nk-prefix,
  * id) up to `bucketCap` (counting what was dropped — no silent
  * truncation) and a higher-order transform expanding the pairs. The
  * substring and embedding-cosine stages share that bucket → pairs step;
  * the near and substring verifiers share the pairs → endpoint-payload
  * step, [[attachEndpoints]].
  *
  * This is the scaled analog of the reference's per-device scheduling
  * discipline — bounded work per hot resource
  * (`ViewModels/MainViewModel.cs:1166-1213`, semaphores `:1175,1178`) —
  * applied to hot LSH buckets instead of hot disks.
  */
object Lsh {

  final case class Config(
      shingleK: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      bucketCap: Int = 64,
      /** Verification prefilter: pairs pass when same-signature, SimHash
        * Hamming ≤ hamMax, or co-bucketed in ≥ minSharedBands buckets.
        * All three signals fall out of candidate generation for free — no
        * signature join. Recall-safe at the default: J ≥ 0.8 pairs share
        * ≥ 2 of 32 bands with P ≈ 1 - 1e-6. */
      minSharedBands: Int = 2,
      hamMax: Int = 3) {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
  }

  /** Adds sig / simhash / sigd columns to a docs frame with a text column.
    * MinHash and SimHash come from ONE fused tokenize+hash pass
    * (`sig_pair`) — the standalone expressions each paid the UTF-8 decode
    * and per-shingle rolling hash; values are bit-identical. The struct
    * lands as a real column first so both field extractions read one
    * evaluation whatever the project-collapse rules decide. */
  def withSignatures(docs: DataFrame, cfg: Config): DataFrame = {
    docs
      .withColumn("__sp",
        gf.sig_pair(col("text"), cfg.shingleK, cfg.numHashes, cfg.seed))
      .withColumn("sig", col("__sp.sig"))
      .withColumn("sigd", gf.sig_digest(col("__sp.sig")))
      .withColumn("simhash", col("__sp.simhash"))
      .drop("__sp")
  }

  /** Candidate pairs from MinHash band buckets plus same-signature stars.
    * Input: url, nk, sig, sigd, simhash. Output: src, dst
    * (src < dst by natural order; one row per pair), same_sig, ham (SimHash
    * Hamming distance), nshared (for distinct-sig pairs: the number of
    * buckets the pair co-occurred in; 1 for same-sig star pairs, which the
    * prefilter passes on same_sig), dropped (distinct-sig members beyond
    * the cap in the pair's buckets).
    *
    * Hot-path design (round-2 rework): every bucket row is FOUR LONGS —
    * doc id (xxhash64 of url), an 8-byte natural-key prefix for ordering,
    * the SimHash, and the bucket key. No strings or byte arrays pass
    * through the big explode-shuffle or the per-bucket aggregate:
    * at 1M docs the old string-carrying rows made task CPU inflate 2.7×
    * from 8→32 threads (allocation-rate bound, not compute bound). Ids
    * resolve back to urls through [[resolveUrls]].
    * An id collision (~N²/2^65) merely duplicates a candidate, which exact
    * verification discards.
    *
    * same_sig / ham / nshared come free from the buckets and replace the
    * round-1 est-Jaccard prefilter, whose signature join shuffled the full
    * 1 KB-per-row sig table (~1.5 GB at 1M docs) to score 0.27M pairs.
    *
    * `scopeCol` is folded into every bucket key (Same*-scope runs pass the
    * scope value so pairs are same-scope by construction). */
  def candidatePairs(
      spark: SparkSession,
      docs: DataFrame,
      cfg: Config,
      scopeCol: org.apache.spark.sql.Column = lit("")): DataFrame = {
    val ids = docs.select(
      xxhash64(col("url"), lit(0x1D5EEDL)).as("id"),
      col("url"), col("nk"), col("sig"), col("sigd"), col("simhash"),
      scopeCol.as("bscope_"))
    val base = ids.select(
      col("id"), gf.nk_prefix64(col("nk")).as("nkp"), col("sigd"),
      col("simhash"), col("bscope_"), col("sig"))

    // Distinct-signature CENTER election is ONE partially-aggregable
    // groupBy, not a window (the round-4 rework): identical
    // signatures imply identical band buckets, so only centers enter the
    // band explode — a non-center member could never contribute a pair the
    // center doesn't. min(struct(nkp, id, …)) elects the (nkp, id)-first
    // member exactly as the former window rank did, but the map-side
    // PARTIAL pass collapses each input partition's share of a hot
    // identical-signature group (viral boilerplate) to one row before the
    // exchange — no task ever sorts the whole group, and AQE can split the
    // stars join below if the group is still hot.
    //
    // The 32 band-bucket keys (256 B) ride the elected struct, so the
    // ~1 KB signature never re-attaches: the round-3 shape semi-joined the
    // full sig table against the elected ids, which at 2M docs exchanged
    // 1.6 GB of signatures (and burned ~30% of the stage's task time)
    // just to recover `sig` for the band explode.
    val narrow = base.drop("sig")
    val elected = base
      .select(
        col("sigd"), col("bscope_"), col("nkp"), col("id"), col("simhash"),
        gf.band_buckets(col("sig"), cfg.bands, cfg.rowsPerBand, cfg.seed).as("bks"))
      .groupBy(col("sigd"), col("bscope_"))
      .agg(min(struct(col("nkp"), col("id"), col("simhash"), col("bks"))).as("c"))
      .select(
        col("sigd"), col("bscope_"), col("c.nkp").as("nkp"),
        col("c.id").as("id"), col("c.simhash").as("simhash"), col("c.bks").as("bks"))

    val buckets = elected
      .select(
        col("id"), col("nkp"), col("simhash"), col("bscope_"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
      .select(
        // tag the band into the bucket key so cross-band collisions split
        xxhash64(col("band"), col("bucket"), col("bscope_")).as("bkey"),
        col("nkp"), col("id"), col("simhash").as("sim"))

    // Same-signature star edges are GLOBAL, not per-bucket: identical
    // signatures imply identical band buckets, so grouping by sigd once
    // (757k rows) replaces finding the same stars 32× inside the exploded
    // bucket table. Star center = (nkp, id)-first member — the same row
    // that entered the band explode above (a second narrow groupBy rather
    // than a reuse of `elected`, so column pruning drops the bucket arrays
    // from this branch's exchange; the join is a plain shuffle join on
    // sigd, which AQE skew-splits when one signature group is hot).
    val centersNarrow = narrow
      .groupBy(col("sigd"), col("bscope_"))
      .agg(min(struct(col("nkp"), col("id"), col("simhash"))).as("c"))
      .select(
        col("sigd"), col("bscope_"),
        col("c.id").as("center_id"), col("c.simhash").as("center_sim"))
    val sigStars = narrow
      .join(centersNarrow, Seq("sigd", "bscope_"))
      .where(col("id") =!= col("center_id"))
      .select(
        col("center_id").as("src_id"), col("id").as("dst_id"),
        lit(true).as("same_sig"),
        gf.hamming_dist(col("center_sim"), col("simhash")).as("ham"),
        lit(0L).as("dropped"))

    // Distinct-signature bucket pairs: the band path explodes one row per
    // DISTINCT signature (centers above), so buckets need no per-signature
    // dedup before the cap.
    val bucketPairs = cappedPairs(buckets, cfg.bucketCap)
      .select(
        col("src_id"), col("dst_id"),
        lit(false).as("same_sig"), col("ham"), col("dropped"))

    // cross-bucket dedup + the free prefilter signals in one aggregation
    val pairs = bucketPairs.unionByName(sigStars)
      .groupBy(col("src_id"), col("dst_id"))
      .agg(
        max(col("same_sig")).as("same_sig"),
        min(col("ham")).as("ham"),
        count(lit(1)).as("nshared"),
        max(col("dropped")).as("dropped"))

    resolveUrls(pairs, ids)
  }

  /** Bounded-bucket pair expansion — the one bucket → capped members →
    * pairs step of every bucketed candidate generator (this stage,
    * `SubstringDup.candidatePairs`, `Similarity.cosDupPairs`). Input: bkey,
    * nkp, id, sim (longs; one row per member per bucket). Output: src_id,
    * dst_id, ham (Hamming distance of the two `sim` values), dropped
    * (members beyond `cap` in that bucket) — one row per pair per bucket,
    * src before dst in (nkp, id) order.
    *
    * ONE bounded-top-k aggregate (`gf.bounded_topk`, a
    * TypedImperativeAggregate) per bucket: the planner gives it a map-side
    * PARTIAL pass, so every input partition ships at most `cap` members per
    * bucket through the exchange. A viral-boilerplate bucket with 10^6
    * members sends cap×partitions rows instead of 10^6, and no full-table
    * window sort is needed. Output is bit-identical to the (nkp, id)-ordered
    * window formulation tested in BoundedTopKSpec. Rows beyond the cap drop
    * with a count — never silently. A higher-order transform expands the
    * ≤ cap kept members into pairs — no second shuffle, no self-join. */
  def cappedPairs(buckets: DataFrame, cap: Int): DataFrame =
    buckets
      .groupBy(col("bkey"))
      .agg(gf.bounded_topk(col("nkp"), col("id"), col("sim"), cap).as("r"))
      .select(
        col("r.ms").as("ms"),
        greatest(col("r.total") - cap, lit(0L)).as("dropped"))
      .where(size(col("ms")) >= 2)
      .select(
        explode(flatten(transform(col("ms"), (x, i) =>
          transform(
            slice(col("ms"), i + lit(2), size(col("ms"))),
            y => struct(
              x.getField("id").as("src_id"),
              y.getField("id").as("dst_id"),
              gf.hamming_dist(x.getField("simhash"), y.getField("simhash")).as("ham")))))).as("p"),
        col("dropped"))
      .select(col("p.src_id"), col("p.dst_id"), col("p.ham"), col("dropped"))

  /** The one id → url resolve of the id-keyed candidate generators (this
    * stage, `SubstringDup.candidatePairs`): two cheap joins of the (small)
    * pair output against `ids` (id, url). Input: src_id, dst_id and any
    * pair columns; output: src, dst, then those pair columns in order. */
  def resolveUrls(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val carried = pairs.columns.filterNot(c => c == "src_id" || c == "dst_id").map(col)
    pairs
      .join(ids.select(col("id").as("src_id"), col("url").as("src")), "src_id")
      .join(ids.select(col("id").as("dst_id"), col("url").as("dst")), "dst_id")
      .select(col("src") +: col("dst") +: carried: _*)
  }

  /** Endpoint attach — the one pairs → endpoint-payload step of the
    * verifiers (`verifiedEdges` here, `SubstringDup.verifiedEdges`,
    * `dupSpans`, `dupSpansKeepOne`). Input: `pairs` with src, dst and the
    * pair columns to carry; `docs` with url and whatever the payload
    * expressions read. Output: src, dst, the carried columns, then
    * `<name>_a` (src side) and `<name>_b` (dst side) per payload, in order.
    *
    * Semi-join reduction: `docs` is cut to the distinct touched urls
    * before the payload expressions run, so each payload is evaluated once
    * per touched doc, not once per corpus doc nor once per pair. Each pair
    * then melts into two endpoint probes so ONE hash join attaches both
    * sides from a single evaluation of the payload subtree; the round-3
    * shape joined twice (once per side) and Spark planned the payload
    * subtree twice — exchange reuse never fired across the two renamed
    * sides, so the shingle pipeline (2.4 GB of set bytes at 2M docs) was
    * paid double. The SHUFFLE_HASH hint keeps wide payload rows out of a
    * sort-merge sort; the reassembly groupBy is keyed by the pair itself,
    * so it is skew-free by construction — a hot doc in thousands of pairs
    * spreads across partitions instead of landing on the join task that
    * owns its url (the skew discipline of the reference's per-disk
    * scheduler, `ViewModels/MainViewModel.cs:1166-1213`, applied to CPU).
    * Carried columns reassemble with `first`: both probes carry equal
    * values. */
  def attachEndpoints(pairs: DataFrame, docs: DataFrame, payload: (String, Column)*): DataFrame = {
    val touched = pairs.select(col("src").as("url"))
      .unionByName(pairs.select(col("dst").as("url")))
      .distinct()
    val sides = docs.join(touched, Seq("url"), "left_semi")
      .select(col("url") +: payload.map { case (n, e) => e.as(n) }: _*)
    val carried = pairs.columns.filterNot(c => c == "src" || c == "dst")
    val aggs = carried.map(c => first(col(c)).as(c)) ++ payload.flatMap { case (n, _) =>
      Seq(
        max(when(col("is_src"), col(n))).as(s"${n}_a"),
        max(when(!col("is_src"), col(n))).as(s"${n}_b"))
    }
    pairs
      .select(col("*"), explode(array(lit(true), lit(false))).as("is_src"))
      .withColumn("url", when(col("is_src"), col("src")).otherwise(col("dst")))
      .join(sides.hint("shuffle_hash"), Seq("url"))
      .groupBy(col("src"), col("dst"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Verified near-dup edges: candidates are prefiltered on the signals the
    * buckets already produced for free (identical signature, SimHash
    * Hamming, shared-bucket count — for a true pair at J ≥ 0.8 the expected
    * shared-band count is 32·0.8⁴ ≈ 13, so `nshared ≥ minSharedBands`
    * misses it with P < 1e-5), then confirmed with the exact shingle-set
    * Jaccard — the cheap→expensive cascade of the reference's predicate
    * chain (`ViewModels/MainViewModel.cs:996-1218`) as pipeline stages.
    * Both shingle sets attach through [[attachEndpoints]], so the set side
    * of the join is proportional to the candidate set, not the corpus. */
  def verifiedEdges(
      candidates: DataFrame, // src, dst, same_sig, ham, nshared
      docs: DataFrame, // url, text
      cfg: Config,
      tau: Double): DataFrame = {
    val pre = candidates.where(
      col("same_sig") || col("ham") <= cfg.hamMax ||
        col("nshared") >= cfg.minSharedBands)
    // each touched doc is shingled ONCE into its distinct-sorted hash set
    // (re-tokenizing per pair was the allocation burn that kept this stage
    // flat from 8→32 threads); the per-pair kernel is a sorted merge
    attachEndpoints(
      pre.select(col("src"), col("dst"), col("ham"), col("nshared")), docs,
      "set" -> gf.shingle_set(col("text"), cfg.shingleK, cfg.seed))
      .withColumn("jaccard", gf.merge_jaccard(col("set_a"), col("set_b")))
      .where(col("jaccard") >= tau)
      .select(col("src"), col("dst"), col("jaccard"), col("ham"), col("nshared"))
  }
}
