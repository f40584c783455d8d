package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Host-graph centrality for crawl-quality weighting (Page et al. 1999;
  * the role harmonic/PageRank centrality plays in Common-Crawl-derived
  * corpora: rank the HOST graph once per crawl, then weight or gate pages
  * by their host's score — the cheapest strong prior on page quality that
  * needs no text model at all).
  *
  * Exactness discipline (shared with [[NaiveBayes]]/[[Dsir]]): ranks are
  * integer nano-units (Σ ranks ≈ [[Scale]]) and every round is pure
  * integer arithmetic — `div` truncating division, order-independent
  * integer sums — so the DuckDB oracle replays all `rounds` power-
  * iteration rounds bit-for-bit as chained CTEs. No IEEE accumulation
  * order can leak in. Floor division sheds < 1 unit per edge per round;
  * at nano scale that bias is ≤ |E|·rounds·10⁻⁹ of total mass —
  * irrelevant for ranking, and the oracle sees the identical loss.
  *
  * Per synchronous round, with damping d/100 over N nodes:
  * {{{
  *   contrib(u→v) = rank(u) div outdeg(u)
  *   dangling     = Σ rank(u) over nodes with outdeg 0
  *   rank'(v)     = ((100−d)·Scale div 100) div N
  *                + (d · (Σ contrib(·→v) + dangling div N)) div 100
  * }}}
  *
  * Scale shape: the graph lives at HOST grain (~10⁸ rows for a full
  * crawl, not 10¹² pages). The rounds run as a co-partitioned RDD loop
  * (the same iterative-graph exception as the [[ConnectedComponents]]
  * loop): edges are hash-partitioned by src once, so each round is one
  * narrow edges ⋈ ranks join plus one map-side-combined reduceByKey(dst).
  * Mega-host in-degree skew collapses in the map-side combine —
  * contributions are longs, never strings. At cluster scale the
  * per-round vector would land in the [[graft.plans.CheckpointIO]]
  * manifest, and the loop would resume mid-run like every other stage.
  *
  * Reference anchor: the reference ranks duplicate-cluster members by a
  * fixed source-priority list to elect the keep
  * (`ViewModels/MainViewModel.cs:877-882`); host centrality is the
  * corpus-side generalization — a data-derived priority over sources.
  */
object LinkGraph {

  /** Rank fixed-point scale: 10⁹ nano-units of total mass. */
  val Scale: Long = 1000000000L

  /** Directed-edge cleanup: distinct (src, dst) pairs, nulls dropped.
    * Self-loops are kept — a host linking to itself is a valid vote and
    * the recurrence handles it like any other edge. */
  def cleanEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Exact integer PageRank after `rounds` synchronous rounds.
    *
    * Edges whose endpoints are missing from `nodes` shed their mass:
    * a src outside `nodes` never holds rank (contributes nothing), and
    * contributions into a dst outside `nodes` are dropped by the final
    * node-anchored join. Derive `nodes` from the edge list (union of
    * endpoints) when full conservation matters.
    *
    * @param nodes one string column `host` (distinct, non-null)
    * @param edges columns `src`, `dst` (deduped via [[cleanEdges]])
    * @return (host, rank_nano) — one row per node, Σ ≈ [[Scale]]
    */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      rounds: Int = 10,
      dampingPct: Int = 85): DataFrame = {
    require(rounds >= 0 && rounds <= 64, s"rounds out of range: $rounds")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct: $dampingPct")

    // Static tables are built ONCE and persisted (the former shape re-ran
    // the edge lineage — source scan + distinct — in every round, 10
    // redundant passes for a 10-round run):
    //   e       cleaned edges                  (host grain, ≤ ~10⁸ rows)
    //   deg     exact outdeg per src
    //   ed      edges with outdeg pre-attached — kills one join per round
    //   nodeTbl distinct nodes
    val e = cleanEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    val ed = e.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeTbl = nodes.select(col("host")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodeTbl.count()
    require(n > 0, "pageRank needs at least one node")
    val base = ((100L - dampingPct) * Scale / 100L) / n

    // Danglingness (no out-edges) is a STATIC per-host property: stamping
    // it on the node table once replaces the per-round ranks⊳deg
    // anti-join with a plain filter over the rank vector.
    val nodeFlag = nodeTbl
      .join(deg.select(col("src").as("host"), lit(true).as("__o")),
        Seq("host"), "left")
      .select(col("host"), col("__o").isNull.as("is_dang"))

    val spark = nodes.sparkSession

    // Co-partitioned RDD power iteration — the shape the r6 profile
    // demanded. The Catalyst formulation paid a per-round
    // planning pass plus one AQE materialization barrier PER EXCHANGE
    // (profiled: 114 jobs / 437 stages for one 10-round run, ~40% of
    // wall between jobs), and its sort-merge joins re-sorted the edge
    // table every round. Here the edge table is hash-partitioned by src
    // ONCE and every rank vector lands on the same partitioner, so each
    // round is exactly one narrow join + one reduceByKey shuffle + one
    // narrow leftOuterJoin, scheduled as a single job (the dangling-mass
    // action that separates rounds — synchronous iteration needs a
    // per-round barrier in any formulation). Arithmetic is unchanged
    // pure-integer: Long `/` on non-negative values ≡ SQL `div`, and
    // reduceByKey's map-side combine sums longs order-independently, so
    // the oracle CTE replay stays bit-exact.
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val part = new HashPartitioner(spark.sparkContext.defaultParallelism)
    val edR = ed.select(col("src"), col("dst"), col("deg")).rdd
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodeR = nodeFlag.rdd
      .map(r => (r.getString(0), r.getBoolean(1)))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = Scale / n
    var ranksR = nodeR.mapValues(isDang => (init, isDang))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev = ranksR
    val d = dampingPct.toLong
    val nn = n
    val bb = base
    for (_ <- 1 to rounds) {
      // the one action per round: the dangling scalar (materializes the
      // current vector into cache as a side effect)
      val dang = ranksR.filter(_._2._2).map(_._2._1)
        .fold(0L)(_ + _)
      val dShare = dang / nn
      val contrib = edR.join(ranksR)
        .map { case (_, ((dst, dg), (rk, _))) => (dst, rk / dg) }
        .reduceByKey(part, _ + _)
      val nextR = nodeR.leftOuterJoin(contrib)
        .mapValues { case (isDang, inflow) =>
          (bb + d * (inflow.getOrElse(0L) + dShare) / 100L, isDang)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (!(prev eq ranksR)) prev.unpersist(blocking = false)
      prev = ranksR
      ranksR = nextR
    }
    // materialize the final vector, then release everything upstream
    ranksR.count()
    if (!(prev eq ranksR)) prev.unpersist(blocking = false)
    edR.unpersist(blocking = false)
    nodeR.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    ed.unpersist(blocking = false)
    e.unpersist(blocking = false)
    nodeTbl.unpersist(blocking = false)
    spark.createDataFrame(
      ranksR.map { case (h, (rk, _)) =>
        org.apache.spark.sql.Row(h, rk)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("host",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("rank_nano",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** All quoted href values in an html string — the pragmatic regex tier
    * (the reference's extractor is regex-shaped too); a DOM parse belongs
    * in [[graft.functions.TextExtract]]'s lane, but link DISCOVERY only
    * needs the attribute values. Codegen'd, no UDF. */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit("href=[\"']([^\"']+)[\"']"), lit(1))

  /** Host part of an absolute URL ('' for relative/malformed — filtered
    * by [[hostEdges]]). */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)

  /** Crawl-frontier discovery — the loop closure a crawler runs every
    * cycle: absolute hrefs discovered in the crawled pages, canonicalized
    * ([[WebNormalize.canonUrl]]: fragment/utm drop, case-folded
    * authority), deduplicated within the batch, then anti-joined against
    * the already-crawled url set (canonicalized the same way). Returns
    * (url, n_refs) — the candidate frontier with its in-batch citation
    * count, the natural fetch-priority signal (ties broken by the
    * scheduler downstream).
    *
    * Scale shape: one explode over hrefs + a map-side-combined groupBy on
    * the canonical url + one LEFT ANTI join against the seen set. The
    * seen-set side is the standing per-epoch table (the sha-digest-table
    * argument, PLAN 21): persisted bucketed by url, read in place — per
    * cycle only the discovered-link side exchanges. Relative links are
    * out of the regex tier's scope and drop (documented; resolution
    * against a base url is a per-row string rewrite that slots in front
    * of canonUrl when needed). */
  def frontier(
      pages: DataFrame,
      seenUrls: DataFrame,
      urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    val discovered = pages
      .select(explode(extractLinks(col(htmlCol))).as("u"))
      .where(col("u").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"))
      .select(WebNormalize.canonUrl(col("u")).as("url"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_refs"))
    val seen = seenUrls
      .select(WebNormalize.canonUrl(col(urlCol)).as("url"))
      .distinct()
    discovered.join(seen, Seq("url"), "left_anti")
  }

  /** Host-grain edge list straight from raw pages: (page host → linked
    * host), relative links dropped, deduped. Feed [[pageRank]] with this
    * and the distinct-host node table for centrality end-to-end from the
    * crawl. Linear explode per page; edges dedup in the same exchange
    * the groupBy(deg) needs anyway. */
  def hostEdges(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    pages.select(hostOf(col(urlCol)).as("src"),
        explode(extractLinks(col(htmlCol))).as("u2"))
      .select(col("src"), hostOf(col("u2")).as("dst"))
      .where(col("src") =!= "" && col("dst") =!= "")
      .distinct()

  /** The `<a href>` pair pattern shared by [[anchorEdges]] and its oracle:
    * group 1 = the quoted href value, group 2 = the tag's immediate text
    * (up to the first `<` — nested markup inside an anchor is out of the
    * regex tier's scope, documented). `[^>]`/`[^<]` classes keep Java and
    * RE2 byte-agreed (no backtracking divergence). */
  val AnchorPat = "<a [^>]*href=[\"']([^\"']+)[\"'][^>]*>([^<]*)</a>"

  /** Normalized anchor text: lowercase, whitespace collapsed (explicit
    * class — Java `\s` ≠ RE2 `\s` on VT), trimmed. */
  def normAnchor(c: Column): Column =
    trim(regexp_replace(lower(c), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Host-grain anchor-text edges from raw pages: (src, dst, anchor) for
    * every absolute-target anchor tag with non-empty text. The anchor-text
    * corpus is the classic web-scale byproduct (every search engine and
    * the early web-LM corpora mined it): what OTHER pages call a url is a
    * high-precision description of it, and at host grain it is the
    * cheapest queryable summary of a site's role in the crawl.
    *
    * Scale shape: one linear explode per page (two `regexp_extract_all`
    * passes zip positionally — same match set by construction, same
    * pattern), relative targets and empty anchors drop before anything
    * shuffles. No exchange of its own; downstream rollups group on
    * (dst, anchor) — narrow strings, payload html never leaves the scan. */
  def anchorEdges(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    pages.select(hostOf(col(urlCol)).as("src"),
        explode(arrays_zip(
          regexp_extract_all(col(htmlCol), lit(AnchorPat), lit(1)).as("u2"),
          regexp_extract_all(col(htmlCol), lit(AnchorPat), lit(2)).as("t2")))
          .as("p"))
      .select(col("src"), hostOf(col("p.u2")).as("dst"),
        normAnchor(col("p.t2")).as("anchor"))
      .where(col("src") =!= "" && col("dst") =!= "" && col("anchor") =!= "")

  /** Per-target anchor rollup: total references, distinct anchor texts,
    * and the plurality anchor (most frequent; ties broken by lexicographic
    * max — `max(struct(cnt, anchor))`, deterministic). Two map-side-
    * combined groupBys on (dst, anchor) then dst; the biggest target host
    * collapses in the partial aggregation, so mega-host in-link skew never
    * concentrates rows on one reducer. */
  def anchorSummary(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(sum(col("cnt")).as("n_refs"),
        count(lit(1)).as("n_anchors"),
        max(struct(col("cnt"), col("anchor"))).as("top"))
      .select(col("dst"), col("n_refs"), col("n_anchors"),
        col("top.anchor").as("top_anchor"), col("top.cnt").as("top_cnt"))

  /** Per-host link reciprocity: of a host's distinct out-neighbors, how
    * many link back — the classic link-farm signal (organic links are
    * mostly one-way; mutual-admiration rings reciprocate almost fully,
    * cf. the link-spam literature around TrustRank, Gyöngyi et al. 2004).
    * Integer counts only (`n_out`, `n_recip`) so thresholding is the
    * caller's policy and the oracle replays exactly. Self-loops are
    * excluded (trivially reciprocal, pure noise for the signal).
    *
    * Scale shape: the edge list joins its own reverse on (src, dst) —
    * one semi-join at host grain (the graph is ~10⁸ edges for a full
    * crawl, far below page grain) — then two map-side-combined groupBys.
    * Nothing here touches page payloads. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = cleanEdges(edges).where(col("src") =!= col("dst"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.join(rev, Seq("src", "dst"), "left_semi")
    e.groupBy(col("src")).agg(count(lit(1)).as("n_out"))
      .join(recip.groupBy(col("src")).agg(count(lit(1)).as("n_recip")),
        Seq("src"), "left")
      .select(col("src").as("host"), col("n_out"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"))
  }

  /** Page-grain quality weight: join every page's host against the rank
    * table (broadcast when it fits — host tables usually do at per-crawl
    * grain after a quality cut). Pages on unranked hosts get rank 0. */
  def pageWeights(
      pages: DataFrame,
      ranks: DataFrame,
      hostCol: String = "host"): DataFrame =
    pages.join(ranks.withColumnRenamed("host", hostCol), Seq(hostCol), "left")
      .withColumn("rank_nano", coalesce(col("rank_nano"), lit(0L)))
}
