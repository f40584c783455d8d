package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed word-trigram language model with Stupid Backoff (Brants
  * et al. 2007, EMNLP — "Large Language Models in Machine Translation").
  * Stupid Backoff exists BECAUSE of this setting: it scores with raw
  * counts only,
  * {{{
  *   S(w | a b) = c(a b w)/c(a b)        if c(a b w) > 0
  *              = 0.4 · S(w | b)         otherwise
  *   S(w | b)   = c(b w)/c(b)            if c(b w) > 0
  *              = 0.4 · S(w)             otherwise
  *   S(w)       = (c(w) + 1)/(T + V)     (smoothed unigram base)
  * }}}
  * so training is NOTHING but n-gram counting — no normalization
  * statistics, no discount estimation, no second pass. Brants et al.
  * trained it on 2×10¹² tokens with exactly this shape; it is the LM a
  * 100 TB curation pipeline can actually afford, where Kneser-Ney is not.
  *
  * Scale shape: training = one explode per order + map-side-combined
  * groupBy on the gram string (`minCount` prunes hapax grams, the same
  * cap CCNet applies); scoring = explode the doc's trigram positions and
  * LEFT JOIN the three count tables on their gram keys — (id, gram) rows
  * flow, document text never shuffles, and each join is a plain shuffle
  * join at web scale (broadcast when the pruned model fits). Per-doc
  * reduction is an integer SUM.
  *
  * Exactness discipline (the [[Dsir]] precedent): every per-position
  * log-score is quantized to integer micro-nats — round(ln(·)·10⁶) —
  * and the doc score is the order-independent integer sum of positions,
  * so the DuckDB oracle retrains and rescores bit-identically. The
  * backoff factor enters as ln(0.4) inside the same rounding.
  *
  * Reference anchor: like [[Perplexity]], model-based gating decides what
  * enters dedup the way the reference's pre-filters decide which files
  * enter comparison (`ViewModels/MainViewModel.cs:1056-1076`); this is
  * the trained-at-scale variant of that gate.
  */
object NgramLm {

  /** Backoff log-penalty in micro-nats: round(ln(0.4)·10⁶). */
  val BackoffMicro: Long = math.round(math.log(0.4) * 1000000L)

  private def tokens(text: Column): Column =
    filter(split(lower(text), "[ \\t\\n\\f\\r]+"), w => w =!= "")

  /** Word n-grams of `text` joined by single spaces (empty below n). */
  def wordGrams(text: Column, n: Int): Column = {
    val ws = tokens(text)
    val cnt = size(ws)
    when(cnt < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), cnt - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " ")))
  }

  /** The trained model: the order-tagged pruned count table (n, gram,
    * cnt) — the single join target [[score]] probes — plus the two corpus
    * scalars the unigram base needs (T tokens, V distinct words). The
    * per-order views c1/c2/c3 remain as filters of `tagged` for callers
    * that want one order (lazy; no cost unless consumed). */
  final case class Model(c1: DataFrame, c2: DataFrame, c3: DataFrame,
      totals: DataFrame, tagged: DataFrame)

  def train(train: DataFrame, textCol: String = "text",
      minCount: Long = 0L): Model = {
    // ONE pass over the training text for all three orders: the former
    // shape exploded the slice three times (three scans, three
    // exchanges); tagging each gram with its order folds them into a
    // single map-side-combined groupBy whose persisted count table the
    // three order tables (and both corpus scalars) filter for free.
    // T = Σ pre-prune 1-gram counts ≡ total token instances; V counts
    // the pruned vocab exactly as before — both scalars in ONE aggregate
    // pass over the n=1 slice (they were two jobs feeding a crossJoin).
    val all = train
      .select(explode(concat(
        transform(tokens(col(textCol)),
          w => struct(lit(1).as("n"), w.as("gram"))),
        transform(wordGrams(col(textCol), 2),
          g => struct(lit(2).as("n"), g.as("gram"))),
        transform(wordGrams(col(textCol), 3),
          g => struct(lit(3).as("n"), g.as("gram"))))).as("g"))
      .groupBy(col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def order(n: Int): DataFrame = all
      .where(col("n") === n && col("cnt") >= minCount)
      .select(col("gram"), col("cnt"))
    val totals = all.where(col("n") === 1)
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("t_tokens"),
        count(when(col("cnt") >= minCount, 1)).as("v_words"))
    Model(
      c1 = order(1),
      c2 = order(2),
      c3 = order(3),
      totals = totals,
      tagged = all.where(col("cnt") >= minCount))
  }

  /** Per-position micro-nat score under Stupid Backoff, as a Column over
    * the joined count columns (all nullable longs). */
  private def positionScore(
      c3: Column, ctx2: Column, c2: Column, ctx1: Column,
      c1: Column, t: Column, v: Column): Column = {
    val uni = round((log(coalesce(c1, lit(0L)) + lit(1L)) -
      log(t + v)) * 1000000L).cast("long")
    when(c3.isNotNull && ctx2.isNotNull,
      round((log(c3) - log(ctx2)) * 1000000L).cast("long"))
      .when(c2.isNotNull && ctx1.isNotNull,
        lit(BackoffMicro) +
          round((log(c2) - log(ctx1)) * 1000000L).cast("long"))
      .otherwise(lit(2L * BackoffMicro) + uni)
  }

  /** Scores (idCol, n_scored, lm_micro, avg_micro) for every doc: the
    * integer sum of per-trigram-position micro-nat scores (positions =
    * token index 3..len; docs shorter than 3 tokens score 0 over 0
    * positions). avg_micro = lm_micro div n_scored — higher (closer to
    * zero) means more like the training slice. */
  def score(docs: DataFrame, model: Model, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    // A position's score depends on its trigram ALONE — all five probe
    // keys are substrings of g3 — so the per-position stream collapses to
    // per-doc (g3, multiplicity) BEFORE any model join (guide §2.3
    // "aggregate before you shuffle"), and the five count lookups plus
    // both log() calls run once per DISTINCT corpus trigram instead of
    // once per token position. lm_micro = Σ k·s(g3) over exact longs ≡
    // the former per-position integer sum; n_scored = Σ k.
    val pos = docs
      .select(id, tokens(col(textCol)).as("__ws"))
      .where(size(col("__ws")) >= 3)
      .select(id, explode(transform(
        sequence(lit(1), size(col("__ws")) - 2),
        i => array_join(slice(col("__ws"), i, lit(3)), " "))).as("g3"))
    val perDoc = pos.groupBy(id, col("g3")).agg(count(lit(1)).as("k"))
    // The four context/backoff keys re-derive from g3 by single-space
    // splits (tokens are whitespace-free by construction). The five model
    // lookups run as ONE join: each distinct trigram explodes into its
    // five (order, key) probes tagged by role, probes join the
    // order-tagged count table once, and a groupBy(g3) pivots the five
    // roles back into columns. The former five sequential left joins cost
    // five broadcast builds at fixture scale and, at model sizes past
    // broadcast, five sequential shuffles of the widening gram row; this
    // shape pays one probe exchange (the model side arrives already
    // hash-partitioned by (n, gram) from its own groupBy) plus one narrow
    // pivot. Each (g3, role) pair occurs exactly once, so max(when)
    // selects the single matched count — null when unmatched, exactly the
    // left-join semantics the score branches key on.
    val probes = perDoc.select(col("g3")).distinct()
      .select(col("g3"), explode(array(
        struct(lit(1).as("r"), lit(1).as("n"),
          substring_index(substring_index(col("g3"), " ", -2), " ", 1)
            .as("k")),
        struct(lit(2).as("r"), lit(1).as("n"),
          substring_index(col("g3"), " ", -1).as("k")),
        struct(lit(3).as("r"), lit(2).as("n"),
          substring_index(col("g3"), " ", 2).as("k")),
        struct(lit(4).as("r"), lit(2).as("n"),
          substring_index(col("g3"), " ", -2).as("k")),
        struct(lit(5).as("r"), lit(3).as("n"), col("g3").as("k"))))
        .as("p"))
      .select(col("g3"), col("p.r").as("r"), col("p.n").as("n"),
        col("p.k").as("k"))
    val gramScore = probes
      .join(
        model.tagged.select(
          col("n"), col("gram").as("k"), col("cnt")),
        Seq("n", "k"), "left")
      .groupBy(col("g3"))
      .agg(
        max(when(col("r") === 5, col("cnt"))).as("n3"),
        max(when(col("r") === 3, col("cnt"))).as("x2"),
        max(when(col("r") === 4, col("cnt"))).as("n2"),
        max(when(col("r") === 1, col("cnt"))).as("x1"),
        max(when(col("r") === 2, col("cnt"))).as("n1"))
      .crossJoin(broadcast(model.totals))
      .select(col("g3"), positionScore(col("n3"), col("x2"), col("n2"),
        col("x1"), col("n1"), col("t_tokens"), col("v_words")).as("s"))
    val scored = perDoc
      .join(gramScore, Seq("g3"))
      .groupBy(id)
      .agg(sum(col("k")).as("n_scored"),
        sum(col("s") * col("k")).as("lm_micro"))
    docs.select(id).distinct()
      .join(scored, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("lm_micro"), lit(0L)).as("lm_micro"))
      // lm_micro ≤ 0 always (every branch is a log of a probability);
      // divide by positive magnitude so the semantics are engine-
      // unambiguous: Spark `div`/Scala `/` truncate toward zero while
      // DuckDB `//` floors — on the negated positive value all agree
      .withColumn("avg_micro",
        when(col("n_scored") > 0, -expr("(-lm_micro) div n_scored"))
          .otherwise(lit(0L)))
  }
}
