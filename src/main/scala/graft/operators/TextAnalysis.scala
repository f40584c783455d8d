package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data text analysis over a document corpus: language
  * identification, quality scoring, token counting and document
  * fingerprinting. All built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs) so they fuse into the same whole-stage-codegen span as the
  * scan — these run over every document at 100 TB, the cheapest possible
  * plan shape matters more than anywhere else.
  */
object TextAnalysis {

  // ---- token counting -------------------------------------------------------

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: word pieces + standalone punctuation, the usual
    * pre-tokenizer regex shape. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  // ---- language id ----------------------------------------------------------

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "de", "que", "y", "en", "un", "una", "con"))

  /** Count of stopword hits for one language (word-boundary regex). */
  def stopwordHits(text: Column, lang: String): Column = {
    val pattern = stopwords(lang).mkString("\\b(", "|", ")\\b")
    regexp_count(lower(text), lit(pattern))
  }

  /** Count of CJK-unified-ideograph codepoints — Chinese (and kanji-heavy
    * Japanese) text carries no whitespace-delimited stopwords at all, so a
    * script-ratio rule is the only codepoint-level signal available. */
  def cjkHits(text: Column): Column =
    regexp_count(text, lit("[\\u4e00-\\u9fff]"))

  /** Stopword/script heuristic language id: CJK codepoints present → "zh";
    * otherwise the language with the most stopword hits (ties broken by
    * language code order), or "und" (undetermined) when nothing matches. */
  def langId(text: Column): Column = {
    val hits = stopwords.keys.toSeq.sorted.map(l => (l, stopwordHits(text, l)))
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldLeft(
      when(cjkHits(text) > 0, lit("zh")).when(best === 0, lit("und"))) {
      case (acc, (l, h)) => acc.when(h === best, lit(l))
    }.otherwise(lit("und"))
  }

  // ---- quality scoring ------------------------------------------------------

  /** Heuristic quality features + a [0,1] score: length band, punctuation
    * ratio, mean word length, digit ratio. */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    val len = length(text).cast("double")
    val words = tokenCountWs(text).cast("double")
    val punct = regexp_count(text, lit("[.,;:!?]")).cast("double")
    val digits = regexp_count(text, lit("[0-9]")).cast("double")
    df
      .withColumn("q_len", len)
      .withColumn("q_words", words)
      .withColumn("q_mean_word_len", when(words > 0, (len - (words - 1)) / words).otherwise(lit(0.0)))
      .withColumn("q_punct_ratio", when(len > 0, punct / len).otherwise(lit(0.0)))
      .withColumn("q_digit_ratio", when(len > 0, digits / len).otherwise(lit(0.0)))
      .withColumn(
        "quality",
        // each factor in [0,1]; product penalizes any bad dimension
        least(col("q_len") / 200.0, lit(1.0)) *
          (lit(1.0) - least(col("q_punct_ratio") * 5.0, lit(1.0))) *
          (lit(1.0) - least(col("q_digit_ratio") * 5.0, lit(1.0))) *
          when(col("q_mean_word_len").between(3.0, 12.0), 1.0).otherwise(0.5))
  }

  // ---- repetition -----------------------------------------------------------

  /** Gopher-style repetition signal: per document, the occurrence fraction
    * of its most frequent word bigram (machine-generated/boilerplate text
    * repeats short n-grams far above natural prose; Gopher filters docs
    * whose top 2-gram covers too much of the text). Distributed shape:
    * explode bigrams → two partially-aggregated groupBys — linear in corpus
    * size, never the O(words²) per-row higher-order alternative. Docs with
    * fewer than two words report 0.0. */
  def topBigramFraction(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val b = docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(
        col(idCol),
        explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
          .as("bg"))
    val top = b
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(max(col("cnt")).as("top"), sum(col("cnt")).as("nb"))
    docs.select(col(idCol)).join(top, Seq(idCol), "left")
      .select(
        col(idCol),
        round(
          coalesce(col("top"), lit(0L)).cast("double") /
            greatest(coalesce(col("nb"), lit(1L)), lit(1L)),
          9).as("top_bigram_frac"))
  }

  /** The FULL Gopher repetition suite (Rae et al. 2021 §A1.1) — the
    * signals real pipelines gate on, beyond [[topBigramFraction]]'s single
    * top-2-gram number: per document,
    *
    *   - `dup_line_frac` / `dup_para_frac`: fraction of lines (paragraphs)
    *     that are repeats of an earlier identical line (occurrences beyond
    *     the first, over total);
    *   - `dup_line_char_frac` / `dup_para_char_frac`: the characters those
    *     repeated occurrences cover, over the summed unit characters;
    *   - `top_{2,3,4}gram_char_frac`: characters covered by the most
    *     frequent word n-gram (count × gram length over text length);
    *   - `dup_{2,3,4}gram_char_frac`: characters covered by occurrences
    *     beyond the first of every duplicated word n-gram, over text
    *     length (the standard non-overlap-corrected form).
    *
    * Scale shape — rewritten in r6 as a ZERO-EXCHANGE projection: every
    * emitted number is a per-document statistic, so instead of five
    * explode→groupBy families shuffling (id, hash, len) rows, each
    * document computes run-length stats over its own sorted unit/gram
    * arrays in one pass (the [[SubstringDup.mergeSpans]] sorted-fold
    * precedent). All counts are exact integers and the two divisions are
    * unchanged, so the emitted fractions are bit-identical to the
    * aggregation formulation and the DuckDB oracle (which groups by the
    * strings themselves) agrees exactly. Text never leaves the scan —
    * there is no shuffle at all. */
  def gopherRepetition(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val id = col(idCol)

    // run-length fold over a sorted unit array:
    // (n_distinct, dup_chars, tot_chars) in one pass
    def unitAcc(units: Column): Column =
      aggregate(
        array_sort(units),
        struct(lit(null).cast("string").as("prev"), lit(0L).as("nd"),
          lit(0L).as("dup"), lit(0L).as("tot")),
        (acc, u) => {
          val same =
            acc.getField("prev").isNotNull && u === acc.getField("prev")
          struct(
            u.as("prev"),
            (acc.getField("nd") + when(same, lit(0L)).otherwise(lit(1L)))
              .as("nd"),
            (acc.getField("dup") +
              when(same, length(u).cast("long")).otherwise(lit(0L))).as("dup"),
            (acc.getField("tot") + length(u).cast("long")).as("tot"))
        })

    // run-length fold over the sorted n-gram array: the top gram by
    // (count, length) — the max_by(gl, struct(cnt, gl)) election — plus
    // duplicated-occurrence characters, in one pass
    def gramAcc(n: Int): Column = {
      val w = split(col("__t"), " ")
      val gs = when(size(w) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), size(w) - n),
          i => array_join(slice(w, i + 1, lit(n)), " ")))
      aggregate(
        array_sort(gs),
        struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
          lit(0L).as("bc"), lit(0L).as("bg"), lit(0L).as("dup")),
        (acc, x) => {
          val same =
            acc.getField("prev").isNotNull && x === acc.getField("prev")
          val run2 = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
          val gl = length(x).cast("long")
          val better = struct(run2.as("c"), gl.as("g")) >
            struct(acc.getField("bc").as("c"), acc.getField("bg").as("g"))
          struct(
            x.as("prev"), run2.as("run"),
            when(better, run2).otherwise(acc.getField("bc")).as("bc"),
            when(better, gl).otherwise(acc.getField("bg")).as("bg"),
            (acc.getField("dup") + when(same, gl).otherwise(lit(0L)))
              .as("dup"))
        })
    }

    def q(sep: String): String = java.util.regex.Pattern.quote(sep)
    val folded = docs
      .select(id, col(textCol).as("__t"))
      .withColumn("__len", length(col("__t")).cast("double"))
      .withColumn("__nl", size(split(col("__t"), q("\n"))).cast("long"))
      .withColumn("__np", size(split(col("__t"), q("\n\n"))).cast("long"))
      .withColumn("__l", unitAcc(split(col("__t"), q("\n"))))
      .withColumn("__p", unitAcc(split(col("__t"), q("\n\n"))))
      .withColumn("__g2", gramAcc(2))
      .withColumn("__g3", gramAcc(3))
      .withColumn("__g4", gramAcc(4))

    def unitFracs(acc: String, nUnits: String, pfx: String): Seq[Column] = Seq(
      round((col(nUnits) - col(s"$acc.nd")).cast("double") / col(nUnits), 6)
        .as(s"dup_${pfx}_frac"),
      when(col(s"$acc.tot") === 0, lit(0.0))
        .otherwise(
          round(col(s"$acc.dup").cast("double") / col(s"$acc.tot"), 6))
        .as(s"dup_${pfx}_char_frac"))
    def gfrac(c: Column, name: String): Column =
      when(col("__len") === 0, lit(0.0))
        .otherwise(round(c.cast("double") / col("__len"), 6)).as(name)

    folded.select(
      Seq(id) ++
        unitFracs("__l", "__nl", "line") ++
        unitFracs("__p", "__np", "para") ++
        Seq(
          gfrac(col("__g2.bc") * col("__g2.bg"), "top_2gram_char_frac"),
          gfrac(col("__g3.bc") * col("__g3.bg"), "top_3gram_char_frac"),
          gfrac(col("__g4.bc") * col("__g4.bg"), "top_4gram_char_frac"),
          gfrac(col("__g2.dup"), "dup_2gram_char_frac"),
          gfrac(col("__g3.dup"), "dup_3gram_char_frac"),
          gfrac(col("__g4.dup"), "dup_4gram_char_frac")): _*)
  }

  // ---- corpus-level novelty --------------------------------------------------

  /** Per-doc n-gram NOVELTY: (id, n_grams, n_novel, novel_frac) where
    * n_grams counts the doc's DISTINCT word n-grams and n_novel those
    * occurring in NO other document — the inverse-side composition signal
    * to [[SubstringDup.dupMassFilter]]'s duplicated-character fraction
    * (that one asks "how much of this doc is copied?", this one "how much
    * of this doc exists nowhere else?"); low novelty marks boilerplate
    * and template mass even below the dedup thresholds. Gramless docs
    * (< n words) emit novel_frac 1.0 — vacuously novel.
    *
    * Shape at 100 TB: the doc-frequency table is counted over per-doc
    * DISTINCT gram hashes (8 B/gram via [[Decontaminate.gramHashes]] —
    * text never leaves the scan), then one gram-keyed join back and a
    * per-doc count — three narrow shuffles, the same linear silhouette as
    * [[LineDedup]]'s corpus strip with grams for lines. Counts are exact
    * integers; the one division rounds identically on any engine. */
  def noveltyFrac(
      docs: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(
      col(idCol),
      explode(array_distinct(Decontaminate.gramHashes(col(textCol), n)))
        .as("g"))
    val docFreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val perDoc = grams
      .join(docFreq, Seq("g"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_novel"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(1.0))
          .otherwise(round(
            coalesce(col("n_novel"), lit(0L)).cast("double") /
              col("n_grams"), 6)).as("novel_frac"))
  }

  // ---- corpus vocabulary ----------------------------------------------------

  /** Corpus vocabulary head: the k most frequent whitespace tokens with
    * their occurrence (tf) and document (df) counts — the statistics pass
    * every tokenizer-training pipeline runs before BPE/unigram fitting,
    * and the sanity table a datacard quotes. df counts documents via the
    * caller's id column. Deterministic: ties in tf break toward the
    * lexicographically smaller token, so reruns and the oracle agree
    * row-for-row.
    *
    * Shape at 100 TB: one map-side-combining groupBy over (token) —
    * partials collapse each task to its distinct-token count — then a
    * TakeOrdered(k) instead of any global sort; text never leaves the
    * scan (tokens do, which is inherent to counting them). */
  def vocabTopK(
      docs: DataFrame,
      k: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tok = docs.select(
      col(idCol).as("__d"),
      explode(filter(split(col(textCol), "[ \\t\\n\\f\\r]+"),
        w => w =!= "")).as("token"))
    tok.groupBy(col("token"))
      .agg(
        count(lit(1)).as("tf"),
        count_distinct(col("__d")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(k)
  }

  /** Vocabulary coverage curve: for each rank r ≤ k of the tf-ordered
    * vocabulary head, the cumulative share of the corpus TOKEN STREAM the
    * top-r types cover — the statistic a tokenizer-budget decision reads
    * ("the top 32k types cover 97.3 % of occurrences; the tail is OOV").
    * Emits (rank, token, tf, cum_tf, total_tf, cum_permille) with
    * `cum_permille = ⌊1000·cum_tf/total_tf⌋` in pure integer arithmetic so
    * the DuckDB oracle replays it bit-for-bit. Ties order (tf DESC, token
    * ASC) like [[vocabTopK]], deterministic.
    *
    * Scale shape: one map-side-combined token groupBy (the same exchange
    * [[vocabTopK]] pays), a scalar sum for the total stream mass, and a
    * TakeOrdered(k) head. The ONLY window runs over the k-row head after
    * the limit — bounded by construction at any corpus size — and the
    * 1-row total joins back by broadcast. Text never leaves the scan. */
  def vocabCoverage(
      docs: DataFrame,
      k: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(
        explode(filter(split(col(textCol), "[ \\t\\n\\f\\r]+"),
          w => w =!= "")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("total_tf"))
    val head = counts.orderBy(col("tf").desc, col("token")).limit(k)
    val w = Window.orderBy(col("tf").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    head
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tf", sum(col("tf")).over(w))
      .crossJoin(broadcast(total))
      .withColumn("cum_permille",
        expr("(cum_tf * 1000L) div total_tf"))
      .select(col("rank"), col("token"), col("tf"), col("cum_tf"),
        col("total_tf"), col("cum_permille"))
  }

  /** Top-k DISTINCTIVE terms per document by tf·idf — the per-doc keyword
    * table a corpus datacard and topic-mix audit read (what is this page
    * about, without a topic model). idf is quantized to integer micro-nats
    * (the [[NgramLm]] discipline): `idf_micro = round((ln N − ln df)·10⁶)`
    * and `score_micro = tf · idf_micro`, so ranking is pure integer
    * arithmetic and the DuckDB oracle recomputes it bit-identically —
    * no IEEE accumulation order can leak in. Ties break (score DESC,
    * token ASC), deterministic.
    *
    * Scale shape: one explode → map-side-combined groupBy (doc, token)
    * for tf; token-grain groupBy for df (corpus-bounded, broadcastable
    * after hapax pruning at real scale); one join on token; per-doc top-k
    * as a rank window — Spark plans WindowGroupLimit, so each map task
    * forwards at most k rows per doc into the exchange. Document text
    * never shuffles; N is one count job like [[LinkGraph.pageRank]]'s. */
  def tfidfTopTerms(
      docs: DataFrame,
      k: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val n = docs.select(col(idCol)).distinct().count()
    require(n > 0, "tfidfTopTerms needs at least one document")
    val tok = docs.select(
      col(idCol).as("__d"),
      explode(filter(split(col(textCol), "[ \\t\\n\\f\\r]+"),
        w => w =!= "")).as("token"))
    val tf = tok.groupBy(col("__d"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "token")
      .withColumn("idf_micro",
        round((log(lit(n.toDouble)) - log(col("df"))) * 1000000d)
          .cast("long"))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
    val w = Window.partitionBy(col("__d"))
      .orderBy(col("score_micro").desc, col("token"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("__d").as(idCol), col("token"), col("tf"), col("df"),
        col("score_micro"), col("rk"))
  }

  // ---- fingerprinting -------------------------------------------------------

  /** Oracle-friendly content fingerprint: first 16 hex chars of md5 —
    * expressible identically in DuckDB for the correctness gate. */
  def fingerprintHex(text: Column): Column = substring(md5(text), 1, 16)
}
