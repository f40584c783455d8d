package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.TextExtract

/** One generated page. Pages sharing `group` are planted duplicates of each
  * other; a page whose group has one member has no planted duplicate.
  * `src` is the corpus url an ingest-batch page was copied from (else null). */
final case class Doc(url: String, text: String, group: Int, src: String = null)

/** Seeded input generators. The program under test only ever sees the
  * pages (url, warc_ts, html, text, lang); the planted labels stay here. */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private var nextGroup = 0

  /** 50k pseudo-words, some multi-byte and some needing HTML escapes, so
    * background shingle overlap between unrelated pages is near zero and
    * the extractor round trip is not trivial. */
  private val vocab: Array[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val accents = "éüöçñ中界テスト"
    Array.tabulate(50000) { i =>
      val sb = new StringBuilder
      (0 until 3 + rnd.nextInt(6)).foreach { _ =>
        if (rnd.nextInt(20) == 0) sb.append(accents.charAt(rnd.nextInt(accents.length)))
        else sb.append(letters.charAt(rnd.nextInt(letters.length)))
      }
      if (i % 97 == 0) sb.append("&x")
      if (i % 131 == 0) sb.append("<y'\"")
      sb.toString
    }
  }

  private def group(): Int = { nextGroup += 1; nextGroup - 1 }
  private def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
  private def text(minW: Int, maxW: Int): String = words(minW + rnd.nextInt(maxW - minW + 1)).mkString(" ")

  /** max(1, n/100) word substitutions at distinct positions. With bases of
    * at least 80 words this keeps the 5-shingle Jaccard to the base at or
    * above 0.877, clear of the 0.8 verification threshold. */
  private def edit(base: String): String = {
    val toks = base.split(' ')
    val positions = rnd.shuffle(toks.indices.toVector).take(math.max(1, toks.length / 100))
    positions.foreach { p =>
      var w = toks(p)
      while (w == toks(p)) w = vocab(rnd.nextInt(vocab.length))
      toks(p) = w
    }
    toks.mkString(" ")
  }

  /** A passage of at least 240 characters, above the 200-char substring threshold. */
  private def passage(): String = {
    val sb = new StringBuilder(words(30).mkString(" "))
    while (sb.length < 240) sb.append(' ').append(vocab(rnd.nextInt(vocab.length)))
    sb.toString
  }

  private def singles(n: Int, minW: Int, maxW: Int): Seq[(String, Int)] =
    Seq.fill(n)((text(minW, maxW), group()))

  /** Groups of 2, 3, 4, 5, 2, ... byte-identical pages. */
  private def exactGroups(n: Int): Seq[(String, Int)] = {
    val sizes = Iterator.continually(2 to 5).flatten
    val out = Seq.newBuilder[(String, Int)]
    var left = n
    while (left >= 2) {
      val k = math.min(sizes.next(), left)
      val (t, g) = (text(50, 400), group())
      out ++= Seq.fill(k)((t, g))
      left -= k
    }
    out ++= singles(left, 50, 400)
    out.result()
  }

  private def nearGroups(n: Int): Seq[(String, Int)] =
    (0 until n / 4).flatMap { _ =>
      val (base, g) = (text(80, 400), group())
      (base, g) +: Seq.fill(3)((edit(base), g))
    } ++ singles(n % 4, 50, 400)

  private def substringPairs(n: Int): Seq[(String, Int)] =
    (0 until n / 2).flatMap { _ =>
      val (p, g) = (passage(), group())
      Seq.fill(2)((text(60, 160) + " " + p + " " + text(60, 160), g))
    } ++ singles(n % 2, 50, 400)

  /** Shorter than the pipeline's 20-char minimum: `ignored`, never clustered. */
  private def shorts(n: Int): Seq[(String, Int)] =
    Seq.fill(n)((words(2).mkString(" ").take(19).trim, group()))

  private def placed(items: Seq[(String, Int)], url: Int => String): Vector[Doc] =
    rnd.shuffle(items.toVector).zipWithIndex.map { case ((t, g), i) => Doc(url(i), t, g) }

  private def crawlUrl(i: Int): String = s"https://host${i % 7}.example/d${(i / 7) % 5}/doc$i.html"

  /** FIXTURES.md §A class mix: 40% unique, 20% exact groups of 2-5, 20%
    * near groups (base + 3 edited clones), 10% substring pairs, 5% short,
    * 5% one boilerplate page repeated. */
  def crawlMix(n: Int): Vector[Doc] = {
    val nExact = n * 20 / 100
    val nNear = n * 20 / 100
    val nSub = n * 10 / 100
    val nShort = n * 5 / 100
    val nSkew = n * 5 / 100
    val nUnique = n - nExact - nNear - nSub - nShort - nSkew
    val skew = { val (t, g) = (text(50, 400), group()); Seq.fill(nSkew)((t, g)) }
    placed(
      singles(nUnique, 50, 400) ++ exactGroups(nExact) ++
        nearGroups(nNear) ++ substringPairs(nSub) ++ shorts(nShort) ++ skew,
      crawlUrl)
  }

  /** A standing corpus of unique pages and a batch of `batch` pages:
    * 30% exact copies and 30% near copies of distinct corpus pages, 40%
    * novel. Returns (corpus, batch). */
  def ingest(corpusN: Int, batch: Int): (Vector[Doc], Vector[Doc]) = {
    val corpus = singles(corpusN, 80, 400).zipWithIndex.map { case ((t, g), i) =>
      Doc(s"https://corpus${i % 7}.example/c/doc$i.html", t, g)
    }.toVector
    val sources = rnd.shuffle(corpus).iterator
    val nExact = batch * 30 / 100
    val nNear = batch * 30 / 100
    val planted = (0 until nExact + nNear).map { i =>
      val s = sources.next()
      (if (i < nExact) s.text else edit(s.text), s.group, s.url)
    }
    val novel = singles(batch - nExact - nNear, 80, 400).map { case (t, g) => (t, g, null: String) }
    val docs = rnd.shuffle((planted ++ novel).toVector).zipWithIndex.map { case ((t, g, s), i) =>
      Doc(s"https://batch${i % 5}.example/b/doc$i.html", t, g, s)
    }
    (corpus, docs)
  }
}

object Gen {
  private val BaseEpochMs = 1767225600000L // 2026-01-01T00:00:00Z
  private val Langs = Array("en", "de", "fr")

  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** The page body the extractor contract round-trips: script and style
    * blocks dropped, tags stripped, entities decoded, whitespace collapsed. */
  def html(text: String): Array[Byte] =
    ("<html><head><title></title><style>.a{x}</style></head><body>" +
      "<script>var x=1;</script><p>  " + TextExtract.escape(text) +
      "  </p></body></html>").getBytes(UTF_8)

  /** Pages as a DataFrame over an RDD that is materialized and pinned in
    * memory. The pin sits below the SQL cache, so clearing that cache
    * between calls leaves the input in place. */
  def pin(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame = {
    val rows = docs.zipWithIndex.map { case (d, i) =>
      Row(d.url, new Timestamp(BaseEpochMs + i * 1000L), html(d.text), d.text, Langs(i % 3))
    }
    val rdd = spark.sparkContext.parallelize(rows, parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    rdd.count()
    Pins.keep(rdd.id)
    spark.createDataFrame(rdd, PageSchema)
  }

  /** A derived frame, materialized and pinned like [[pin]]. */
  def pinFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    rdd.count()
    Pins.keep(rdd.id)
    spark.createDataFrame(rdd, df.schema)
  }
}

/** The benchmark's own pinned RDDs; everything else cached by a call is
  * released after it, so no call reads a cache an earlier call left. */
object Pins {
  private val kept = scala.collection.mutable.Set.empty[Int]
  def keep(rddId: Int): Unit = kept += rddId

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true)
    }
  }
}
