package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Seeded inputs. crawl_small's pages come from the vendored `documents`
  * table; long_articles' pages from a generator. Every byte is a pure
  * function of the seed and the input rows: no wall clock, no
  * java.util.Random, no host state. */
object Gen {

  /** splitmix64: one 64-bit stream per (seed, stream id). */
  final class Rng(seed: Long) {
    private var s: Long = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def int(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
    def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
    def double(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
  }

  def rng(seed: Long, stream: Long): Rng = new Rng(seed * 0x632be59bd9b4e019L + stream)

  /** A Fisher-Yates permutation of 0 until n drawn from `r`. */
  def permutation(n: Int, r: Rng): Array[Int] = {
    val a = Array.range(0, n)
    for (k <- a.indices.reverse) { val m = r.int(k + 1); val x = a(k); a(k) = a(m); a(m) = x }
    a
  }

  /** The 31 words the `documents` table's text is drawn from. */
  val vocab: IndexedSeq[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")

  /** Offset added to every doc id of a seed. A multiple of 10 * 17 keeps
    * Synth's variant mix (id % 10) and PDF share (id % 17) identical
    * across seeds; the hot-domain draw is per-id hashing. */
  def docIdBase(seed: Long): Long = java.lang.Math.floorMod(seed, 4096L) * 170000L

  /** crawl_small's pages: `Synth.pageFor` over every row of the
    * `documents` parquet at `documents`, each doc id shifted by
    * [[docIdBase]], as `parts` files. */
  def writeSmallPages(spark: SparkSession, documents: String, out: String, seed: Long,
      parts: Int): Unit = {
    val base = docIdBase(seed)
    val docs = spark.read.parquet(documents).select("doc_id", "text", "lang").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val rdd = spark.sparkContext.parallelize(docs.toSeq, parts).map { case (id, text, lang) =>
      val p = graft.synth.Synth.pageFor(id + base, text, lang)
      Row(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
    spark.createDataFrame(rdd, pagesSchema).write.parquet(out)
  }

  // ---- long articles -------------------------------------------------------

  val longBaseEpochSec: Long = 1704067200L // 2024-01-01T00:00:00Z
  val longTsStepSec: Long = 600L

  private val sections = Vector("world", "science", "economy", "tech", "culture", "sport")
  private val entityWords = Vector("caf&eacute;", "na&iuml;ve", "&laquo;quoted&raquo;",
    "5&nbsp;km", "&euro;12", "&copy;&nbsp;2024", "&#8220;smart&#8221;", "&#x2014;",
    "&mdash;", "&hellip;", "R&D", "AT&T", "Q&A", "M&S", "fish & chips", "&amp;")
  private val words = vocab ++ Vector("report", "analysis", "market", "growth",
    "policy", "energy", "research", "climate", "city", "people", "system",
    "network", "model", "survey", "result", "budget", "election", "health")

  /** Documents of a long_articles corpus, and the groups of consecutive
    * documents its shapes are dealt over. */
  val longDocs = 80
  val longGroups = 16

  /** (target bytes, div depth) of long-article doc `i` of `seed`. Every
    * seed has the same `longDocs` shapes — the rank quantiles of a
    * log-uniform 10-200 KB size, each paired with a fixed depth rank of a
    * log-uniform 10-600 depth — so seeds differ in content and order, not
    * in the work they hold. The sizes are dealt in a seeded snake order
    * over the groups of `longDocs / longGroups` consecutive docs (the
    * input files and warc_ts buckets), one size from each size band per
    * group, so every group holds about the same bytes. */
  def longShape(seed: Long, i: Int): (Int, Int) = {
    val per = longDocs / longGroups
    val (g, j) = (i / per, i % per)
    val slot = permutation(longGroups, rng(seed, 2001))(g)
    val band = permutation(per, rng(seed, 3001L + g))(j)
    val rank = band * longGroups + (if (band % 2 == 0) slot else longGroups - 1 - slot)
    def logQuantile(lo: Int, hi: Int, r: Int): Int =
      math.exp(math.log(lo) + (r + 0.5) / longDocs * (math.log(hi) - math.log(lo))).toInt
    (logQuantile(10 * 1024, 200 * 1024, rank), logQuantile(10, 600, (rank * 37 + 11) % longDocs))
  }

  /** (url, warc_ts, html, text, lang) for long-article doc `i` of `seed`:
    * 10-200 KB, nested `div` depth 10-600, link-dense nav, tables, lists,
    * entity-rich text and raw `&` in text and query strings. */
  def longArticle(seed: Long, i: Int): Row = {
    val id = docIdBase(seed) + i
    val r = rng(seed, 1000003L + id)
    val (targetBytes, depth) = longShape(seed, i)
    val lang = r.pick(langs)
    val section = r.pick(sections)
    val host = s"news-${r.int(40)}.example.com"
    val url = s"https://$host/$section/${2024 + (id % 3)}/article-$id"
    def sentence(n: Int): String = {
      val sb = new StringBuilder
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        val w = if (r.int(9) == 0) r.pick(entityWords) else r.pick(words)
        sb.append(if (k == 0) w.capitalize else w)
        k += 1
      }
      sb.append('.').toString
    }
    def href(): String = r.int(4) match {
      case 0 => s"/$section/story-${r.int(5000)}?a=${r.int(9)}&b=${r.int(99)}&ref=nav"
      case 1 => s"https://$host/tag/${r.pick(words)}?page=${r.int(20)}&sort=new"
      case 2 => s"www.partner-${r.int(300)}.org/item/${r.int(1000)}"
      case _ => s"https://ext-${r.int(900)}.example.org/p/${r.int(10000)}"
    }
    val html = new StringBuilder(targetBytes + 4096)
    val plain = new StringBuilder
    val title = sentence(r.between(4, 9)).dropRight(1)
    html.append("<!DOCTYPE html>\n<html lang=\"").append(lang).append("\"><head><meta charset=\"utf-8\">")
    html.append("<title>").append(title).append("</title>")
    html.append("<meta name=\"author\" content=\"Staff Writer ").append(id % 61).append("\">")
    html.append("<meta name=\"description\" content=\"").append(sentence(12).replace("\"", "")).append("\">")
    html.append("<meta property=\"article:published_time\" content=\"2024-0")
      .append(id % 9 + 1).append("-1").append(id % 10).append("T08:00:00+00:00\">")
    html.append("<meta property=\"article:section\" content=\"").append(section).append("\">")
    html.append("<style>.wrap{margin:0 auto}</style><script>var cfg={a:1,b:[2,3]};</script>")
    html.append("</head><body>\n<header class=\"site-header\"><nav class=\"main-nav\"><ul>")
    val navLinks = r.between(30, 200)
    var k = 0
    while (k < navLinks) {
      html.append("<li><a href=\"").append(href()).append("\">").append(r.pick(words).capitalize).append("</a></li>")
      k += 1
    }
    html.append("</ul></nav></header>\n")
    // nested wrappers; a few short asides hang off intermediate levels
    var d = 0
    while (d < depth) {
      html.append("<div class=\"wrap l").append(d % 7).append("\">")
      if (d % 97 == 50) html.append("<div class=\"sidebar\"><a href=\"").append(href())
        .append("\">Related</a></div>")
      d += 1
    }
    html.append("<article><h1>").append(title).append("</h1>\n")
    plain.append(title).append('\n')
    while (html.length < targetBytes) {
      r.int(14) match {
        case 0 =>
          html.append("<h2>").append(sentence(r.between(3, 7)).dropRight(1)).append("</h2>\n")
        case 1 =>
          html.append("<table><tr><th>Item</th><th>Q1</th><th>Q2</th><th>Note</th></tr>")
          var row = r.between(3, 12)
          while (row > 0) {
            html.append("<tr><td>").append(r.pick(words)).append("</td><td>").append(r.int(1000))
              .append("</td><td>").append(r.int(1000)).append("</td><td>").append(r.pick(entityWords))
              .append(" | ").append(r.pick(words)).append("</td></tr>")
            row -= 1
          }
          html.append("</table>\n")
        case 2 =>
          html.append("<ul>")
          var li = r.between(3, 9)
          while (li > 0) {
            html.append("<li>").append(sentence(r.between(3, 10)))
            if (li == 2) html.append("<ul><li>").append(sentence(4)).append("</li></ul>")
            html.append("</li>")
            li -= 1
          }
          html.append("</ul>\n")
        case 3 =>
          html.append("<p>Read more: <a href=\"").append(href()).append("\">")
            .append(sentence(r.between(2, 5))).append("</a> and <a href=\"")
            .append(href()).append("\">").append(r.pick(words)).append("</a></p>\n")
        case _ =>
          val s = sentence(r.between(20, 70))
          html.append("<p>").append(s.substring(0, s.length / 2)).append(" <b>")
            .append(r.pick(words)).append("</b> ").append(s.substring(s.length / 2))
            .append(" <a href=\"").append(href()).append("\">").append(r.pick(words))
            .append("</a></p>\n")
          if (plain.length < 2048) plain.append(s).append('\n')
      }
    }
    html.append("</article>")
    d = 0
    while (d < depth) { html.append("</div>"); d += 1 }
    html.append("\n<footer class=\"site-footer\"><a href=\"/privacy\">Privacy</a> <a href=\"/terms?x=1&y=2\">Terms</a> &copy; news</footer>")
    html.append("</body></html>\n")
    Row(url, new Timestamp((longBaseEpochSec + i * longTsStepSec) * 1000L),
      html.toString.getBytes(UTF_8), plain.toString, lang)
  }

  val pagesSchema: StructType = graft.sources.PagesDataSource.pagesSchema

  /** The `longDocs` long articles of `seed`, one file per group of [[longShape]]. */
  def writeLongArticles(spark: SparkSession, out: String, seed: Long): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until longDocs, longGroups).map(i => longArticle(seed, i))
    spark.createDataFrame(rdd, pagesSchema).write.parquet(out)
  }
}
