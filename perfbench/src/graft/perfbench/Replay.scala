package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import graft.extract.{BlockWalker, Extractor, Links, Markdown, StructureScore}
import graft.html.{Elem, HtmlParser}
import graft.model.PageBlocks
import graft.plans.ExtractDoc

/** Single-thread driver replay of the per-row kernel over a sample of a
  * workload's own documents, timing each layer through its public entry
  * point. Each layer is a separate call on the same input, so the layers
  * are priced independently of the kernel's own control flow;
  * `extract.layer_coverage` says how much of the whole they account for. */
object Replay {
  final case class Doc(html: Array[Byte], text: String, tsUs: Long)

  private val layers = Vector("decode", "parse", "walk", "markdown", "links", "scores",
    "body_only", "extract_html", "kernel", "to_row", "unsafe_project", "pdf")

  /** `<section class="page">` containers, shallowest first, as the kernel
    * splits multi-page documents. */
  private def pageRoots(root: Elem): Vector[Elem] = {
    val out = Vector.newBuilder[Elem]
    def go(el: Elem): Unit = el.children.foreach {
      case e: Elem =>
        if (e.tag == "section" && e.attr("class").split("\\s+").contains("page")) out += e
        else go(e)
      case _ => ()
    }
    go(root)
    out.result()
  }

  /** One pass over `docs`: per doc, layer -> nanoseconds. */
  private def once(docs: Seq[Doc]): Seq[Map[String, Long]] = {
    val project = UnsafeProjection.create(ExtractDoc.schema)
    docs.map { d =>
      val t = mutable.Map[String, Long]()
      @inline def time[T](layer: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f; t(layer) = System.nanoTime() - t0; r
      }
      val result = time("kernel")(Extractor.extract(d.html, d.text, d.tsUs))
      val row = time("to_row")(ExtractDoc.toRow(result))
      time("unsafe_project")(project(row))
      if (Extractor.isPdf(d.html)) time("pdf")(graft.pdf.PdfExtract.extract(d.html, d.text, d.tsUs))
      else if (d.html.nonEmpty) {
        val s = time("decode")(new String(d.html, UTF_8))
        val dom = time("parse")(HtmlParser.parse(s))
        val body = dom.find("body").getOrElse(dom)
        val content = body.find("main").orElse(body.find("article")).getOrElse(body)
        val pages = time("walk") {
          val roots = pageRoots(content)
          if (roots.nonEmpty) roots.zipWithIndex.map { case (el, i) => PageBlocks(i + 1, BlockWalker.walk(el)) }
          else Vector(PageBlocks(1, BlockWalker.walk(content)))
        }
        time("markdown")(pages.foreach(_.blocks.foreach(Markdown.blockToMarkdown)))
        time("links") {
          Links.dedupKeepLongest(result.links)
          Links.formatHyperlinksSection(result.links, "Document")
        }
        time("scores")(StructureScore.diagramSection(StructureScore.allPages(pages)))
        time("body_only")(Extractor.extractHtml(dom, d.text, d.html.length.toLong, d.tsUs, bodyOnly = true))
        time("extract_html")(Extractor.extractHtml(dom, d.text, d.html.length.toLong, d.tsUs))
      }
      t.toMap
    }
  }

  /** Per-layer metrics: median over `rounds` timed passes, after `warm`
    * untimed ones. */
  def run(docs: Seq[Doc], warm: Int, rounds: Int): Map[String, Double] = {
    (0 until warm).foreach(_ => once(docs))
    val passes = (0 until rounds).map(_ => once(docs))
    // per doc, per layer: median across rounds
    val perDoc: IndexedSeq[Map[String, Double]] = docs.indices.map { i =>
      layers.flatMap { l =>
        val xs = passes.flatMap(_(i).get(l)).map(_.toDouble)
        if (xs.isEmpty) None else Some(l -> Stats.median(xs))
      }.toMap
    }
    def sumOf(l: String): Double = perDoc.flatMap(_.get(l)).sum
    def countOf(l: String): Int = perDoc.count(_.contains(l))
    def usPerDoc(l: String): Double = if (countOf(l) == 0) 0.0 else sumOf(l) / countOf(l) / 1e3
    val htmlDocs = perDoc.filter(_.contains("parse"))
    def htmlSum(l: String) = htmlDocs.map(_(l)).sum
    val kernelUs = perDoc.map(_("kernel") / 1e3)
    val bytes = docs.map(_.html.length.toLong).sum
    val fallback = docs.count { d =>
      val r = Extractor.extract(d.html, d.text, d.tsUs)
      r.error != null || r.spans.forall(_.kind == "fallback")
    }
    val covered = htmlSum("decode") + htmlSum("parse") + htmlSum("extract_html") + htmlSum("to_row") +
      perDoc.filter(_.contains("pdf")).map(d => d("pdf") + d("to_row")).sum
    val whole = perDoc.map(d => d("kernel") + d("to_row")).sum
    val sections = htmlDocs.map(d => d("extract_html") - d("body_only")).sum
    val n = math.max(1, htmlDocs.size)
    val children = Seq("walk", "markdown", "links", "scores").map(htmlSum).sum + sections
    Map(
      "html.utf8_decode_us_per_doc" -> usPerDoc("decode"),
      "html.parse_us_per_doc" -> usPerDoc("parse"),
      "extract.walk_us_per_doc" -> usPerDoc("walk"),
      "extract.extract_html_us_per_doc" -> usPerDoc("extract_html"),
      "extract.extract_html_self_us_per_doc" -> (htmlSum("extract_html") - children) / n / 1e3,
      "extract.sections_us_per_doc" -> sections / n / 1e3,
      "extract.markdown_us_per_doc" -> usPerDoc("markdown"),
      "extract.links_us_per_doc" -> usPerDoc("links"),
      "extract.scores_us_per_doc" -> usPerDoc("scores"),
      "extract.kernel_us_p50" -> Stats.quantile(kernelUs, 0.5),
      "extract.kernel_us_p99" -> Stats.quantile(kernelUs, 0.99),
      "extract.kernel_us_max" -> kernelUs.max,
      "extract.kernel_ns_per_byte" -> (if (bytes == 0) 0.0 else perDoc.map(_("kernel")).sum / bytes),
      "extract.fallback_share" -> fallback.toDouble / docs.size,
      "extract.layer_coverage" -> (if (whole == 0) 0.0 else covered / whole),
      "extract.replay_docs" -> docs.size.toDouble,
      "pdf.extract_us_per_doc" -> usPerDoc("pdf"),
      "plans.to_row_us_per_doc" -> usPerDoc("to_row"),
      "plans.unsafe_project_us_per_doc" -> usPerDoc("unsafe_project"))
  }
}
