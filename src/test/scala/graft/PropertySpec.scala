package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.extract.{Extractor, StructureScore}
import graft.html.{Elem, Entities, HtmlParser, Node, TextNode}

/** Property tests (SURVEY.md §5): the extractor is total, deterministic,
  * and its spans always form a sorted, non-overlapping index into the
  * extracted text — for arbitrary (including hostile) input.
  * (The scalatestplus bridge isn't in the offline cache, so samples are
  * drawn with raw ScalaCheck generators from a fixed seed.)
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministically sample `n` values from `gen` and assert `f` on each. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    var drawn = 0
    while (drawn < n && i < n * 3) { // some draws may fail; bound retries
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => f(a); drawn += 1
        case None    => ()
      }
      seed = seed.next
      i += 1
    }
    assert(drawn >= n / 2, s"generator too sparse: $drawn/$n samples")
  }

  private val tagNames = Gen.oneOf("p", "div", "b", "i", "a", "ul", "li",
    "table", "tr", "td", "h1", "h2", "h3", "span", "nav", "footer", "img",
    "br", "section", "pre", "blockquote", "script", "style")
  private val word = Gen.oneOf("alpha", "beta", "gamma", "x", "the quick",
    "&amp;", "&#65;", "&unknown;", "a|b", "• bullet", "UPPER", "")

  /** Random well-formed-ish fragments plus raw noise spliced in. */
  private val htmlGen: Gen[String] = {
    def node(depth: Int): Gen[String] =
      if (depth <= 0) word
      else Gen.frequency(
        3 -> word,
        1 -> Gen.const("<"), 1 -> Gen.const(">"), 1 -> Gen.const("</nope>"),
        1 -> Gen.const("<!-- c -->"), 1 -> Gen.const("<![CDATA[x]]>"),
        4 -> (for {
          t <- tagNames
          kids <- Gen.listOfN(3, node(depth - 1))
          href <- Gen.oneOf("", " href=\"www.x.com\"", " href=y", " class=\"nav\"",
            " alt=\"Some meaningful alt text\"")
        } yield s"<$t$href>${kids.mkString(" ")}</$t>"))
    Gen.listOfN(6, node(3)).map(parts => s"<body>${parts.mkString}</body>")
  }

  test("parser is total on arbitrary bytes") {
    forAll(Gen.asciiStr) { s => HtmlParser.parse(s); succeed }
  }

  test("extract is total and deterministic on generated HTML") {
    forAll(htmlGen) { html =>
      val bytes = html.getBytes("UTF-8")
      val a = Extractor.extract(bytes, "fb")
      val b = Extractor.extract(bytes, "fb")
      assert(a == b)
    }
  }

  test("spans are sorted, non-overlapping, in-bounds") {
    forAll(htmlGen) { html =>
      val r = Extractor.extract(html.getBytes("UTF-8"), "fb")
      val t = r.extractedText
      r.spans.foreach { s =>
        assert(s.start >= 0 && s.start < s.end && s.end <= t.length)
      }
      r.spans.sliding(2).foreach {
        case Vector(a, b) => assert(a.end <= b.start)
        case _            => ()
      }
    }
  }

  test("links always carry non-empty anchor and target") {
    forAll(htmlGen) { html =>
      val r = Extractor.extract(html.getBytes("UTF-8"), "fb")
      r.links.foreach { l =>
        assert(l.anchor.trim.nonEmpty && l.target.nonEmpty && l.page >= 1)
      }
    }
  }

  test("pdf route is total on arbitrary bytes after the magic prefix") {
    val pdfGen = Gen.listOf(Gen.chooseNum(0, 255)).map { bytes =>
      "%PDF-1.4".getBytes("ISO-8859-1") ++ bytes.map(_.toByte).toArray
    }
    forAll(pdfGen, 150) { bytes =>
      val r = Extractor.extract(bytes, "fb")
      assert(r.extractedText != null)
      r.spans.foreach(s => assert(s.start >= 0 && s.end <= r.extractedText.length))
    }
  }

  test("pdf parser is total on fragments of valid pdfs") {
    val (valid, _) = graft.pdf.PdfGen.synthPdf(13L, Array("alpha", "beta", "gamma"))
    forAll(Gen.chooseNum(5, valid.length), 100) { cut =>
      val r = Extractor.extract(java.util.Arrays.copyOf(valid, cut), "fb")
      assert(r.extractedText != null)
    }
  }

  test("synth corpus: every docId extracts cleanly at any id") {
    forAll(Gen.chooseNum(0L, 100000L)) { id =>
      val page = graft.synth.Synth.pageFor(id, "alpha beta gamma delta " * 8, "en")
      val r = Extractor.extract(page.html, page.text)
      assert(r.error == null)
      assert(r.extractedText.nonEmpty)
    }
  }

  // ---- linear-time kernel passes -----------------------------------------

  /** best-of-`n` wall time of `f`, in ms (the first calls warm the JIT) */
  private def bestMs(n: Int)(f: => Any): Double =
    (1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }.min

  test("descendants, find and rawText equal a recursive reference walk") {
    def refDescendants(e: Elem): Vector[Elem] = e.children.toVector.flatMap {
      case c: Elem => c +: refDescendants(c)
      case _       => Vector.empty
    }
    def refRawText(n: Node): String = n match {
      case t: TextNode => t.value
      case e: Elem     => e.children.map(refRawText).mkString
    }
    val tags = Seq("body", "p", "div", "b", "li", "td", "table", "nav", "img", "nope")
    forAll(htmlGen) { html =>
      val root = HtmlParser.parse(html)
      (root +: refDescendants(root)).foreach { e =>
        val ref = refDescendants(e)
        assert(e.descendants.toVector == ref)
        assert(e.rawText == refRawText(e))
        tags.foreach { t =>
          assert(e.find(t) == (if (e.tag == t) Some(e) else ref.find(_.tag == t)))
        }
      }
    }
  }

  test("a 100k-deep element chain parses, finds and walks in linear time") {
    val depth = 100000
    val deep = "<div>" * depth + "<span>x</span>" + "</div>" * depth
    // the same elements and bytes, side by side instead of nested
    val flat = "<div></div>" * depth + "<span>x</span>"
    def pass(html: String): (Option[Elem], Int, String) = {
      val dom = HtmlParser.parse(html)
      (dom.find("span"), dom.descendants.size, dom.rawText)
    }
    val (span, count, text) = pass(deep)
    assert(span.map(_.rawText).contains("x"))
    assert(count == depth + 1 && text == "x")
    val deepMs = bestMs(3)(pass(deep))
    val flatMs = bestMs(3)(pass(flat))
    assert(deepMs <= 5 * flatMs + 200, s"deep chain ${deepMs}ms vs flat ${flatMs}ms")
  }

  test("entity decoding is linear in the number of stray '&'") {
    val n = 400000
    val stray = "&" * n
    // one '&' keeps plain text on the same char-by-char decode path
    val plain = "a" * (n - 1) + "&"
    assert(Entities.decode(stray) == stray)
    assert(Entities.decode("&amp;" + "&" * 12 + "&lt;x&#65;") == "&" + "&" * 12 + "<xA")
    val strayMs = bestMs(5)(Entities.decode(stray))
    val plainMs = bestMs(5)(Entities.decode(plain))
    assert(strayMs <= 20 * plainMs + 50, s"stray '&' ${strayMs}ms vs plain ${plainMs}ms")
  }

  test("countArrows equals the leftmost-first regex it replaced") {
    val oracle = java.util.regex.Pattern.compile(
      "[\u2190\u2191\u2192\u2193\u2194\u21d0\u21d2\u21d4\u25b6\u25ba]|<->|->|=>")
    def regexCount(s: String): Int = {
      val m = oracle.matcher(s)
      var n = 0
      while (m.find()) n += 1
      n
    }
    val alphabet = Gen.oneOf('\u2190', '\u2191', '\u2192', '\u2193', '\u2194', '\u21d0',
      '\u21d2', '\u21d4', '\u25b6', '\u25ba', '\u2195', '<', '-', '=', '>', 'a', 'Z', ' ',
      '\ud83d', '\ude00')
    forAll(Gen.listOf(alphabet).map(_.mkString), 20000) { s =>
      assert(StructureScore.countArrows(s) == regexCount(s), s)
    }
  }

  // ---- fused hash-kernel laws (implementation-independent properties, on
  // top of the exact-equality pins in SparkJobsSpec) -----------------------

  private def minhashOf(tokens: Seq[String]): Seq[Long] =
    graft.plans.MinhashSigs.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]),
      3, 16).toSeq

  private def simhashOf(hs: Seq[Long]): Long =
    graft.plans.Simhash64.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray))

  test("minhash law: appending tokens only lowers signatures (min over a superset)") {
    val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val gen = for {
      a <- Gen.choose(3, 25).flatMap(n => Gen.listOfN(n, word))
      b <- Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, word))
    } yield (a, b)
    forAll(gen, 150) { case (a, b) =>
      // a has >= 3 tokens, so all of a's shingle windows survive the append
      val base = minhashOf(a)
      val ext = minhashOf(a ++ b)
      assert(base.zip(ext).forall { case (x, y) => y <= x },
        s"append raised a signature: $base -> $ext")
    }
  }

  test("minhash law: repeating one token adds no distinct shingles") {
    val word = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    forAll(Gen.zip(word, Gen.choose(3, 40)), 100) { case (w, n) =>
      assert(minhashOf(List.fill(n)(w)) == minhashOf(List.fill(3)(w)))
    }
  }

  test("simhash laws: order-invariant, uniform-duplication-invariant") {
    val gen = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)))
    forAll(gen, 150) { hs =>
      val base = simhashOf(hs)
      assert(simhashOf(hs.reverse) == base, "reverse changed the fingerprint")
      assert(simhashOf(hs.sorted) == base, "sort changed the fingerprint")
      // duplicating every element doubles each bit count AND n: votes hold
      assert(simhashOf(hs ++ hs) == base, "uniform duplication changed the fingerprint")
    }
  }
}
