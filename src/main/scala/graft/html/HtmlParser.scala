package graft.html

import scala.collection.mutable.ArrayBuffer

/** Minimal from-scratch HTML DOM (no external parser jars exist in this
  * sandbox — SURVEY.md §7). Document order of children IS reading order
  * (the reference's O1 invariant, accessibility_extractor_v2.py:321-379:
  * "true reading order = element order in the XML tree").
  */
sealed trait Node
final class Elem(val tag: String, val attrs: Map[String, String]) extends Node {
  val children: ArrayBuffer[Node] = new ArrayBuffer[Node]()
  def attr(name: String): String = attrs.getOrElse(name, "")
  /** every node of the subtree, self first, in document order */
  def preOrder: PreOrder = new PreOrder(this)
  /** the subtree's elements, self first, in document order */
  def subtree: Iterator[Elem] = preOrder.collect { case e: Elem => e }
  /** depth-first descendant elements, document order, self excluded */
  def descendants: Iterator[Elem] = subtree.drop(1)
  def find(t: String): Option[Elem] = subtree.find(_.tag == t)
  /** concatenated decoded text of the subtree (raw, not normalized) */
  def rawText: String = {
    val sb = new StringBuilder
    preOrder.foreach {
      case t: TextNode => sb.append(t.value)
      case _           => ()
    }
    sb.toString
  }
}
final class TextNode(val value: String) extends Node

/** Pre-order walk on an explicit stack: each node is pushed and popped
  * once, so a whole-subtree pass is linear in its node count whatever the
  * nesting depth. A node's children are pushed only when the walk moves
  * past it, which lets `skipChildren()` prune the subtree of the node
  * `next()` just returned.
  */
final class PreOrder(root: Node) extends Iterator[Node] {
  private val stack = new java.util.ArrayDeque[Node]()
  private var last: Node = null
  stack.push(root)

  /** do not descend into the node the last `next()` returned */
  def skipChildren(): Unit = last = null

  private def expandLast(): Unit = {
    last match {
      case e: Elem =>
        var i = e.children.length - 1
        while (i >= 0) { stack.push(e.children(i)); i -= 1 }
      case _ => ()
    }
    last = null
  }

  def hasNext: Boolean = { expandLast(); !stack.isEmpty }
  def next(): Node = {
    expandLast()
    last = stack.pop()
    last
  }
}

/** WHATWG-subset tokenizer + tree builder: tags, attributes
  * (quoted/unquoted/bare), decimal/hex/named entities, comments, doctype,
  * CDATA-as-comment, raw-text elements (script/style/textarea/template),
  * void elements, and the common implied end tags (p/li/td/th/tr/option).
  * Malformed input never throws — unknown constructs degrade to text
  * (reference R1 semantics: errors isolate per document,
  * file_converter.py:99-100).
  */
object HtmlParser {
  private val voidTags = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "link", "meta", "param", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style", "textarea", "template", "noscript")
  // block-ish tags whose <open> implies </p> (WHATWG "closing a p element")
  private val pClosers = Set("address", "article", "aside", "blockquote", "div",
    "dl", "fieldset", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "main", "nav", "ol", "p", "pre", "section", "table", "ul")

  def parse(html: String): Elem = {
    val root = new Elem("#root", Map.empty)
    val stack = new ArrayBuffer[Elem]()
    stack += root
    val n = html.length
    var i = 0
    val text = new StringBuilder
    // open <p> elements on the stack: a block open tag closes a <p> only
    // when one is open, so most block tags skip the stack scan entirely
    var openP = 0

    def popTo(j: Int): Unit = {
      var k = j
      while (k < stack.length) { if (stack(k).tag == "p") openP -= 1; k += 1 }
      stack.remove(j, stack.length - j)
    }

    def flushText(): Unit = {
      if (text.nonEmpty) {
        stack.last.children += new TextNode(Entities.decode(text.toString))
        text.clear()
      }
    }

    def impliedCloses(tag: String): Unit = {
      // </li> implied by <li>; </td>/<th> by td/th/tr; </tr> by tr; </option> by option
      def closeUpTo(target: String, barrier: Set[String]): Unit = {
        var j = stack.length - 1
        var found = -1
        while (j > 0 && found < 0) {
          val t = stack(j).tag
          if (t == target) found = j
          else if (barrier.contains(t)) j = 0 // stop: don't cross the barrier
          j -= 1
        }
        if (found > 0) popTo(found)
      }
      tag match {
        case "li" => closeUpTo("li", Set("ul", "ol"))
        case "td" | "th" =>
          closeUpTo("td", Set("tr", "table")); closeUpTo("th", Set("tr", "table"))
        case "tr" =>
          closeUpTo("td", Set("tr", "table")); closeUpTo("th", Set("tr", "table"))
          closeUpTo("tr", Set("table"))
        case "option" => closeUpTo("option", Set("select"))
        case t if openP > 0 && pClosers.contains(t) => closeUpTo("p", Set("#root", "body"))
        case _ => ()
      }
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else { // doctype, CDATA, etc. — skip to '>'
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '?') { // processing instruction — skip
          flushText()
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (c1 == '/') {
          flushText()
          val end = html.indexOf('>', i)
          if (end < 0) { i = n }
          else {
            val name = html.substring(i + 2, end).trim.toLowerCase(java.util.Locale.ROOT)
            // pop to the matching open element if present; else ignore stray close
            var j = stack.length - 1
            var found = -1
            while (j > 0 && found < 0) { if (stack(j).tag == name) found = j; j -= 1 }
            if (found > 0) popTo(found)
            i = end + 1
          }
        } else if (c1.isLetter) {
          flushText()
          // parse tag name
          var j = i + 1
          while (j < n && (html.charAt(j).isLetterOrDigit || html.charAt(j) == '-' ||
            html.charAt(j) == ':')) j += 1
          val tag = html.substring(i + 1, j).toLowerCase(java.util.Locale.ROOT)
          // parse attributes up to '>' (respecting quotes); most elements
          // carry none — avoid builder allocation for that case
          var attrs: Map[String, String] = null
          var selfClose = false
          var k = j
          var done = false
          while (k < n && !done) {
            while (k < n && html.charAt(k).isWhitespace) k += 1
            if (k >= n) done = true
            else html.charAt(k) match {
              case '>' => done = true; k += 1
              case '/' =>
                if (k + 1 < n && html.charAt(k + 1) == '>') { selfClose = true; done = true; k += 2 }
                else k += 1
              case _ =>
                // attribute name
                val ns = k
                while (k < n && !html.charAt(k).isWhitespace &&
                  html.charAt(k) != '=' && html.charAt(k) != '>' && html.charAt(k) != '/') k += 1
                val aname = html.substring(ns, k).toLowerCase(java.util.Locale.ROOT)
                while (k < n && html.charAt(k).isWhitespace) k += 1
                var avalue = ""
                if (k < n && html.charAt(k) == '=') {
                  k += 1
                  while (k < n && html.charAt(k).isWhitespace) k += 1
                  if (k < n && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                    val q = html.charAt(k); k += 1
                    val vs = k
                    while (k < n && html.charAt(k) != q) k += 1
                    avalue = html.substring(vs, math.min(k, n))
                    if (k < n) k += 1
                  } else {
                    val vs = k
                    while (k < n && !html.charAt(k).isWhitespace && html.charAt(k) != '>') k += 1
                    avalue = html.substring(vs, k)
                  }
                }
                if (aname.nonEmpty) {
                  if (attrs == null) attrs = Map.empty
                  attrs = attrs.updated(aname, Entities.decode(avalue))
                }
            }
          }
          i = k
          impliedCloses(tag)
          val el = new Elem(tag, if (attrs == null) Map.empty else attrs)
          stack.last.children += el
          if (rawTextTags.contains(tag) && !selfClose) {
            // raw text: scan for the matching case-insensitive close tag.
            // script/style content is dropped (reference P6: non-content nodes
            // removed entirely, accessibility_extractor_v2.py:336-350 analog);
            // textarea/template content likewise never reaches extraction.
            val closeIdx = indexOfCloseTag(html, i, tag)
            i = if (closeIdx < 0) n else {
              val gt = html.indexOf('>', closeIdx)
              if (gt < 0) n else gt + 1
            }
          } else if (!selfClose && !voidTags.contains(tag)) {
            stack += el
            if (tag == "p") openP += 1
          }
        } else { text.append(c); i += 1 }
      } else { text.append(c); i += 1 }
    }
    flushText()
    root
  }

  private def indexOfCloseTag(html: String, from: Int, tag: String): Int = {
    val needle = "</" + tag
    var i = from
    val n = html.length
    while (i >= 0 && i < n) {
      i = html.indexOf('<', i)
      if (i < 0) return -1
      if (i + needle.length <= n &&
        html.regionMatches(true, i, needle, 0, needle.length)) {
        val after = i + needle.length
        if (after >= n || html.charAt(after) == '>' || html.charAt(after).isWhitespace)
          return i
      }
      i += 1
    }
    -1
  }
}
