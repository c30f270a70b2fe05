package graft.core

import scala.collection.mutable.ArrayBuffer

/** HTML boilerplate stripping via shallow text features.
  *
  * The north rule asks for "HTML boilerplate strip ... DOM heuristics" on
  * turn text; the reference has no HTML path, so this module follows the
  * published shallow-feature approach (Kohlschütter et al., "Boilerplate
  * Detection Using Shallow Text Features", WSDM 2010; see PAPERS.md):
  * segment the page into text blocks at block-level tag boundaries, score
  * each block on link density + word count + container class, and emit
  * content blocks as `Element`s (headings h1–h6 as bold runs so the
  * segmenter's header predicate fires) and boilerplate blocks as
  * `boilerplate = true` elements (skip route + span, like the reference's
  * TOC filter DocumentParser.java:496-499).
  *
  * Hand-rolled scanner — no external HTML parser exists in the sandbox,
  * and the per-row cost must stay allocation-light at 10^12 turns. The
  * whole pass is thread-free and single-row-scoped (safe inside the
  * `ExtractStats`/`ExtractTurn` Catalyst expressions at any parallelism).
  */
object HtmlExtract {

  private val htmlProbe =
    "(?i)<(!doctype|html|head|body|div|p|h[1-6]|table|ul|ol|li|br|span|a|nav|article|section)[\\s/>]".r

  /** Cheap routing probe: does this turn's text look like HTML markup? */
  def looksLikeHtml(text: String): Boolean =
    text.indexOf('<') >= 0 && htmlProbe.findFirstIn(text).isDefined

  private val blockTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "td", "th", "tr", "table", "ul", "ol", "br", "section", "article",
    "header", "footer", "nav", "aside", "blockquote", "pre", "form", "main",
    "figure", "figcaption", "hr", "body", "html", "head", "title")

  /** Containers whose entire subtree is boilerplate. */
  private val boilerContainers =
    Set("script", "style", "noscript", "nav", "footer", "aside", "form",
      "head", "svg", "iframe", "template", "button")

  /** Raw-text containers: content is not HTML, skip to the closing tag. */
  private val rawTextTags = Set("script", "style")

  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  private final case class Block(text: String, tag: String,
                                 totalChars: Int, linkChars: Int) {
    def words: Int = {
      var n = 0; var in = false; var i = 0
      while (i < text.length) {
        val ws = Character.isWhitespace(text.charAt(i))
        if (!ws && !in) { n += 1; in = true } else if (ws) in = false
        i += 1
      }
      n
    }
    def linkDensity: Double =
      if (totalChars == 0) 0.0 else linkChars.toDouble / totalChars
  }

  /** Tokenize an HTML turn into segmenter elements. */
  def tokenize(html: String): Seq[BodyElement] =
    blocks(html).map { b =>
      if (isBoilerplate(b))
        ParaElement(Element(b.text, Seq(Run(b.text)), boilerplate = true))
      else if (headingTags.contains(b.tag))
        // heading => all-bold run so the header predicate fires (F4)
        ParaElement(Element(b.text, Seq(Run(b.text, bold = Some(true)))))
      else
        ParaElement(Element(b.text, Seq(Run(b.text))))
    }

  /** Shallow classifier: container class, then link density x word count
    * (the two strongest features in the WSDM'10 study).
    */
  private def isBoilerplate(b: Block): Boolean = {
    if (b.tag == "!boiler") return true
    if (headingTags.contains(b.tag)) return false
    if (b.linkDensity >= 0.5) return true
    if (b.words < 4 && b.linkDensity > 0.2) return true
    false
  }

  /** Scan HTML into text blocks with per-block link-char accounting. */
  private def blocks(html: String): Seq[Block] = {
    val out = new ArrayBuffer[Block]
    val sb = new java.lang.StringBuilder
    var linkChars = 0
    var totalChars = 0
    var curTag = "p"
    var boilerDepth = 0
    var linkDepth = 0
    var i = 0
    val n = html.length
    // lazily lowercased copy: only raw-text (script/style) skips need it
    var lowerCache: String = null
    def lower: String = {
      if (lowerCache == null) lowerCache = html.toLowerCase
      lowerCache
    }

    def flush(): Unit = {
      // trim without losing the link/total accounting proportions
      val text = sb.toString.trim
      if (text.nonEmpty) {
        out += Block(text,
          if (boilerDepth > 0) "!boiler" else curTag, totalChars, linkChars)
      }
      sb.setLength(0); linkChars = 0; totalChars = 0
    }

    def appendText(t: String): Unit = {
      val dec = decodeEntities(t)
      var j = 0
      var lastWs = sb.length == 0 || sb.charAt(sb.length - 1) == ' '
      while (j < dec.length) {
        val c = dec.charAt(j)
        if (Character.isWhitespace(c)) {
          if (!lastWs) {
            sb.append(' '); totalChars += 1
            if (linkDepth > 0) linkChars += 1
          }
          lastWs = true
        } else {
          sb.append(c); totalChars += 1
          if (linkDepth > 0) linkChars += 1
          lastWs = false
        }
        j += 1
      }
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { appendText(html.substring(i)); i = n }
      else {
        if (lt > i) appendText(html.substring(i, lt))
        if (html.startsWith("<!--", lt)) { // comment
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else {
          val gt = html.indexOf('>', lt)
          if (gt < 0) { i = n } // truncated tag: drop remainder
          else {
            var next = gt + 1
            val body = html.substring(lt + 1, gt)
            val closing = body.startsWith("/")
            val nameRaw = if (closing) body.drop(1) else body
            val cut = nameRaw.indexWhere(c =>
              Character.isWhitespace(c) || c == '/')
            val name =
              (if (cut < 0) nameRaw else nameRaw.take(cut)).toLowerCase
            val selfClosed = body.endsWith("/")
            if (name.isEmpty || name.startsWith("!") || name.startsWith("?")) {
              () // doctype / processing instruction: ignore
            } else if (boilerContainers.contains(name)) {
              if (!closing) {
                flush()
                if (rawTextTags.contains(name)) {
                  // raw content: jump straight past the closing tag
                  val close = lower.indexOf(s"</$name", gt)
                  next = if (close < 0) n
                         else lower.indexOf('>', close) match {
                           case -1 => n
                           case e => e + 1
                         }
                } else if (!selfClosed) {
                  boilerDepth += 1
                }
              } else if (boilerDepth > 0) {
                flush(); boilerDepth -= 1
              }
            } else if (name == "a") {
              if (!closing) { if (!selfClosed) linkDepth += 1 }
              else if (linkDepth > 0) linkDepth -= 1
            } else if (blockTags.contains(name)) {
              flush()
              if (!closing) curTag = name
            }
            i = next
          }
        }
      }
    }
    flush()
    out.toSeq
  }

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    s.replace("&nbsp;", " ").replace("&amp;", "&").replace("&lt;", "<")
      .replace("&gt;", ">").replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&apos;", "'")
  }
}
