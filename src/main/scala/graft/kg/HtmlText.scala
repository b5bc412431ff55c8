package graft.kg

/** Deterministic HTML <-> text codec.
  *
  * The reference consumes pre-extracted paragraphs (xDD/Weaviate) and never
  * parses HTML itself, so the per-row invariant "byte-identical extracted
  * text per url" (BASELINE.json input_hint) is specified by us: `render`
  * wraps a page text into a canonical HTML document, and `extract` is its
  * exact inverse — extract(render(text, lang)) == text byte-for-byte for
  * every valid input (SURVEY.md §7.2 step 1).
  *
  * `extract` is written as a general single-pass tag-stripper (block tags →
  * paragraph breaks, entity unescape) so it also degrades gracefully on
  * non-canonical HTML; the byte-exact guarantee holds on the canonical
  * wrapper, which is what the synthetic corpus stores in `html`.
  *
  * Pure JVM string code, no external parser: runs inside whole-stage codegen
  * adjacent expressions via a deterministic UDF and is safe to execute
  * per-row at 10^12-page scale (no allocation beyond the builders).
  */
object HtmlText {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case c   => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { b.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { b.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { b.append('>'); i += 4 }
        else { b.append(c); i += 1 }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Canonical page wrapper. Paragraphs are the text split on "\n\n"; the
    * title is the first 40 chars of the text. Newlines *within* a paragraph
    * survive as-is inside the <p> element (HTML permits raw newlines). */
  def render(text: String, lang: String): Array[Byte] = {
    val title = escape(text.take(40))
    val paras = text.split("\n\n", -1).map(p => s"<p>${escape(p)}</p>").mkString
    val doc =
      s"""<!DOCTYPE html><html lang="${escape(lang)}"><head><meta charset="utf-8"><title>$title</title></head><body><article>$paras</article></body></html>"""
    doc.getBytes(Utf8)
  }

  /** Inverse of [[render]] on canonical documents; general tag-stripping
    * text extractor otherwise. Content outside <body> is dropped; each <p>
    * (and other block-level closes) contributes one paragraph; paragraphs
    * are re-joined with "\n\n". */
  def extract(html: Array[Byte]): String = {
    val s = new String(html, Utf8)
    val bodyStart = {
      val i = s.indexOf("<body")
      if (i < 0) 0 else s.indexOf('>', i) + 1
    }
    val bodyEnd = {
      val i = s.indexOf("</body>", bodyStart)
      if (i < 0) s.length else i
    }
    val out = new StringBuilder(bodyEnd - bodyStart)
    val paras = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = bodyStart
    var inTag = false
    var tagBuf = new StringBuilder(8)
    while (i < bodyEnd) {
      val c = s.charAt(i)
      if (inTag) {
        if (c == '>') {
          inTag = false
          val tag = tagBuf.toString
          // </p> always delimits (canonical wrapper may contain genuinely
          // empty paragraphs); other block closers only flush non-empty
          // text, so wrapper elements around <p>s don't add phantom breaks.
          if (tag == "/p") {
            paras += out.toString
            out.clear()
          } else if (tag == "/h1" || tag == "/h2" || tag == "/h3" ||
              tag == "/li" || tag == "/div" || tag == "br" || tag == "br/") {
            if (out.nonEmpty) { paras += out.toString; out.clear() }
          }
        } else if (tagBuf.length < 7) tagBuf.append(Character.toLowerCase(c))
      } else if (c == '<') {
        inTag = true
        tagBuf = new StringBuilder(8)
      } else out.append(c)
      i += 1
    }
    if (out.nonEmpty) paras += out.toString
    paras.map(unescape).mkString("\n\n")
  }
}
