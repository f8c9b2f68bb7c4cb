package graft.kernels

import scala.collection.mutable

/** Minimal, allocation-light, error-tolerant HTML/markup tokenizer with
  * exact source character offsets. Brand-new code (the reference has no
  * HTML path — its analogue is the PDF text miner,
  * deepdoctection/extern/pdftext.py:50); the DOM-heuristic design
  * follows the boilerpipe/trafilatura line of published work.
  *
  * Guarantees:
  *  - never throws on malformed markup (unclosed tags, bare `<`, junk
  *    attributes) — degrades to text;
  *  - every emitted [[Html.Text]] span indexes the raw source string;
  *  - `<script>`/`<style>` bodies are emitted as a single raw-text
  *    event flagged `raw = true` so the segmenter can drop them.
  */
object Html {

  sealed trait Event { def begin: Int; def end: Int }
  final case class StartTag(name: String, attrs: Map[String, String], begin: Int, end: Int,
      selfClosing: Boolean) extends Event
  final case class EndTag(name: String, begin: Int, end: Int) extends Event
  final case class Text(begin: Int, end: Int, raw: Boolean) extends Event

  private val RawTextTags = Set("script", "style")

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_' || c == '!'

  /** Tokenize `s` into a stream of events covering (non-markup parts of)
    * the input. Text between tags is emitted verbatim as spans; entity
    * decoding happens later, at word level, so offsets stay exact.
    */
  def tokenize(s: String): List[Event] = {
    val out = mutable.ListBuffer.empty[Event]
    val n = s.length
    var i = 0
    var textStart = 0

    def flushText(upto: Int): Unit =
      if (upto > textStart) out += Text(textStart, upto, raw = false)

    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n &&
          (isNameStart(s.charAt(i + 1)) || s.charAt(i + 1) == '/' || s.charAt(i + 1) == '?')) {
        flushText(i)
        if (s.startsWith("<!--", i)) {
          val close = s.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?') {
          // doctype / processing instruction: skip to '>'
          val close = s.indexOf('>', i + 1)
          i = if (close < 0) n else close + 1
        } else if (s.charAt(i + 1) == '/') {
          val close = s.indexOf('>', i + 2)
          val end = if (close < 0) n else close + 1
          val name = s.substring(i + 2, if (close < 0) n else close).trim.toLowerCase(java.util.Locale.ROOT)
          if (name.nonEmpty) out += EndTag(name, i, end)
          i = end
        } else {
          val (tag, next) = parseStartTag(s, i)
          out += tag
          i = next
          if (RawTextTags.contains(tag.name) && !tag.selfClosing) {
            // raw-text element: scan for matching close tag
            // (case-insensitive without copying the payload)
            val closePat = "</" + tag.name
            var j = i
            var found = -1
            while (found < 0 && j <= n - closePat.length) {
              if (s.regionMatches(true, j, closePat, 0, closePat.length)) found = j
              else j += 1
            }
            j = if (found < 0) n else found
            if (j > i) out += Text(i, j, raw = true)
            if (j < n) {
              val gt = s.indexOf('>', j)
              val e = if (gt < 0) n else gt + 1
              out += EndTag(tag.name, j, e)
              i = e
            } else i = n
          }
        }
        textStart = i
      } else {
        i += 1
      }
    }
    flushText(n)
    out.toList
  }

  private def parseStartTag(s: String, start: Int): (StartTag, Int) = {
    val n = s.length
    var i = start + 1
    val nameStart = i
    while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-' || s.charAt(i) == ':')) i += 1
    val name = s.substring(nameStart, i).toLowerCase(java.util.Locale.ROOT)
    // immutable small maps (Map1..Map4) for the usual few attributes;
    // a repeated name keeps its last value, as before
    var attrs = Map.empty[String, String]
    var selfClosing = false
    var done = false
    while (i < n && !done) {
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i < n && s.charAt(i) == '>') { i += 1; done = true }
      else if (i < n && s.charAt(i) == '/') {
        i += 1
        if (i < n && s.charAt(i) == '>') { i += 1; selfClosing = true; done = true }
      } else if (i < n) {
        val aStart = i
        while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '=' && s.charAt(i) != '>' &&
          s.charAt(i) != '/') i += 1
        val aName = s.substring(aStart, i).toLowerCase(java.util.Locale.ROOT)
        while (i < n && s.charAt(i).isWhitespace) i += 1
        if (i < n && s.charAt(i) == '=') {
          i += 1
          while (i < n && s.charAt(i).isWhitespace) i += 1
          if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
            val q = s.charAt(i)
            i += 1
            val vStart = i
            while (i < n && s.charAt(i) != q) i += 1
            attrs = attrs.updated(aName, s.substring(vStart, math.min(i, n)))
            if (i < n) i += 1
          } else {
            val vStart = i
            while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '>') i += 1
            attrs = attrs.updated(aName, s.substring(vStart, i))
          }
        } else if (aName.nonEmpty) {
          attrs = attrs.updated(aName, "")
        } else if (i < n && s.charAt(i) != '>' && s.charAt(i) != '/') {
          i += 1 // junk char; skip to avoid infinite loop
        }
      }
    }
    (StartTag(name, attrs, start, i, selfClosing), i)
  }

  /** Decode the common HTML entities. Used at word level; word spans
    * always reference the *raw* source, so decoding never invalidates
    * offsets.
    */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val rep: Option[String] = ent match {
            case "amp" => Some("&")
            case "lt" => Some("<")
            case "gt" => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(new String(Character.toChars(Integer.parseInt(e.drop(2), 16))))
              catch { case _: Exception => None }
            case e if e.startsWith("#") =>
              try Some(new String(Character.toChars(e.drop(1).toInt)))
              catch { case _: Exception => None }
            case _ => None
          }
          rep match {
            case Some(r) => sb.append(r); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** True if the payload looks like markup at all — cheap gate so plain
    * prose skips the tokenizer.
    */
  def looksLikeHtml(s: String): Boolean = {
    var i = s.indexOf('<')
    while (i >= 0 && i + 1 < s.length) {
      val c = s.charAt(i + 1)
      if (isNameStart(c) || c == '/') return true
      i = s.indexOf('<', i + 1)
    }
    false
  }
}
