package graft.kernels

import scala.collection.mutable
import graft.model.{BBox, LayoutLabel}

/** Layout-block segmentation over a turn payload (HTML or plain text)
  * plus a deterministic renderer that assigns 2-D geometry so the
  * layout kernels (lines / columns / reading order) operate on real
  * coordinates.
  *
  * Brand-new code: the reference's `ImageLayoutService`
  * (deepdoctection/pipe/layout.py:68) runs a vision model; our
  * segmenter is the DOM-heuristic equivalent (text density, link
  * density, tag depth — boilerpipe/trafilatura-style scoring) demanded
  * by the north star. Pure function of the payload string — row-local,
  * no Spark imports, fully unit-testable.
  */
object Segment {

  /** One tokenized word before pipeline assembly. */
  final case class SegWord(begin: Int, end: Int, text: String, box: BBox, anchor: Boolean)

  /** One candidate block with heuristic scores. */
  final case class SegBlock(
      kind: String,
      begin: Int,
      end: Int,
      box: BBox,
      words: Array[SegWord],
      chrome: Boolean,      // under nav/header/footer/aside/form
      dropped: Boolean,     // under head/script/style — never content
      tagDepth: Int,
      linkDensity: Double,  // anchored word chars / total word chars
      textDensity: Double,  // words per rendered line
      lineCount: Int
  )

  final case class SegResult(blocks: Array[SegBlock], pageWidth: Double, pageHeight: Double)

  // ---- rendering constants (deterministic virtual page) ----
  val PageWidth = 1000.0
  private val CharW = 8.0
  private val SpaceW = 8.0
  private val LineH = 20.0
  private val BlockMargin = 8.0
  private val TopMargin = 10.0

  private val BlockTags = Set(
    "p", "div", "section", "article", "main", "body", "html", "head", "ul", "ol", "li",
    "table", "thead", "tbody", "tr", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6",
    "nav", "header", "footer", "aside", "title", "blockquote", "pre", "hr", "form", "button",
    "caption", "figure", "figcaption"
  )
  private val ChromeTags = Set("nav", "header", "footer", "aside", "form", "button")
  private val DropTags = Set("head", "script", "style", "noscript", "template", "svg", "title")
  // void elements never push onto the tag stack
  private val VoidTags = Set("br", "hr", "img", "input", "meta", "link", "source", "wbr", "area", "base", "col", "embed", "track")

  private def kindOf(stack: List[String]): String = {
    stack.collectFirst {
      case t @ ("h1" | "h2" | "h3" | "h4" | "h5" | "h6") => LayoutLabel.TITLE
      case "li" => LayoutLabel.LIST_ITEM
      case "td" | "th" => LayoutLabel.CELL
      case "pre" | "code" => LayoutLabel.CODE
      case "nav" => LayoutLabel.NAV
      case "header" => LayoutLabel.HEADER
      case "footer" => LayoutLabel.FOOTER
      case "aside" => LayoutLabel.ASIDE
      case "caption" | "figcaption" => LayoutLabel.CAPTION
      // figure must be distinguishable from plain text so the
      // reference's canonical layout-link pairing caption→figure
      // (NeighbourMatcher, parent_categories=["figure"]) is expressible
      case "figure" => LayoutLabel.FIGURE
    }.getOrElse(LayoutLabel.TEXT)
  }

  /** Column/offset placement parsed from an inline style — the minimal
    * CSS subset (`left`/`width`/`top` percentages) the renderer honours.
    * `top < 0` means normal flow (start at the page top margin).
    */
  final case class Place(x: Double, w: Double, top: Double)
  private val DefaultPlace = Place(0.0, 1.0, -1.0)

  private def parsePlacement(style: String): Option[Place] = {
    def pct(prop: String): Option[Double] = {
      val idx = style.indexOf(prop + ":")
      if (idx < 0) None
      else {
        var b = idx + prop.length + 1
        while (b < style.length && style.charAt(b) == ' ') b += 1
        var e = b
        while (e < style.length && (style.charAt(e).isDigit || style.charAt(e) == '.')) e += 1
        if (e == b) None else Some(style.substring(b, e).toDouble / 100.0)
      }
    }
    val left = pct("left")
    val width = pct("width")
    val top = pct("top")
    if (left.isEmpty && width.isEmpty && top.isEmpty) None
    else Some(Place(left.getOrElse(0.0), width.getOrElse(1.0 - left.getOrElse(0.0)),
      top.getOrElse(-1.0)))
  }

  /** Segment an HTML payload. */
  def segmentHtml(payload: String): SegResult = {
    val events = Html.tokenize(payload)

    final case class Run(begin: Int, end: Int, anchorDepth: Int, isLineBreakBefore: Boolean)
    final case class Pending(
        kind: String, chrome: Boolean, dropped: Boolean, depth: Int,
        placement: Place, runs: mutable.ListBuffer[Run]
    )

    val blocksOut = mutable.ListBuffer.empty[Pending]
    var tagStack = List.empty[String]
    var placementStack = List[Place](DefaultPlace)
    var anchorDepth = 0
    var pending: Pending = null
    var pendingBreak = false

    def flush(): Unit = {
      if (pending != null && pending.runs.nonEmpty) blocksOut += pending
      pending = null
      pendingBreak = false
    }

    def ensurePending(): Pending = {
      if (pending == null)
        pending = Pending(kindOf(tagStack), tagStack.exists(ChromeTags),
          tagStack.exists(DropTags), tagStack.length, placementStack.head,
          mutable.ListBuffer.empty)
      pending
    }

    for (ev <- events) ev match {
      case Html.StartTag(name, attrs, _, _, selfClosing) =>
        if (name == "br") { pendingBreak = true }
        else if (VoidTags.contains(name)) { if (name == "hr") flush() }
        else if (BlockTags.contains(name) || DropTags.contains(name)) {
          flush()
          if (!selfClosing) {
            tagStack = name :: tagStack
            val place = attrs.get("style").flatMap(parsePlacement)
            placementStack = place.getOrElse(placementStack.head) :: placementStack
          }
        } else {
          if (name == "a") anchorDepth += 1
        }
      case Html.EndTag(name, _, _) =>
        if (name == "a") { if (anchorDepth > 0) anchorDepth -= 1 }
        else if (BlockTags.contains(name) || DropTags.contains(name)) {
          flush()
          val idx = tagStack.indexOf(name)
          if (idx >= 0) {
            tagStack = tagStack.drop(idx + 1)
            placementStack = placementStack.drop(idx + 1)
            if (placementStack.isEmpty) placementStack = List(DefaultPlace)
          }
        }
      case Html.Text(begin, end, raw) =>
        // script/style bodies and anything under head/template/svg is
        // never rendered content
        if (!raw && !tagStack.exists(DropTags)) {
          // whitespace-only runs don't open a block
          var hasContent = false
          var i = begin
          while (i < end && !hasContent) { if (!payload.charAt(i).isWhitespace) hasContent = true; i += 1 }
          if (hasContent) {
            val p = ensurePending()
            p.runs += Run(begin, end, anchorDepth, pendingBreak)
            pendingBreak = false
          }
        }
    }
    flush()

    // ---- deterministic rendering ----
    val yCursors = mutable.Map.empty[Place, Double]
    val rendered = mutable.ArrayBuffer.empty[SegBlock]

    // one word buffer for every block (copied out by toArray)
    val words = mutable.ArrayBuffer.empty[SegWord]
    val blockIt = blocksOut.iterator
    while (blockIt.hasNext) {
      val b = blockIt.next()
      val x0 = b.placement.x * PageWidth
      val colW = math.max(CharW * 2, b.placement.w * PageWidth)
      val startY = if (b.placement.top >= 0.0) b.placement.top * 1000.0 else TopMargin
      // while-loop over runs with plain local vars: a `for (run <- …)`
      // foreach closure capturing x/y/lineCount lifts them to boxed
      // Double/IntRefs — a measured per-word allocation cost in the
      // render loop. Identical arithmetic and output.
      var y = yCursors.getOrElse(b.placement, startY)
      var x = x0
      var lineCount = 1
      words.clear()
      val runIt = b.runs.iterator
      while (runIt.hasNext) {
        val run = runIt.next()
        if (run.isLineBreakBefore && x > x0) { y += LineH; x = x0; lineCount += 1 }
        var i = run.begin
        while (i < run.end) {
          while (i < run.end && payload.charAt(i).isWhitespace) i += 1
          if (i < run.end) {
            val ws = i
            while (i < run.end && !payload.charAt(i).isWhitespace) i += 1
            val rawWord = payload.substring(ws, i)
            val text = Normalize.nfc(Html.decodeEntities(rawWord))
            val w = CharW * text.length
            if (x > x0 && x + w > x0 + colW) { y += LineH; x = x0; lineCount += 1 }
            words += SegWord(ws, i, text, BBox(x, y, x + w, y + LineH, absCoords = true),
              anchor = run.anchorDepth > 0)
            x += w + SpaceW
          }
        }
      }
      if (words.nonEmpty) {
        val box = Geometry.mergeBoxes(words.iterator.map(_.box))
        var totalChars = 0
        var anchorChars = 0
        var k = 0
        while (k < words.length) {
          val w = words(k)
          totalChars += w.text.length
          if (w.anchor) anchorChars += w.text.length
          k += 1
        }
        rendered += SegBlock(
          kind = b.kind,
          begin = words.head.begin,
          end = words.last.end,
          box = box,
          words = words.toArray,
          chrome = b.chrome,
          dropped = b.dropped,
          tagDepth = b.depth,
          linkDensity = if (totalChars <= 0) 0.0 else anchorChars.toDouble / totalChars,
          textDensity = words.length.toDouble / lineCount,
          lineCount = lineCount
        )
        yCursors(b.placement) = y + LineH + BlockMargin
      }
    }

    val pageH = math.max(1000.0, yCursors.values.foldLeft(0.0)(math.max) + TopMargin)
    SegResult(rendered.toArray, PageWidth, pageH)
  }

  /** Segment a plain-text payload: paragraphs split on blank lines,
    * single newlines are line breaks within a block.
    */
  def segmentPlainText(payload: String): SegResult = {
    val rendered = mutable.ArrayBuffer.empty[SegBlock]
    var y = TopMargin
    var i = 0
    val n = payload.length
    while (i < n) {
      // skip blank region
      while (i < n && payload.charAt(i).isWhitespace) i += 1
      if (i < n) {
        // paragraph extends to the next blank line (\n\s*\n) or EOF
        val start = i
        var end = i
        var j = i
        var blank = false
        while (j < n && !blank) {
          if (payload.charAt(j) == '\n') {
            var k = j + 1
            while (k < n && (payload.charAt(k) == ' ' || payload.charAt(k) == '\t' || payload.charAt(k) == '\r')) k += 1
            if (k < n && payload.charAt(k) == '\n') { blank = true; end = j }
            else j += 1
          } else j += 1
        }
        if (!blank) end = n
        // render words of the paragraph; '\n' forces a new line
        var x = 0.0
        var lineCount = 1
        val words = mutable.ArrayBuffer.empty[SegWord]
        var p = start
        while (p < end) {
          while (p < end && payload.charAt(p).isWhitespace) {
            if (payload.charAt(p) == '\n' && x > 0.0) { y += LineH; x = 0.0; lineCount += 1 }
            p += 1
          }
          if (p < end) {
            val ws = p
            while (p < end && !payload.charAt(p).isWhitespace) p += 1
            val text = Normalize.nfc(payload.substring(ws, p))
            val w = CharW * text.length
            if (x > 0.0 && x + w > PageWidth) { y += LineH; x = 0.0; lineCount += 1 }
            words += SegWord(ws, p, text, BBox(x, y, x + w, y + LineH, absCoords = true), anchor = false)
            x += w + SpaceW
          }
        }
        if (words.nonEmpty) {
          val box = Geometry.mergeBoxes(words.iterator.map(_.box))
          rendered += SegBlock(LayoutLabel.TEXT, words.head.begin, words.last.end, box,
            words.toArray, chrome = false, dropped = false, tagDepth = 0,
            linkDensity = 0.0, textDensity = words.length.toDouble / lineCount, lineCount = lineCount)
          y += LineH + BlockMargin
        }
        i = end
      }
    }
    SegResult(rendered.toArray, PageWidth, math.max(1000.0, y + TopMargin))
  }

  /** Entry: dispatch on payload shape. */
  def segment(payload: String): SegResult =
    if (Html.looksLikeHtml(payload)) segmentHtml(payload) else segmentPlainText(payload)

  /** Main-content classification (north star: DOM-heuristic keep/drop à
    * la boilerpipe): keep floating-text kinds that are not chrome, not
    * dropped containers, and not link-dominated.
    */
  def isMainContent(b: SegBlock, maxLinkDensity: Double = 0.4): Boolean =
    !b.chrome && !b.dropped && LayoutLabel.FloatingText.contains(b.kind) &&
      b.linkDensity <= maxLinkDensity
}
