package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Pdf
import graft.kernels.Pdf.PdfWord

/** Positioned word extraction: every §9.4 text-state operator against
  * hand-computed closed-form positions (font size 10, /Widths 500/600/
  * 700 for A/B/C, default 500 elsewhere, MediaBox height 792 → top =
  * 792 − deviceTop). The driver-gated q_pdf_words oracle re-derives
  * the same layout arithmetic in DuckDB; this suite pins each operator
  * in isolation first.
  */
class PdfWordsSpec extends AnyFunSuite {

  private val SimpleFont =
    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /FirstChar 65 /Widths [500 600 700] >>"

  /** One-page uncompressed PDF with /F1 -> `fontDict` (object 5) and
    * optional extra objects starting at 6.
    */
  private def onePage(content: String, fontDict: String = SimpleFont,
      extraObjs: String = "", mediaBox: String = "[0 0 612 792]"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put(s"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox $mediaBox >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    put(s"5 0 obj $fontDict endobj\n")
    put(extraObjs)
    put("%%EOF\n")
    out.toByteArray
  }

  private def words(content: String, fontDict: String = SimpleFont,
      extraObjs: String = ""): Seq[PdfWord] =
    Pdf.splitPagesWords(onePage(content, fontDict, extraObjs))

  private def approx(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  private def assertBox(w: PdfWord, text: String, x0: Double, top: Double,
      x1: Double, bottom: Double): Unit = {
    assert(w.text == text, s"text of $w")
    assert(approx(w.x0, x0), s"x0 of $w (want $x0)")
    assert(approx(w.top, top), s"top of $w (want $top)")
    assert(approx(w.x1, x1), s"x1 of $w (want $x1)")
    assert(approx(w.bottom, bottom), s"bottom of $w (want $bottom)")
  }

  test("Td + Tj advances by /Widths: AB at exact glyph offsets") {
    val ws = words("BT /F1 10 Tf 100 500 Td (AB) Tj ET")
    assert(ws.length == 1)
    // A: 500/1000*10 = 5pt, B: 6pt; baseline 500, size 10 -> device y 500..510
    assertBox(ws.head, "AB", 100.0, 282.0, 111.0, 292.0)
    assert(ws.head.pageNo == 1 && ws.head.wordNo == 0)
  }

  test("TJ adjustment beyond x-tolerance splits words; within keeps one") {
    val split = words("BT /F1 10 Tf 100 500 Td [(AB) -400 (C)] TJ ET")
    assert(split.map(_.text) == Seq("AB", "C"))
    assertBox(split(0), "AB", 100.0, 282.0, 111.0, 292.0)
    // -400/1000*10 = +4pt gap > 3 -> split; C starts at 115, width 7
    assertBox(split(1), "C", 115.0, 282.0, 122.0, 292.0)
    val kept = words("BT /F1 10 Tf 100 500 Td [(AB) -250 (C)] TJ ET")
    assert(kept.map(_.text) == Seq("ABC"))
    assertBox(kept.head, "ABC", 100.0, 282.0, 120.5, 292.0)
  }

  test("space characters separate words and carry the default width") {
    val ws = words("BT /F1 10 Tf 100 500 Td (A B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(0), "A", 100.0, 282.0, 105.0, 292.0)
    // space (code 32, outside /Widths) advances 500/1000*10 = 5
    assertBox(ws(1), "B", 110.0, 282.0, 116.0, 292.0)
  }

  test("TL + T* moves to the next line; lines cluster separately") {
    val ws = words("BT /F1 10 Tf 20 TL 100 500 Td (A) Tj T* (B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(0), "A", 100.0, 282.0, 105.0, 292.0)
    assertBox(ws(1), "B", 100.0, 302.0, 106.0, 312.0)
    assert(ws.map(_.wordNo) == Seq(0, 1), "reading-stream order is top-down")
  }

  test("TD sets the leading for subsequent T*") {
    val ws = words("BT /F1 10 Tf 100 500 Td (A) Tj 0 -15 TD (B) Tj T* (C) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B", "C"))
    assertBox(ws(1), "B", 100.0, 297.0, 106.0, 307.0) // baseline 485
    assertBox(ws(2), "C", 100.0, 312.0, 107.0, 322.0) // baseline 470
  }

  test("Tm positions absolutely (and resets the line matrix)") {
    val ws = words("BT /F1 10 Tf 1 0 0 1 50 300 Tm (A) Tj ET")
    assertBox(ws.head, "A", 50.0, 482.0, 55.0, 492.0)
  }

  test("Tm scale factors scale glyph boxes and advances") {
    // 2x horizontal, 1x vertical scale
    val ws = words("BT /F1 10 Tf 2 0 0 1 50 300 Tm (AB) Tj ET")
    // A advance 5 -> 10 device; widths double, height unchanged
    assertBox(ws.head, "AB", 50.0, 482.0, 72.0, 492.0)
  }

  test("Tc character spacing widens the advance but not the glyph box") {
    val ws = words("BT /F1 10 Tf 2 Tc 100 500 Td (AB) Tj ET")
    assert(ws.map(_.text) == Seq("AB"), "2pt gap <= tolerance keeps one word")
    // A box 100..105, cursor 107, B box 107..113
    assertBox(ws.head, "AB", 100.0, 282.0, 113.0, 292.0)
  }

  test("Tw word spacing applies to code 32 only") {
    val ws = words("BT /F1 10 Tf 5 Tw 100 500 Td (A B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    // space advance 5 + 5 = 10 -> B at 115
    assertBox(ws(1), "B", 115.0, 282.0, 121.0, 292.0)
  }

  test("Tz horizontal scaling compresses advances and boxes") {
    val ws = words("BT /F1 10 Tf 50 Tz 100 500 Td (AB) Tj ET")
    assertBox(ws.head, "AB", 100.0, 282.0, 105.5, 292.0)
  }

  test("Ts rise lifts the glyph box") {
    val ws = words("BT /F1 10 Tf 100 500 Td 4 Ts (A) Tj ET")
    assertBox(ws.head, "A", 100.0, 278.0, 105.0, 288.0)
  }

  test("' and \" show on the next line with their spacing operands") {
    val ws = words("BT /F1 10 Tf 20 TL 100 500 Td (A) Tj (B) ' 5 2 (C D) \" ET")
    assert(ws.map(_.text) == Seq("A", "B", "C", "D"))
    assertBox(ws(1), "B", 100.0, 302.0, 106.0, 312.0) // baseline 480
    // ": Tw=5 Tc=2, baseline 460; C 100..107, cursor 109,
    // space 5+5+2=12 -> 121, D 121..126
    assertBox(ws(2), "C", 100.0, 322.0, 107.0, 332.0)
    assertBox(ws(3), "D", 121.0, 322.0, 126.0, 332.0)
  }

  test("Type0 /W widths and /DW default drive CID advances") {
    val font = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R /DescendantFonts [7 0 R] >>"
    val cmap = "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
      "1 beginbfrange <0001> <00FF> <0041> endbfrange"
    val extra =
      s"6 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n" +
        "7 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 800 /W [1 [500 600]] >> endobj\n"
    val ws = words("BT /F1 10 Tf 100 500 Td <000100020003> Tj ET", font, extra)
    assert(ws.map(_.text) == Seq("ABC"))
    // CID1 w 500 -> 5pt, CID2 600 -> 6pt, CID3 falls to DW 800 -> 8pt
    assertBox(ws.head, "ABC", 100.0, 282.0, 119.0, 292.0)
  }

  test("Type0 /W range form c1 c2 w") {
    val font = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R /DescendantFonts [7 0 R] >>"
    val cmap = "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
      "1 beginbfrange <0001> <00FF> <0041> endbfrange"
    val extra =
      s"6 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n" +
        "7 0 obj << /Type /Font /Subtype /CIDFontType2 /W [1 3 400] >> endobj\n"
    val ws = words("BT /F1 10 Tf 100 500 Td <00010003> Tj ET", font, extra)
    // both CIDs 4pt wide
    assertBox(ws.head, "AC", 100.0, 282.0, 108.0, 292.0)
  }

  test("a font with no /Widths advances by the documented 500 default") {
    val ws = words("BT /F1 10 Tf 100 500 Td (xy) Tj ET",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")
    assertBox(ws.head, "xy", 100.0, 282.0, 110.0, 292.0)
  }

  test("two columns on one baseline stay separate words with exact gaps") {
    val ws = words(
      "BT /F1 10 Tf 50 700 Td (AA) Tj 1 0 0 1 320 700 Tm (BB) Tj ET")
    assert(ws.map(_.text) == Seq("AA", "BB"))
    assertBox(ws(0), "AA", 50.0, 82.0, 60.0, 92.0)
    assertBox(ws(1), "BB", 320.0, 82.0, 332.0, 92.0)
  }

  test("text state carries across a page's multiple content streams") {
    val c1 = "BT /F1 10 Tf 20 TL 100 500 Td (A) Tj"
    val c2 = "T* (B) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents [4 0 R 6 0 R] >> endobj\n")
    put(s"4 0 obj << /Length ${c1.length} >> stream\n$c1\nendstream endobj\n")
    put(s"5 0 obj $SimpleFont endobj\n")
    put(s"6 0 obj << /Length ${c2.length} >> stream\n$c2\nendstream endobj\n")
    put("%%EOF\n")
    val ws = Pdf.splitPagesWords(out.toByteArray)
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(1), "B", 100.0, 302.0, 106.0, 312.0)
  }

  test("MediaBox inherits from the page tree; a non-zero origin rebases coordinates") {
    // box [0 100 612 942]: height 842, bottom 100 — the glyph at
    // device y 500..510 sits 400..410 above the BOX bottom, so its
    // top-origin distance from the box top is 842 − 410 = 432 (a flip
    // by the extent alone would be off by the 100-pt origin)
    val ws = Pdf.splitPagesWords(onePage("BT /F1 10 Tf 100 500 Td (A) Tj ET",
      mediaBox = "[0 100 612 942]"))
    assertBox(ws.head, "A", 100.0, 432.0, 105.0, 442.0)
    // non-zero left edge rebases x the same way
    val ws2 = Pdf.splitPagesWords(onePage("BT /F1 10 Tf 100 500 Td (A) Tj ET",
      mediaBox = "[40 0 652 792]"))
    assertBox(ws2.head, "A", 60.0, 282.0, 65.0, 292.0)
  }

  test("an indirect /Rotate reference never reads the object number as the angle") {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val content = "BT /F1 10 Tf 100 500 Td (A) Tj ET"
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] /Rotate 90 0 R >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    put(s"5 0 obj $SimpleFont endobj\n")
    put("90 0 obj 180 endobj\n%%EOF\n")
    // indirect value degrades to unrotated (the MediaBoxRe fallback
    // convention) — NOT a 90-degree transpose from the object number
    val ws = Pdf.splitPagesWords(out.toByteArray)
    assertBox(ws.head, "A", 100.0, 282.0, 105.0, 292.0)
  }

  test("BT resets the text matrix between blocks") {
    val ws = words("BT /F1 10 Tf 100 500 Td (A) Tj ET BT /F1 10 Tf 200 400 Td (B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(1), "B", 200.0, 382.0, 206.0, 392.0)
  }

  test("inline image payloads cannot corrupt the operand stream") {
    val ws = words("BT /F1 10 Tf 100 500 Td (A) Tj ET " +
      "BI /W 2 /H 2 /CS /G /BPC 8 ID ÿ(þ)ýü EI " +
      "BT /F1 10 Tf 200 400 Td (B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(1), "B", 200.0, 382.0, 206.0, 392.0)
  }

  test("suppressed codes still advance the cursor") {
    // Type0 with a CMap that maps only CID 2: CID 1 renders nothing
    // but its width must still push CID 2 to the right
    val font = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 6 0 R /DescendantFonts [7 0 R] >>"
    val cmap = "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
      "1 beginbfrange <0002> <0002> <0042> endbfrange"
    val extra =
      s"6 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n" +
        "7 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 700 /W [1 [500 600]] >> endobj\n"
    val ws = words("BT /F1 10 Tf 100 500 Td <00010002> Tj ET", font, extra)
    assert(ws.map(_.text) == Seq("B"))
    assertBox(ws.head, "B", 105.0, 282.0, 111.0, 292.0)
  }

  test("plain-text extraction is unchanged by the scanner refactor") {
    val pages = Pdf.splitPages(onePage("BT /F1 10 Tf 100 500 Td (A B) Tj (C) Tj ET"))
    assert(pages.head.text == "A B C")
  }

  test("% comments are whitespace: operands inside them never go live") {
    // the comment's (x) and numbers must not displace the real
    // operands in either walker (§7.2.4)
    val content = "BT /F1 10 Tf 100 500 Td (A) % draft (x) 9 9\nTj ET"
    val ws = words(content)
    assert(ws.map(_.text) == Seq("A"))
    assertBox(ws.head, "A", 100.0, 282.0, 105.0, 292.0)
    assert(Pdf.splitPages(onePage(content)).head.text == "A")
  }

  test("a hostile nested array degrades to a flattened TJ, never a scrambled stack") {
    val ws = words("BT /F1 10 Tf 100 500 Td [(A) [(B)] (C)] TJ ET")
    // all three strings show, in order, abutting (no adjustments)
    assert(ws.map(_.text) == Seq("ABC"))
  }

  test("unfiltered inline image payloads delimit by exact computed length") {
    // 2x2 gray 8bpc = 4 payload bytes, crafted to contain ' EI ' — a
    // whitespace-scan would truncate inside the payload and execute
    // the trailing bytes as operators; the exact length (and then the
    // real EI) must win
    val ws = words("BT /F1 10 Tf 100 500 Td (A) Tj ET " +
      "BI /W 2 /H 2 /CS /G /BPC 8 ID  EI  EI " +
      "BT /F1 10 Tf 200 400 Td (B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"))
    assertBox(ws(1), "B", 200.0, 382.0, 206.0, 392.0)
  }

  test("cm translates the text frame; q/Q save and restore the CTM") {
    val ws = words("q 1 0 0 1 10 20 cm BT /F1 10 Tf 100 500 Td (A) Tj ET Q " +
      "BT /F1 10 Tf 100 500 Td (B) Tj ET")
    assert(ws.map(_.text) == Seq("A", "B"), "A sits 20pt higher after the cm, so it reads first")
    // A: device (110, 520); B: untranslated after Q
    assertBox(ws.find(_.text == "A").get, "A", 110.0, 262.0, 115.0, 272.0)
    assertBox(ws.find(_.text == "B").get, "B", 100.0, 282.0, 106.0, 292.0)
  }

  test("cm scaling scales glyph boxes and positions") {
    val ws = words("2 0 0 2 0 0 cm BT /F1 10 Tf 100 300 Td (A) Tj ET")
    // everything doubles: origin (200,600), width 10, height 20
    assertBox(ws.head, "A", 200.0, 172.0, 210.0, 192.0)
  }

  /** onePage variant with extra entries on the (inheritable) Pages
    * node — /Rotate lives there in real writers.
    */
  private def onePageRotated(content: String, rotate: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 " +
      s"/MediaBox [0 0 612 792] /Rotate $rotate >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    put(s"5 0 obj $SimpleFont endobj\n%%EOF\n")
    out.toByteArray
  }

  test("/Rotate maps words to the displayed orientation (inherited from Pages)") {
    val content = "BT /F1 10 Tf 100 500 Td (A) Tj ET"
    // device box (100..105, 500..510)
    val r90 = Pdf.splitPagesWords(onePageRotated(content, 90))
    assertBox(r90.head, "A", 500.0, 100.0, 510.0, 105.0) // X'=y, top'=x
    val r180 = Pdf.splitPagesWords(onePageRotated(content, 180))
    assertBox(r180.head, "A", 507.0, 500.0, 512.0, 510.0) // X'=612−x, top'=y0
    val r270 = Pdf.splitPagesWords(onePageRotated(content, 270))
    assertBox(r270.head, "A", 282.0, 507.0, 292.0, 512.0) // X'=792−y, top'=612−x
    val rNeg = Pdf.splitPagesWords(onePageRotated(content, -90)) // ≡ 270
    assertBox(rNeg.head, "A", 282.0, 507.0, 292.0, 512.0)
  }

  test("plain extractText also skips inline images exactly (no phantom text)") {
    // payload bytes spell '(ghost) Tj' — the plain walker must not
    // show them; the word after the image must survive
    val pages = Pdf.splitPages(onePage("BT /F1 10 Tf (real) Tj ET " +
      "BI /W 3 /H 1 /CS /G /BPC 8 ID (ghost) Tj EI " +
      "BT /F1 10 Tf (after) Tj ET"))
    assert(pages.head.text == "real after")
  }

  test("an undelimitable inline image drops the tail, never parses binary as operators") {
    // filtered payload with no /L and no whitespace-delimited EI: the
    // walker must not hallucinate words from the payload bytes
    val ws = words("BT /F1 10 Tf 100 500 Td (A) Tj ET " +
      "BI /W 2 /H 2 /CS /G /BPC 8 /F /Fl ID ÿ(phantom)þTj")
    assert(ws.map(_.text) == Seq("A"))
  }

  /** A one-page PDF whose page (object 3) lists `streams` as its
    * `/Contents` array (objects 10, 11, …) over /F1 -> `fontDict`
    * (object 5) plus `extraObjs`.
    */
  private def multiStreamPage(streams: Seq[Array[Byte]], fontDict: String,
      extraObjs: String = ""): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val refs = streams.indices.map(i => s"${10 + i} 0 R").mkString(" ")
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R " +
      s"/Resources << /Font << /F1 5 0 R >> >> /Contents [$refs] >> endobj\n")
    put(s"5 0 obj $fontDict endobj\n")
    put(extraObjs)
    for ((c, i) <- streams.zipWithIndex) {
      put(s"${10 + i} 0 obj << /Length ${c.length} >> stream\n")
      out.write(c)
      put("\nendstream endobj\n")
    }
    put("%%EOF\n")
    out.toByteArray
  }

  test("a Type0 font set in one content stream decodes the next stream's codes (§7.8.2)") {
    val font = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 6 0 R >>"
    val cmap = "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
      "1 beginbfrange <0000> <00FF> <0000> endbfrange"
    val bytes = multiStreamPage(
      Seq("BT /F1 10 Tf 100 500 Td", "<00480069> Tj ET").map(_.getBytes(ISO_8859_1)), font,
      s"6 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n")
    assert(Pdf.splitPages(bytes).map(_.text) == Seq("Hi"))
    val ws = Pdf.splitPagesWords(bytes)
    assert(ws.map(_.text) == Seq("Hi"))
    // no /DescendantFonts: each CID advances the 1000-unit default
    assertBox(ws.head, "Hi", 100.0, 282.0, 120.0, 292.0)
  }

  test("an array colour space delimits an inline image exactly for text, words and images") {
    // [/I /RGB 1 <…>] is indexed: 9x1 at 8 bpc = 9 payload bytes,
    // which spell ' EI (Z)Tj' — the first ' EI ' is image data
    val payload = " EI (Z)Tj"
    val content = "BT /F1 10 Tf 100 500 Td (A) Tj ET " +
      s"BI /W 9 /H 1 /CS [/I /RGB 1 <000000FFFFFF>] /BPC 8 ID $payload EI " +
      "BT /F1 10 Tf 200 500 Td (B) Tj ET"
    val bytes = onePage(content)
    assert(Pdf.splitPages(bytes).map(_.text) == Seq("A B"))
    assert(Pdf.splitPagesWords(bytes).map(_.text) == Seq("A", "B"))
    val imgs = Pdf.extractImages(bytes)
    assert(imgs.map(i => (i.name, i.width, i.height, i.channels)) == Seq(("BI#1", 9, 1, 1)))
    assert(new String(imgs.head.data, ISO_8859_1) == payload)
  }

  test("a bare inline JPEG whose body spells ' EI ' delimits by its marker structure everywhere") {
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (x * 41 + y * 97) * 30000)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    val jpeg0 = jb.toByteArray
    // a COM segment right after SOI whose text is ' EI (Z)Tj': the
    // marker walk steps over it by its declared length
    val com = " EI (Z)Tj".getBytes(ISO_8859_1)
    val jpeg = jpeg0.take(2) ++ Array(0xff.toByte, 0xfe.toByte, 0.toByte, (com.length + 2).toByte) ++
      com ++ jpeg0.drop(2)
    val content = new java.io.ByteArrayOutputStream()
    content.write(("BT /F1 10 Tf 100 500 Td (A) Tj ET " +
      "q BI /W 6 /H 4 /CS /RGB /BPC 8 /F /DCT ID ").getBytes(ISO_8859_1))
    content.write(jpeg)
    content.write(" EI Q BT /F1 10 Tf 200 500 Td (B) Tj ET".getBytes(ISO_8859_1))
    val bytes = onePage(new String(content.toByteArray, ISO_8859_1))
    assert(Pdf.splitPages(bytes).map(_.text) == Seq("A B"))
    assert(Pdf.splitPagesWords(bytes).map(_.text) == Seq("A", "B"))
    val imgs = Pdf.extractImages(bytes)
    assert(imgs.map(i => (i.name, i.width, i.height, i.format)) == Seq(("BI#1", 6, 4, "jpeg")))
    assert(imgs.head.data.sameElements(jpeg))
  }

  test("an unterminated << skips alone: the show-text operators after it still read") {
    // one damaged byte turned the font operand into a dict opener that
    // never closes (the PdfFuzzSpec `columns` mutant shape)
    val bytes = onePage("BT << /Type /F1 10 Tf 100 500 Td (alpha) Tj ET " +
      "BT /F1 10 Tf 200 500 Td (beta) Tj ET")
    assert(Pdf.splitPages(bytes).map(_.text) == Seq("alpha beta"))
    assert(Pdf.splitPagesWords(bytes).map(_.text) == Seq("alpha", "beta"))
    // a closed dict operand still skips whole: its string never shows
    val closed = onePage("BT /F1 10 Tf 100 500 Td /Span << /ActualText (gamma) >> BDC " +
      "(alpha) Tj EMC ET")
    assert(Pdf.splitPages(closed).map(_.text) == Seq("alpha"))
    assert(Pdf.splitPagesWords(closed).map(_.text) == Seq("alpha"))
  }
}
