package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.Pdf

/** Corrupt-byte robustness: at corpus scale, one malformed PDF that
  * throws out of a kernel kills the whole Spark task (and with it the
  * job's retry budget) — the kernel contract is ALWAYS
  * skip-or-degrade, never throw. This spec drives deterministic
  * random mutations (bit flips, truncations, splices, zeroed and
  * duplicated ranges) of every fixture family — plain text, Flate,
  * images (raster/JPEG/RLE), inline images, and all three encryption
  * generations — through `splitPages`, `extractImages`, and
  * `emitPages`, asserting no Throwable escapes, and that emitted
  * pages re-parse without throwing. The seed is fixed so a failure
  * reproduces exactly (base name + mutant index are in the message).
  */
class PdfFuzzSpec extends AnyFunSuite {

  private val MutantsPerBase = 200

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/pdf/$name")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private def textPdf: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val c1 = "BT /F1 12 Tf (first page text) Tj ET"
    val c2raw = "BT /F1 12 Tf (second, deflated) Tj ET"
    val c2 = Pdf.deflate(c2raw.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${c1.length} >> stream\n$c1\nendstream endobj\n")
    put("5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
    put(s"6 0 obj << /Length ${c2.length} /Filter /FlateDecode >> stream\n")
    out.write(c2)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  private def imagePdf: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val raw = Array.tabulate[Byte](6 * 4 * 3)(i => (i * 11 + 5).toByte)
    val z = Pdf.deflate(raw)
    val content = "q 100 0 0 100 0 0 cm /Im1 Do Q"
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Resources << /XObject " +
      "<< /Im1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    put("5 0 obj << /Type /XObject /Subtype /Image /Width 6 /Height 4 " +
      "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode " +
      s"/Length ${z.length} >> stream\n")
    out.write(z)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  private def inlineImagePdf: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val raw = Array.tabulate[Byte](4 * 3 * 3)(i => (i * 7 + 1).toByte)
    val body = new java.io.ByteArrayOutputStream()
    body.write("q BI /W 4 /H 3 /CS /RGB /BPC 8 ID ".getBytes(ISO_8859_1))
    body.write(raw)
    body.write(" EI Q BT (after) Tj ET".getBytes(ISO_8859_1))
    val content = body.toByteArray
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  /** Inline JPEG with no /L — mutants drive the marker-structure
    * scan (jpegScanLength) through corrupt segment lengths, truncated
    * entropy data, and fake markers.
    */
  private def inlineDctPdf: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (x * 19 + y * 5) * 60000)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    val body = new java.io.ByteArrayOutputStream()
    body.write("q BI /W 6 /H 4 /CS /RGB /BPC 8 /F /DCT ID ".getBytes(ISO_8859_1))
    body.write(jb.toByteArray)
    body.write(" EI Q BT (after) Tj ET".getBytes(ISO_8859_1))
    val content = body.toByteArray
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  private lazy val bases: Seq[(String, Array[Byte])] = Seq(
    "text" -> textPdf,
    "image" -> imagePdf,
    "inline" -> inlineImagePdf,
    "inline_dct" -> inlineDctPdf,
    "rc4" -> resource("rc4_r3_empty_user.pdf"),
    "rc4_setuser" -> resource("rc4_r3_set_user.pdf"),
    "aesv2" -> resource("aesv2_r4_empty_user.pdf"),
    "aesv3" -> resource("aesv3_r6_empty_user.pdf"),
    "cid" -> resource("cid_nonbmp.pdf"),
    // positioned-text fixtures: the operand-stack walker (matrices,
    // widths, TJ arrays, Tm placements) sees the same mutation storm
    "words" -> SparkEntry.synthPdfWords(7L),
    "columns" -> SparkEntry.synthPdfTwoColumn(3L))

  /** One deterministic mutant: 1–3 structural corruptions. */
  private def mutate(base: Array[Byte], rnd: java.util.Random): Array[Byte] = {
    var b = base.clone()
    val ops = 1 + rnd.nextInt(3)
    for (_ <- 0 until ops if b.length > 4) {
      rnd.nextInt(6) match {
        case 0 => // bit flip
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
        case 1 => // overwrite a byte with a structural character
          val chars = "<>()[]/% 0stream".getBytes(ISO_8859_1)
          b(rnd.nextInt(b.length)) = chars(rnd.nextInt(chars.length))
        case 2 => // truncate
          b = java.util.Arrays.copyOf(b, 1 + rnd.nextInt(b.length))
        case 3 => // zero a range
          val s = rnd.nextInt(b.length)
          val e = math.min(b.length, s + 1 + rnd.nextInt(64))
          java.util.Arrays.fill(b, s, e, 0.toByte)
        case 4 => // duplicate a slice elsewhere (shifts offsets)
          val s = rnd.nextInt(b.length)
          val len = math.min(b.length - s, 1 + rnd.nextInt(48))
          val at = rnd.nextInt(b.length)
          val nb = new Array[Byte](b.length + len)
          System.arraycopy(b, 0, nb, 0, at)
          System.arraycopy(b, s, nb, at, len)
          System.arraycopy(b, at, nb, at + len, b.length - at)
          b = nb
        case _ => // delete a range (breaks /Length promises)
          val s = rnd.nextInt(b.length)
          val len = math.min(b.length - s, 1 + rnd.nextInt(48))
          val nb = new Array[Byte](b.length - len)
          System.arraycopy(b, 0, nb, 0, s)
          System.arraycopy(b, s + len, nb, s, b.length - s - len)
          b = nb
      }
    }
    b
  }

  private def drive(name: String, i: Int, bytes: Array[Byte]): Unit =
    try {
      Pdf.splitPages(bytes)
      Pdf.splitPagesWords(bytes)
      Pdf.extractImages(bytes)
      // emitted pages must themselves re-parse without throwing
      for ((_, page) <- Pdf.emitPages(bytes)) {
        Pdf.splitPages(page)
        Pdf.splitPagesWords(page)
        Pdf.extractImages(page)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"kernel threw on mutant $name#$i: ${e.getClass.getName}: ${e.getMessage}", e)
    }

  test("no kernel entry point throws on any deterministic mutant") {
    for ((baseName, baseBytes) <- bases) {
      val rnd = new java.util.Random(0xC0FFEE + baseName.hashCode.toLong)
      for (i <- 0 until MutantsPerBase)
        drive(baseName, i, mutate(baseBytes, rnd))
    }
  }

  test("a damaged endobj ends its object at the next header; the next object survives") {
    // the `inline` base with the page object's `endobj` overwritten —
    // the shape of mutants inline#108 and inline#197: the page must
    // still resolve `/Contents 4 0 R` to object 4's stream
    val base = inlineImagePdf
    val s = new String(base, ISO_8859_1)
    val at = s.indexOf("endobj", s.indexOf("3 0 obj"))
    for (damage <- Seq(" ", "0", "\u0000")) {
      val bytes = base.clone()
      bytes(at + 4) = damage.charAt(0).toByte // "endo?j"
      assert(Pdf.splitPages(bytes).map(_.text) == Seq("after"), s"text, damage '$damage'")
      assert(Pdf.splitPagesWords(bytes).map(_.text) == Seq("after"), s"words, damage '$damage'")
      val imgs = Pdf.extractImages(bytes)
      assert(imgs.map(i => (i.name, i.width, i.height)) == Seq(("BI#1", 4, 3)), s"images, damage '$damage'")
    }
  }

  test("degenerate inputs: empty, header-only, random bytes, huge-claim /Length") {
    val rnd = new java.util.Random(7)
    val randomJunk = new Array[Byte](4096)
    rnd.nextBytes(randomJunk)
    val hugeLen = ("%PDF-1.4\n1 0 obj << /Length 2147483647 >> stream\nabc\n" +
      "endstream endobj\n%%EOF").getBytes(ISO_8859_1)
    for (b <- Seq(Array.emptyByteArray, "%PDF-1.7".getBytes(ISO_8859_1),
        randomJunk, hugeLen))
      drive("degenerate", 0, b)
  }
}
