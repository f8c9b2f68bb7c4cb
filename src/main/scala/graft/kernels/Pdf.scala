package graft.kernels

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Minimal PDF page splitting — the reference's
  * `SerializerPdfDoc.load/split` (dd_core/dataflow/custom_serialize
  * .py:674) walks a document and emits one datapoint per page via
  * `pdf_utils.PDFStreamer` (dd_core/utils/pdf_utils.py:406).
  *
  * This sandbox has no PDF library, so the parser is built from the
  * public PDF spec with the JDK only: it scans the byte stream for
  * `N G obj … endobj` objects (skipping stream payloads while
  * scanning, honoring `/Length` — direct, or indirect via an
  * integer-object pre-pass — so binary bytes can't fake object
  * boundaries), identifies page objects (`/Type /Page`, not
  * `/Pages`), resolves their `/Contents N G R` reference (single or
  * array), and extracts text from the content streams (`(…) Tj` and
  * `[…] TJ` show-text operators, with PDF string escapes).
  * `/FlateDecode` streams — the common case in real-world PDFs — are
  * inflated with `java.util.zip.Inflater` (FlateDecode IS zlib,
  * ISO 32000-1 §7.4.4) before text extraction; ASCII85/ASCIIHex
  * transport filters decode too, including `[/ASCII85Decode
  * /FlateDecode]` chains, and `/Type /ObjStm` object streams
  * (PDF ≥1.5 — where modern writers put the page dicts) are expanded
  * into the object list. PNG-predictor-coded Flate (§7.4.4.4,
  * predictors 10–15) un-filters row-by-row after inflation. Text
  * decodes through FONT STATE (round 5): `Tf` tracks the current font,
  * the page's `/Resources /Font` dict resolves to font objects, and
  * their `/ToUnicode` CMaps (`bfchar`/`bfrange`) map character codes
  * to Unicode — so CID-font hex strings (Identity-H, the dominant
  * modern encoding) extract real text; a Type0 font WITHOUT a CMap
  * suppresses its strings (empty beats garbage), and `/Encoding
  * /Differences` glyph-name remaps resolve through an Adobe-Glyph-List
  * subset. LZWDecode (§7.4.4.2, incl. EarlyChange) and TIFF
  * Predictor 2 decode natively; encrypted documents (standard
  * security handler — RC4 V1/V2 R2/R3, AES-128 `/AESV2` V4 R4, and
  * AES-256 `/AESV3` V5 R5/R6 incl. the Algorithm 2.B KDF) decrypt
  * through a verified password gate whenever EITHER password is empty:
  * the empty user password directly, or a SET user password recovered
  * from `/O` via the empty owner password (Algorithm 3 inverted).
  * Honest residual gaps: image-codec filters (DCT/JBIG2/JPX) and
  * documents with BOTH passwords set yield pages with empty text
  * rather than garbage — the page COUNT and per-page split still
  * work.
  */
object Pdf {

  final case class PdfPage(pageNo: Int, objOffset: Long, text: String)

  /** One indirect object: number, byte offset, dict/body text (before
    * any stream keyword), the raw (still-encoded) stream payload, and
    * the generation number (per-object decryption keys depend on it —
    * incremental updates write gen > 0).
    */
  final case class PdfObj(num: Int, off: Int, dict: String,
      stream: Option[Array[Byte]], gen: Int = 0)

  private val HeaderRe = """(\d+)\s+(\d+)\s+obj""".r.pattern
  private val ContentsRefRe = """/Contents\s+(\d+)\s+(\d+)\s+R""".r
  private val ContentsArrRe = """(?s)/Contents\s*\[(.*?)\]""".r
  private val RefRe = """(\d+)\s+(\d+)\s+R""".r
  // a direct /Length (an indirect `/Length N G R` resolves via the
  // integer-object pre-pass, else falls to the endstream scan).
  // (?!\d) pins the full number so (\d+) can't backtrack to a prefix
  // that sneaks past the indirect-ref lookahead
  private val LengthRe = """/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)""".r
  private val LengthRefRe = """/Length\s+(\d+)\s+\d+\s+R""".r
  // a whole object that is just an integer (how writers emit stream
  // lengths they only know after writing): `12 0 obj 4096 endobj`
  private val IntObjRe = """(\d+)\s+\d+\s+obj\s*(\d+)\s*endobj""".r

  /** First occurrence of the `stream` KEYWORD at or after `from`:
    * preceded by `>>` plus optional whitespace, followed by CR/LF, and
    * not the tail of `endstream`. −1 when absent.
    */
  private def findStreamKeyword(s: String, from: Int): Int = {
    var p = s.indexOf("stream", from)
    while (p >= 0) {
      val after = p + 6
      val okAfter = after < s.length &&
        (s.charAt(after) == '\n' || s.charAt(after) == '\r')
      var q = p - 1
      while (q >= 0 && Character.isWhitespace(s.charAt(q))) q -= 1
      val okBefore = q >= 1 && s.charAt(q) == '>' && s.charAt(q - 1) == '>'
      val notEndstream = !(p >= 3 && s.regionMatches(p - 3, "end", 0, 3))
      if (okAfter && okBefore && notEndstream) return p
      p = s.indexOf("stream", p + 1)
    }
    -1
  }

  /** Sequential object scan. Latin-1 decode is byte-preserving, so
    * offsets/regex stay exact and stream payloads round-trip through
    * `.getBytes(ISO_8859_1)`. Stream payloads are SKIPPED while
    * looking for `endobj`: deflate output is arbitrary binary that can
    * contain `endobj`/`N G obj` byte runs, so a flat regex over the
    * file (the round-2 design) could truncate or invent objects.
    */
  def scanObjects(bytes: Array[Byte]): Vector[PdfObj] =
    scanObjectsStr(new String(bytes, StandardCharsets.ISO_8859_1))

  /** String-level scan so [[prepare]] materializes the (large)
    * Latin-1 view exactly once per document.
    */
  private def scanObjectsStr(s: String): Vector[PdfObj] = {
    // pre-pass: integer-valued objects, so an INDIRECT `/Length N G R`
    // can still slice its stream exactly (the endstream fallback can be
    // fooled by binary payloads containing the 'endstream' bytes —
    // deflate stored blocks make that craftable). The pattern is
    // specific enough (obj <digits> endobj) that binary false positives
    // would need those exact bytes in sequence; worst case it resolves
    // a wrong length and the <= s.length guard falls back to the scan.
    val intObjs: Map[Int, Long] = IntObjRe.findAllMatchIn(s).flatMap { m =>
      // toLong-safe: both groups are bounded digit runs, but the VALUE
      // may exceed Long on adversarial input — skip those
      scala.util.Try(m.group(1).toInt -> m.group(2).toLong).toOption
    }.toMap
    val out = Vector.newBuilder[PdfObj]
    val m = HeaderRe.matcher(s)
    val next = HeaderRe.matcher(s)
    var p = 0
    var go = p < s.length && m.find(p)
    while (go) {
      // >Int.MaxValue object/generation digit runs: corrupt input —
      // skip the match, never throw out of the task
      val num = m.group(1).toIntOption.getOrElse(-1)
      val gen = m.group(2).toIntOption.getOrElse(0)
      val off = m.start
      val bodyStart = m.end
      val endobj0 = s.indexOf("endobj", bodyStart)
      // the stream KEYWORD (not the substring — a dict-only object can
      // carry 'stream' inside a string or name, e.g. /PieceInfo text):
      // per spec it follows the dict close '>>' (optional whitespace
      // between) and is itself followed by CRLF or LF
      val streamKw = findStreamKeyword(s, bodyStart)
      val isStream = streamKw >= 0 && streamKw < endobj0
      // a damaged `endobj`: the next object's header comes before this
      // object's end (or its stream keyword), so the object ends there
      // and the next one is scanned in its own right instead of being
      // swallowed (its stream taken for this dict's, its number lost)
      val nextHdr =
        if (num < 0 || endobj0 < 0) -1
        else {
          next.region(bodyStart, if (isStream) streamKw else endobj0)
          if (next.find()) next.start else -1
        }
      if (num < 0) go = m.find(bodyStart)
      else if (endobj0 < 0) go = false
      else if (nextHdr >= 0) {
        out += PdfObj(num, off, s.substring(bodyStart, nextHdr), None, gen)
        go = m.find(nextHdr)
      } else if (!isStream) {
        out += PdfObj(num, off, s.substring(bodyStart, endobj0), None, gen)
        go = m.find(endobj0 + 6)
      } else {
        val dict = s.substring(bodyStart, streamKw)
        // spec: the stream keyword is followed by CRLF or LF (not bare CR)
        var dataStart = streamKw + 6
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        // toLong + Try: a corrupt `/Length 99999999999999999999` must
        // degrade to the fallback scan, not throw out of the job
        val declaredLen: Option[Long] =
          LengthRe.findFirstMatchIn(dict)
            .flatMap(lm => scala.util.Try(lm.group(1).toLong).toOption)
            .orElse(LengthRefRe.findFirstMatchIn(dict).flatMap(lm =>
              scala.util.Try(lm.group(1).toInt).toOption.flatMap(intObjs.get)))
        val dataEnd = declaredLen match {
          case Some(len) if len >= 0 && dataStart + len <= s.length =>
            (dataStart + len).toInt
          case _ =>
            // no resolvable /Length: scan for endstream. Deliberately
            // do NOT strip the preceding EOL — whether a trailing
            // \r/\n byte is the separator or the last DATA byte is
            // ambiguous without a length (stripping once truncated a
            // deflate stream whose final byte was 0x0d), and both
            // consumers tolerate the extra byte: Inflater stops at the
            // deflate stream end, extractText ignores whitespace.
            val es = s.indexOf("endstream", dataStart)
            if (es < 0) dataStart else es
        }
        val data = s.substring(dataStart, dataEnd).getBytes(StandardCharsets.ISO_8859_1)
        val endobj = s.indexOf("endobj", math.max(dataEnd, dataStart))
        out += PdfObj(num, off, dict, Some(data), gen)
        if (endobj < 0) go = false else go = m.find(endobj + 6)
      }
    }
    out.result()
  }

  /** Inflate a zlib (FlateDecode) payload; None for truncated,
    * corrupt, or preset-dictionary streams (strict — garbage text is
    * worse than the documented empty page).
    */
  def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
      val buf = new Array[Byte](8192)
      var n = inf.inflate(buf)
      while (n > 0) {
        out.write(buf, 0, n)
        n = inf.inflate(buf)
      }
      // n == 0 means finished, truncated (needsInput), or needsDictionary
      if (inf.finished()) Some(out.toByteArray) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Deflate (zlib) — [[inflate]]'s inverse; shared by the in-flight
    * fixture generators (SparkEntry synth PDFs, specs).
    */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** ASCII85 decode (ISO 32000-1 §7.4.3): groups of 5 chars '!'..'u'
    * → 4 bytes base 85, 'z' = four zero bytes, whitespace ignored,
    * `~>` terminates, partial final group keeps n−1 bytes. None on any
    * malformed input (strict, like [[inflate]]).
    */
  def ascii85(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var g = 0
    var i = 0
    var done = false
    def flush(n: Int): Boolean = {
      if (n < 2) return n == 0
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < n) group(k) else 84); k += 1 }
      if (v > 0xffffffffL) return false
      var b = 0
      while (b < n - 1) { out.write(((v >>> (24 - 8 * b)) & 0xff).toInt); b += 1 }
      true
    }
    while (i < data.length && !done) {
      val c = data(i).toInt & 0xff
      if (c == '~') done = true // `~>` terminator
      else if (c == 'z' && g == 0) out.write(Array[Byte](0, 0, 0, 0))
      else if (c >= '!' && c <= 'u') {
        group(g) = c - '!'
        g += 1
        if (g == 5) { if (!flush(5)) return None; g = 0 }
      } else if (!Character.isWhitespace(c)) return None
      i += 1
    }
    if (flush(g)) Some(out.toByteArray) else None
  }

  /** ASCIIHex decode (§7.4.2): hex pairs, whitespace ignored, `>`
    * terminates, odd final digit padded with 0.
    */
  def asciiHex(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toInt & 0xff
      if (c == '>') done = true
      else if (!Character.isWhitespace(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) return None
        if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi * 16)
    Some(out.toByteArray)
  }

  /** RunLengthDecode (§7.4.5): length byte L then data — L ≤ 127 →
    * copy the next L+1 bytes literally; L ≥ 129 → repeat the next
    * byte 257−L times; L = 128 → EOD. A record running past the
    * input is corrupt → None (skip beats garbage).
    */
  def runLength(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val l = data(i).toInt & 0xff
      if (l == 128) return Some(out.toByteArray) // EOD
      else if (l <= 127) {
        if (i + 1 + l + 1 > data.length) return None
        out.write(data, i + 1, l + 1)
        i += l + 2
      } else {
        if (i + 1 >= data.length) return None
        var n = 257 - l
        while (n > 0) { out.write(data(i + 1)); n -= 1 }
        i += 2
      }
    }
    // EOD marker missing: tolerated (some writers rely on /Length),
    // the decoded prefix is complete
    Some(out.toByteArray)
  }

  // filter names in application order: `/Filter /Name` or
  // `/Filter [/A /B]` (§7.3.8: array = filters applied in sequence)
  private val FilterClauseRe = """(?s)/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)""".r
  private val NameRe = """/([A-Za-z0-9]+)""".r

  private def filtersOf(dict: String): Seq[String] =
    FilterClauseRe.findFirstMatchIn(dict)
      .map(m => NameRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil)

  private val PredictorRe = """/Predictor\s+(\d+)""".r
  private val ColumnsRe = """/Columns\s+(\d+)""".r
  private val ColorsRe = """/Colors\s+(\d+)""".r
  private val BpcRe = """/BitsPerComponent\s+(\d+)""".r
  // like /Length: a corrupt numeric param must DEGRADE (absent →
  // default; present-but-unparseable → stream decode fails to None),
  // never throw out of the Spark task — one malformed PDF must not
  // kill a corpus job
  private def paramOr(re: scala.util.matching.Regex, dict: String, dflt: Int): Option[Int] =
    re.findFirstMatchIn(dict) match {
      case None => Some(dflt)
      case Some(m) => m.group(1).toIntOption
    }

  /** Bounded hex→Int for CMap tokens; None on overflow (a >8-digit
    * token is outside any code space this decoder maps).
    */
  private def hexInt(s: String): Option[Int] =
    if (s.isEmpty || s.length > 8) None
    else scala.util.Try(java.lang.Long.parseLong(s, 16)).toOption
      .filter(_ <= Int.MaxValue).map(_.toInt)

  /** Reverse PNG row predictors (ISO 32000-1 §7.4.4.4 / RFC 2083 §6):
    * each row is a filter-type byte then `rowLen` filtered bytes; types
    * 0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth reconstruct against the
    * left/up/up-left neighbours at `bpp` byte distance. Strict: a
    * length that isn't whole rows, or an unknown filter type, → None.
    */
  def unpredictPng(data: Array[Byte], columns: Int, colors: Int, bpc: Int): Option[Array[Byte]] = {
    val rowLen = (columns.toLong * colors * bpc + 7) / 8
    if (rowLen <= 0 || rowLen > Int.MaxValue - 1 ||
        data.length % (rowLen + 1) != 0) return None
    val rl = rowLen.toInt
    val bpp = math.max(1, colors * bpc / 8)
    val rows = data.length / (rl + 1)
    val out = new Array[Byte](rows * rl)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rl + 1)) & 0xff
      val src = r * (rl + 1) + 1
      val dst = r * rl
      var i = 0
      while (i < rl) {
        val x = data(src + i) & 0xff
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val b = if (r > 0) out(dst - rl + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) out(dst - rl + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) / 2)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    Some(out)
  }

  /** LZW decode (ISO 32000-1 §7.4.4.2 — the TIFF variant): 9→12-bit
    * MSB-first variable-width codes; 256 = clear-table, 257 = EOD;
    * width bumps one entry EARLY by default (`/EarlyChange 1`). Strict
    * on impossible codes (→ None); a missing EOD at end-of-data is
    * tolerated (some writers omit it).
    */
  def lzw(data: Array[Byte], earlyChange: Int = 1): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
    val dict = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
    var dictSize = 258
    var codeWidth = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    while (pos < data.length || bitCnt >= codeWidth) {
      while (bitCnt < codeWidth && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xffL); bitCnt += 8; pos += 1
      }
      if (bitCnt < codeWidth) return Some(out.toByteArray) // trailing pad bits
      val code = ((bitBuf >>> (bitCnt - codeWidth)) & ((1L << codeWidth) - 1)).toInt
      bitCnt -= codeWidth
      if (code == 256) { dictSize = 258; codeWidth = 9; prev = null }
      else if (code == 257) return Some(out.toByteArray)
      else {
        val entry: Array[Byte] =
          if (code < 256) dict(code)
          else if (code < dictSize && dict(code) != null) dict(code)
          else if (code == dictSize && prev != null) prev :+ prev(0) // KwKwK case
          else return None
        out.write(entry, 0, entry.length)
        if (prev != null && dictSize < 4096) { dict(dictSize) = prev :+ entry(0); dictSize += 1 }
        prev = entry
        if (codeWidth < 12 && dictSize >= (1 << codeWidth) - earlyChange) codeWidth += 1
      }
    }
    Some(out.toByteArray)
  }

  private val EarlyChangeRe = """/EarlyChange\s+(\d+)""".r

  /** TIFF Predictor 2 (§7.4.4.3): horizontal differencing — each
    * sample is a delta from the previous sample of the same component
    * in its row; rows carry no filter-type byte. All legal PDF sample
    * depths decode: 8-bit in place, 16-bit as big-endian shorts,
    * sub-byte (1/2/4-bit) by unpacking each row's samples MSB-first,
    * cumulative-summing per component modulo the sample range, and
    * repacking (round 6 — previously a documented 8-bit-only skip).
    */
  def unpredictTiff(data: Array[Byte], columns: Int, colors: Int, bpc: Int): Option[Array[Byte]] = {
    val samplesPerRow = columns.toLong * colors
    if (samplesPerRow <= 0 || samplesPerRow > Int.MaxValue) return None
    bpc match {
      case 8 =>
        val rl = samplesPerRow.toInt
        if (data.length % rl != 0) return None
        val out = data.clone()
        var r = 0
        while (r < out.length) {
          var i = colors
          while (i < rl) {
            out(r + i) = ((out(r + i) + out(r + i - colors)) & 0xff).toByte
            i += 1
          }
          r += rl
        }
        Some(out)
      case 16 =>
        val rl = samplesPerRow.toInt * 2
        if (rl <= 0 || data.length % rl != 0) return None
        val out = data.clone()
        var r = 0
        while (r < out.length) {
          var i = colors * 2
          while (i < rl) {
            val prev = ((out(r + i - colors * 2) & 0xff) << 8) | (out(r + i - colors * 2 + 1) & 0xff)
            val cur = ((out(r + i) & 0xff) << 8) | (out(r + i + 1) & 0xff)
            val v = (cur + prev) & 0xffff
            out(r + i) = ((v >> 8) & 0xff).toByte
            out(r + i + 1) = (v & 0xff).toByte
            i += 2
          }
          r += rl
        }
        Some(out)
      case 1 | 2 | 4 =>
        val rowBytes = ((samplesPerRow * bpc + 7) / 8).toInt
        if (rowBytes <= 0 || data.length % rowBytes != 0) return None
        val rows = data.length / rowBytes
        // allocation is bounded by the STREAM size: a dict-declared
        // /Columns must never amplify memory (a crafted 32-bit column
        // count would make a samples-per-row Int buffer up to 32× the
        // payload — an OutOfMemoryError escapes the per-PDF quarantine
        // and kills the task). Prior samples are read back from the
        // already-written output bits instead.
        val out = new Array[Byte](data.length)
        val mask = (1 << bpc) - 1
        val spr = samplesPerRow.toInt
        def getS(arr: Array[Byte], base: Int, s: Int): Int = {
          val bit = s * bpc
          (arr(base + (bit >> 3)) >> (8 - bpc - (bit & 7))) & mask
        }
        var r = 0
        while (r < rows) {
          val base = r * rowBytes
          var s = 0
          while (s < spr) {
            val raw = getS(data, base, s)
            // cumulative sum per component, modulo the sample range
            val v = if (s < colors) raw else (raw + getS(out, base, s - colors)) & mask
            val bit = s * bpc
            val idx = base + (bit >> 3)
            out(idx) = (out(idx) | (v << (8 - bpc - (bit & 7)))).toByte
            s += 1
          }
          r += 1
        }
        Some(out)
      case _ => None
    }
  }

  /** Post-inflate predictor stage: 1 = identity, 2 = TIFF horizontal
    * differencing, 10–15 = PNG row filters (§7.4.4.4 — the spec says
    * any PNG predictor value merely selects per-row filtering, so they
    * share one decoder).
    */
  private def applyPredictor(dict: String, data: Array[Byte]): Option[Array[Byte]] =
    paramOr(PredictorRe, dict, 1) match {
      case Some(1) => Some(data)
      case Some(p) if p == 2 || (p >= 10 && p <= 15) =>
        for {
          cols <- paramOr(ColumnsRe, dict, 1)
          colors <- paramOr(ColorsRe, dict, 1)
          bpc <- paramOr(BpcRe, dict, 8)
          out <- (if (p == 2) unpredictTiff(data, cols, colors, bpc)
                  else unpredictPng(data, cols, colors, bpc))
        } yield out
      case _ => None
    }

  /** Decode a stream payload through its (possibly chained) filters:
    * Flate / LZW (both incl. PNG predictors) / ASCII85 / ASCIIHex /
    * RunLength supported; None (documented skip) for every other
    * filter (DCT, JBIG2, JPX, Crypt, …).
    */
  def decodeStream(dict: String, data: Array[Byte]): Option[Array[Byte]] =
    transportChain(data, filtersOf(dict), dict)

  // ---------------------------------------------------------------
  // Font state (round 5): /Resources /Font resolution, /ToUnicode
  // CMaps, /Encoding /Differences. Reference semantics:
  // extern/pdftext.py:50,138 (pdfplumber/pdfium resolve these per
  // font); rebuilt here from ISO 32000-1 §9.6–9.10 + Adobe CMap spec.
  // ---------------------------------------------------------------

  /** Per-font decode state: Type0 (CID) fonts show 2-byte codes that
    * MUST go through a ToUnicode CMap (no CMap → strings suppressed:
    * empty beats garbage); simple fonts show 1-byte codes through
    * ToUnicode, else `/Differences`, else the base encoding
    * (`/WinAnsiEncoding` = windows-1252, `/MacRomanEncoding` =
    * x-MacRoman — Annex D), else Latin-1 identity.
    */
  final case class PdfFont(isType0: Boolean,
      toUnicode: Option[Map[Int, String]], differences: Map[Int, String],
      baseEncoding: Map[Int, String] = Map.empty,
      suppressUnmapped: Boolean = false,
      metrics: PdfFontMetrics = PdfFontMetrics())

  /** High-half (0x80–0xFF) tables for the Annex D base encodings,
    * derived from the JDK charsets (windows-1252 / x-MacRoman) —
    * codes the charset leaves undefined are dropped, not garbage.
    * 0x00–0x7F is ASCII in both and needs no table.
    */
  private def highHalfTable(charsetName: String): Map[Int, String] =
    scala.util.Try(java.nio.charset.Charset.forName(charsetName)).toOption match {
      case None => Map.empty
      case Some(cs) =>
        (0x80 to 0xff).map { b =>
          val s = new String(Array(b.toByte), cs)
          // undefined bytes decode to U+FFFD (or pass through as C1
          // controls in the JDK cp1252 decoder) — map them to "" so
          // the identity fallback can't re-emit them as garbage
          val undefined = s == "�" ||
            (s.length == 1 && s.charAt(0) >= 0x80 && s.charAt(0) <= 0x9f)
          b -> (if (undefined) "" else s)
        }.toMap
    }
  private lazy val WinAnsiHigh = highHalfTable("windows-1252")
  private lazy val MacRomanHigh = highHalfTable("x-MacRoman")

  /** Substring of `s` spanning the balanced `<< … >>` whose opening
    * `<<` starts at `open`; None if unterminated.
    */
  private def balancedDict(s: String, open: Int): Option[String] = {
    var i = open
    var depth = 0
    while (i + 1 < s.length) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return Some(s.substring(open, i))
      } else i += 1
    }
    None
  }

  /** Index of `/Key` in `body` where the match is the WHOLE key (the
    * next char is a delimiter, so `/Font` can't hit `/FontFile`).
    */
  private def keyIndex(body: String, key: String): Int = {
    var k = body.indexOf(key)
    while (k >= 0) {
      val after = k + key.length
      if (after >= body.length || !Character.isLetterOrDigit(body.charAt(after))) return k
      k = body.indexOf(key, k + 1)
    }
    -1
  }

  private val AnchoredRefRe = """^(\d+)\s+\d+\s+R""".r

  /** The dict VALUE of `/Key` in `body`: an inline `<< … >>` taken
    * balanced, or an indirect `N G R` resolved through `byNum` (whose
    * object body is itself scanned for its leading dict). None when
    * the key is absent or its value is neither (e.g. a name like
    * `/Encoding /Identity-H`).
    */
  private def dictValue(body: String, key: String, byNum: Map[Int, PdfObj]): Option[String] = {
    val k = keyIndex(body, key)
    if (k < 0) return None
    var i = k + key.length
    while (i < body.length && Character.isWhitespace(body.charAt(i))) i += 1
    if (i + 1 < body.length && body.charAt(i) == '<' && body.charAt(i + 1) == '<')
      balancedDict(body, i)
    else
      AnchoredRefRe.findFirstMatchIn(body.substring(i, math.min(body.length, i + 24)))
        .flatMap(_.group(1).toIntOption).flatMap(byNum.get).flatMap { o =>
          val d = o.dict
          val open = d.indexOf("<<")
          if (open < 0) None else balancedDict(d, open)
        }
  }

  private def utf16OfHex(hex: String): String = {
    val clean = if (hex.length % 2 == 1) hex + "0" else hex
    val bytes = new Array[Byte](clean.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) = Integer.parseInt(clean.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    new String(bytes, StandardCharsets.UTF_16BE)
  }

  private val BfCharSecRe = """(?s)beginbfchar(.*?)endbfchar""".r
  private val BfRangeSecRe = """(?s)beginbfrange(.*?)endbfrange""".r
  private val CmapTokRe = """<([0-9A-Fa-f]+)>|(\[)|(\])""".r
  private val MaxCmapEntries = 1 << 17 // adversarial-range cap

  /** Parse a ToUnicode CMap stream (Adobe CMap spec / §9.10.3):
    * `bfchar` pairs `<src> <dstUtf16be>`; `bfrange` triples
    * `<lo> <hi> <dstStart>` (last UTF-16 unit increments across the
    * range) or `<lo> <hi> [<dst0> <dst1> …]` (one dst per code).
    */
  def parseToUnicode(cmap: String): Map[Int, String] = {
    val out = scala.collection.mutable.HashMap.empty[Int, String]
    def put(code: Int, dst: String): Unit =
      if (out.size < MaxCmapEntries) out.update(code, dst)
    for (sec <- BfCharSecRe.findAllMatchIn(cmap)) {
      val toks = CmapTokRe.findAllMatchIn(sec.group(1))
        .flatMap(m => Option(m.group(1))).toVector
      toks.grouped(2).foreach {
        case Vector(src, dst) => hexInt(src).foreach(put(_, utf16OfHex(dst)))
        case _ => ()
      }
    }
    for (sec <- BfRangeSecRe.findAllMatchIn(cmap)) {
      val toks = CmapTokRe.findAllMatchIn(sec.group(1)).map { m =>
        if (m.group(1) != null) ("hex", m.group(1))
        else if (m.group(2) != null) ("[", "") else ("]", "")
      }.toVector
      var i = 0
      while (i + 1 < toks.length) {
        if (toks(i)._1 != "hex" || toks(i + 1)._1 != "hex" ||
            hexInt(toks(i)._2).isEmpty || hexInt(toks(i + 1)._2).isEmpty) { i += 1 }
        else {
          val lo = hexInt(toks(i)._2).get
          val hi = hexInt(toks(i + 1)._2).get
          i += 2
          if (i < toks.length && toks(i)._1 == "[") {
            i += 1
            var c = lo
            while (i < toks.length && toks(i)._1 == "hex") {
              if (c <= hi) put(c, utf16OfHex(toks(i)._2))
              c += 1; i += 1
            }
            if (i < toks.length && toks(i)._1 == "]") i += 1
          } else if (i < toks.length && toks(i)._1 == "hex") {
            val base = utf16OfHex(toks(i)._2)
            i += 1
            val span = math.min(hi - lo, MaxCmapEntries)
            var d = 0
            while (d <= span) {
              val dst = if (base.isEmpty) "" else base.init + (base.last + d).toChar
              put(lo + d, dst)
              d += 1
            }
          }
        }
      }
    }
    out.toMap
  }

  /** Adobe Glyph List subset: ASCII letters, digits, common
    * punctuation, Latin-1 accents, and frequent typographic glyphs
    * (dashes, curly quotes, ligatures, currency) — enough to resolve
    * `/Differences` remaps of simple fonts; unknown glyph names map
    * to "" (dropped, never garbage).
    */
  private val GlyphChar: Map[String, String] = {
    val letters = (('A' to 'Z') ++ ('a' to 'z')).map(c => c.toString -> c.toString)
    val digits = Seq("zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3",
      "four" -> "4", "five" -> "5", "six" -> "6", "seven" -> "7",
      "eight" -> "8", "nine" -> "9")
    val accents = Seq(
      "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â", "atilde" -> "ã",
      "adieresis" -> "ä", "aring" -> "å", "ae" -> "æ", "ccedilla" -> "ç",
      "egrave" -> "è", "eacute" -> "é", "ecircumflex" -> "ê", "edieresis" -> "ë",
      "igrave" -> "ì", "iacute" -> "í", "icircumflex" -> "î", "idieresis" -> "ï",
      "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó", "ocircumflex" -> "ô",
      "otilde" -> "õ", "odieresis" -> "ö", "oslash" -> "ø", "ugrave" -> "ù",
      "uacute" -> "ú", "ucircumflex" -> "û", "udieresis" -> "ü", "yacute" -> "ý",
      "ydieresis" -> "ÿ", "germandbls" -> "ß", "thorn" -> "þ", "eth" -> "ð",
      "Agrave" -> "À", "Aacute" -> "Á", "Acircumflex" -> "Â", "Atilde" -> "Ã",
      "Adieresis" -> "Ä", "Aring" -> "Å", "AE" -> "Æ", "Ccedilla" -> "Ç",
      "Egrave" -> "È", "Eacute" -> "É", "Ecircumflex" -> "Ê", "Edieresis" -> "Ë",
      "Igrave" -> "Ì", "Iacute" -> "Í", "Icircumflex" -> "Î", "Idieresis" -> "Ï",
      "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocircumflex" -> "Ô",
      "Otilde" -> "Õ", "Odieresis" -> "Ö", "Oslash" -> "Ø", "Ugrave" -> "Ù",
      "Uacute" -> "Ú", "Ucircumflex" -> "Û", "Udieresis" -> "Ü", "Yacute" -> "Ý",
      "Thorn" -> "Þ", "Eth" -> "Ð",
      "endash" -> "–", "emdash" -> "—", "quoteleft" -> "‘",
      "quoteright" -> "’", "quotedblleft" -> "“",
      "quotedblright" -> "”", "bullet" -> "•", "ellipsis" -> "…",
      "dagger" -> "†", "daggerdbl" -> "‡", "fi" -> "ﬁ", "fl" -> "ﬂ",
      "guillemotleft" -> "«", "guillemotright" -> "»", "degree" -> "°",
      "copyright" -> "©", "registered" -> "®", "trademark" -> "™",
      "Euro" -> "€", "sterling" -> "£", "yen" -> "¥", "cent" -> "¢",
      "section" -> "§", "paragraph" -> "¶", "micro" -> "µ",
      "plusminus" -> "±", "multiply" -> "×", "divide" -> "÷")
    val punct = accents ++ Seq("space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
      "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
      "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
      "parenright" -> ")", "asterisk" -> "*", "plus" -> "+", "comma" -> ",",
      "hyphen" -> "-", "period" -> ".", "slash" -> "/", "colon" -> ":",
      "semicolon" -> ";", "less" -> "<", "equal" -> "=", "greater" -> ">",
      "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
      "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
      "braceright" -> "}", "asciitilde" -> "~")
    (letters ++ digits ++ punct).toMap
  }

  private val DiffsArrRe = """(?s)/Differences\s*\[(.*?)\]""".r
  private val DiffsTokRe = """(\d+)|/([A-Za-z0-9.]+)""".r

  /** `/Differences [ code /name /name code /name … ]` → code→string
    * via the AGL subset (§9.6.5.2: each integer restarts the code
    * counter; each name consumes one code).
    */
  def parseDifferences(encDict: String): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    DiffsArrRe.findFirstMatchIn(encDict).foreach { m =>
      var code = 0
      for (t <- DiffsTokRe.findAllMatchIn(m.group(1))) {
        if (t.group(1) != null) code = t.group(1).toIntOption.getOrElse(code)
        else {
          out += code -> GlyphChar.getOrElse(t.group(2), "")
          code += 1
        }
      }
    }
    out.result()
  }

  private val ToUnicodeRefRe = """/ToUnicode\s+(\d+)\s+\d+\s+R""".r
  private val FontEntryRefRe = """/(\w+)\s+(\d+)\s+\d+\s+R""".r
  private val FontEntryInlineRe = """/(\w+)\s*(?=<<)""".r

  private def parseFont(fdict: String, byNum: Map[Int, PdfObj]): PdfFont = {
    val isType0 = fdict.contains("/Type0")
    val toUni = ToUnicodeRefRe.findFirstMatchIn(fdict)
      .flatMap(_.group(1).toIntOption)
      .flatMap(byNum.get)
      .flatMap(o => o.stream.flatMap(decodeStream(o.dict, _)))
      .map(b => parseToUnicode(new String(b, StandardCharsets.ISO_8859_1)))
    val encDict = dictValue(fdict, "/Encoding", byNum)
    val diffs = encDict.map(parseDifferences).getOrElse(Map.empty[Int, String])
    // base encoding: the NAME VALUE of `/Encoding` (direct form) or
    // `/BaseEncoding` inside the encoding dict (Annex D) — matched as
    // a key's value, not a raw substring, so an e.g. /BaseFont subset
    // name containing the token can't select the wrong table
    def nameValueOf(body: String, key: String): Option[String] = {
      val k = keyIndex(body, key)
      if (k < 0) return None
      var i = k + key.length
      while (i < body.length && Character.isWhitespace(body.charAt(i))) i += 1
      if (i >= body.length || body.charAt(i) != '/') None
      else {
        val s0 = i
        i += 1
        while (i < body.length && Character.isLetterOrDigit(body.charAt(i))) i += 1
        Some(body.substring(s0, i))
      }
    }
    val encName = nameValueOf(fdict, "/Encoding")
      .orElse(encDict.flatMap(nameValueOf(_, "/BaseEncoding")))
    val base = encName match {
      case Some("/WinAnsiEncoding") => WinAnsiHigh
      case Some("/MacRomanEncoding") => MacRomanHigh
      case _ => Map.empty[Int, String]
    }
    // /MacExpertEncoding codes name expert-set glyphs (oldstyle
    // figures, small caps, fractions — Annex D.4) with NO Latin-1
    // correspondence, so the identity fallback would be mojibake:
    // unmapped codes suppress instead (Differences/ToUnicode still
    // decode the codes they cover)
    val suppress = encName.contains("/MacExpertEncoding")
    PdfFont(isType0, toUni, diffs, base, suppress, parseMetrics(fdict, byNum, isType0))
  }

  /** Walk a page's `/Parent` ancestor chain (§7.7.3.4 inheritable
    * attributes), applying `extract` to the page dict itself first and
    * then each ancestor; first hit wins. Bounded against /Parent
    * cycles in corrupt files. The ONE chain walker — both the
    * resource resolver and the page emitter inherit through it, so the
    * guard and termination semantics cannot drift apart.
    */
  private def inheritFromAncestors[A](pageDict: String, byNum: Map[Int, PdfObj])(
      extract: String => Option[A]): Option[A] = {
    var body: Option[String] = Some(pageDict)
    var guard = 0
    while (body.isDefined && guard < 32) {
      val d = body.get
      val hit = extract(d)
      if (hit.isDefined) return hit
      body = ParentEntryRe.findFirstMatchIn(d).flatMap(_.group(1).toIntOption)
        .flatMap(byNum.get).map(_.dict)
      guard += 1
    }
    None
  }

  /** The page's `/Resources` dict TEXT, inheriting from the nearest
    * `/Parent` ancestor when the page lacks its own (scanner-produced
    * PDFs routinely hoist shared resources to the /Pages root).
    */
  private def resolvedResources(pageDict: String, byNum: Map[Int, PdfObj]): Option[String] =
    inheritFromAncestors(pageDict, byNum)(dictValue(_, "/Resources", byNum))

  /** Resolve the page's `/Resources /Font` dict (inline or indirect at
    * either level, inherited from the page tree when absent locally)
    * to name→[[PdfFont]]; indirect font objects memoize through
    * `cache` so a shared font's CMap parses once per document.
    */
  def fontsOf(pageDict: String, byNum: Map[Int, PdfObj],
      cache: scala.collection.mutable.HashMap[Int, PdfFont]): Map[String, PdfFont] =
    resolvedResources(pageDict, byNum)
      .flatMap(res => dictValue(res, "/Font", byNum)) match {
      case None => Map.empty
      case Some(fd) =>
        val out = Map.newBuilder[String, PdfFont]
        // inline entries first, BLANKING their spans: keys inside an
        // inline font dict (`/ToUnicode 5 0 R`, `/Encoding <<…>>`)
        // must not masquerade as sibling font entries in the ref scan
        val masked = new StringBuilder(fd)
        for (m <- FontEntryInlineRe.findAllMatchIn(fd)
             // a match whose dict is already blanked was NESTED inside
             // an earlier entry's dict (e.g. its /Encoding <<…>>) —
             // not a sibling font
             if masked.charAt(m.end) == '<';
             d <- balancedDict(fd, m.end)) {
          out += m.group(1) -> parseFont(d, byNum)
          var i = m.end
          while (i < m.end + d.length) { masked.setCharAt(i, ' '); i += 1 }
        }
        for (m <- FontEntryRefRe.findAllMatchIn(masked.toString);
             n <- m.group(2).toIntOption; o <- byNum.get(n))
          out += m.group(1) -> cache.getOrElseUpdate(o.num, parseFont(o.dict, byNum))
        out.result()
    }

  // ---------------------------------------------------------------
  // Encryption (ISO 32000-1 §7.6.3, standard security handler): RC4
  // V1/V2, R2/R3, empty user password — the archival-decryption case
  // (most "encrypted" PDFs in a corpus are owner-restricted with an
  // empty user password). AES (V≥4) and real passwords degrade to the
  // documented empty-text skip; a failed /U check NEVER emits garbage.
  // ---------------------------------------------------------------

  /** §7.6.3.3 Algorithm 2 padding string. */
  private val PadBytes: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** Plain RC4 (symmetric). */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(identity)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** AES-128-CBC with the PDF layout (§7.6.2): 16-byte IV prefix,
    * PKCS#5 padding stripped manually so malformed padding degrades to
    * None instead of throwing.
    */
  def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Option[Array[Byte]] = {
    if (data.length < 16 || (data.length - 16) % 16 != 0) return None
    if (data.length == 16) return Some(Array.empty)
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(data, 0, 16))
      val plain = c.doFinal(data, 16, data.length - 16)
      val pad = plain(plain.length - 1) & 0xff
      if (pad < 1 || pad > 16 || pad > plain.length) None
      else Some(java.util.Arrays.copyOfRange(plain, 0, plain.length - pad))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Derived file key; per-object keys via §7.6.2 Algorithm 1 — AES
    * object keys append the spec's `sAlT` bytes to the MD5 input, and
    * AES payloads carry an IV prefix + PKCS#5 padding. AES-256
    * (`directKey`, /AESV3) uses the 32-byte file key itself — V5 has
    * no per-object derivation.
    */
  final case class PdfCrypt(fileKey: Array[Byte], aes: Boolean = false,
      directKey: Boolean = false) {
    def decrypt(num: Int, gen: Int, data: Array[Byte]): Option[Array[Byte]] = {
      if (directKey) return aesCbcDecrypt(fileKey, data)
      val ext =
        Array((num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
          (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte) ++
          (if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.empty[Byte]) // "sAlT"
      val objKey = md5(fileKey, ext).take(math.min(fileKey.length + 5, 16))
      if (aes) aesCbcDecrypt(objKey, data) else Some(rc4(objKey, data))
    }
  }

  private def sha256(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest()
  }

  /** ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the R6 password KDF:
    * SHA-256 seed, then rounds of AES-128-CBC over 64 repetitions of
    * (password ‖ K ‖ udata) with the digest function chosen by the
    * first 16 bytes' sum mod 3, until round ≥ 64 and the last byte of
    * the round's ciphertext ≤ round − 32. The repetition block length
    * is a multiple of 16 by construction (64 × anything), so
    * NoPadding is exact.
    */
  def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte]): Array[Byte] = {
    def sha(bits: Int, d: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-" + bits).digest(d)
    var k = sha(256, password ++ salt ++ udata)
    var i = 0
    var done = false
    while (!done) {
      val unit = password ++ k ++ udata
      val k1 = new Array[Byte](unit.length * 64)
      var j = 0
      while (j < 64) { System.arraycopy(unit, 0, k1, j * unit.length, unit.length); j += 1 }
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k, 0, 16, "AES"),
        new javax.crypto.spec.IvParameterSpec(k, 16, 16))
      val e = c.doFinal(k1)
      var sum = 0
      var t = 0
      while (t < 16) { sum += e(t) & 0xff; t += 1 }
      k = sha(256 + (sum % 3) * 128, e)
      i += 1
      done = i >= 64 && (e(e.length - 1) & 0xff) <= i - 32
    }
    java.util.Arrays.copyOfRange(k, 0, 32)
  }

  /** §7.6.4.3.3 (R5, legacy /AESV3) and §7.6.4.3.4 (R6) file key from
    * the EMPTY user password: /U = hash(32) ‖ validationSalt(8) ‖
    * keySalt(8); a hash mismatch means a real password (None —
    * suppress); else the 32-byte file key is the AES-256-CBC
    * zero-IV decryption of /UE under the key-salt hash.
    */
  def deriveFileKeyV5(u: Array[Byte], ue: Array[Byte], r: Int): Option[Array[Byte]] =
    unwrapV5(u, ue, r, udata = Array.empty)

  /** §7.6.4.3.3 owner-side twin: /O's salts hash with the full 48-byte
    * /U as `udata`, and /OE unwraps the same file key — covers V5
    * documents whose USER password is set but whose owner password is
    * empty.
    */
  def deriveFileKeyV5Owner(o: Array[Byte], oe: Array[Byte], u: Array[Byte],
      r: Int): Option[Array[Byte]] =
    if (u.length < 48) None
    else unwrapV5(o, oe, r, udata = java.util.Arrays.copyOfRange(u, 0, 48))

  private def unwrapV5(entry: Array[Byte], wrapped: Array[Byte], r: Int,
      udata: Array[Byte]): Option[Array[Byte]] = {
    if (entry.length < 48 || wrapped.length < 32) return None
    val hash = java.util.Arrays.copyOfRange(entry, 0, 32)
    val vs = java.util.Arrays.copyOfRange(entry, 32, 40)
    val ks = java.util.Arrays.copyOfRange(entry, 40, 48)
    val calc = if (r == 5) sha256(vs, udata) else hash2B(Array.empty, vs, udata)
    if (!java.util.Arrays.equals(calc, hash)) return None
    val ik = if (r == 5) sha256(ks, udata) else hash2B(Array.empty, ks, udata)
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(ik, "AES"),
        new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
      Some(c.doFinal(wrapped, 0, 32))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** §7.6.3.3 Algorithm 2 with the EMPTY user password: file key from
    * pad + /O + /P (little-endian int32) + first /ID entry; R≥3 runs
    * the 50-fold MD5 refinement at the key length.
    */
  def deriveFileKey(o: Array[Byte], p: Int, id0: Array[Byte],
      r: Int, lengthBits: Int, encryptMetadata: Boolean = true,
      paddedPw: Array[Byte] = PadBytes): Array[Byte] = {
    val pLe = Array((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    val n = if (r == 2) 5 else math.max(5, math.min(16, lengthBits / 8))
    // R4 + /EncryptMetadata false appends 0xFFFFFFFF (§7.6.3.3 2.f)
    val metaExt: Array[Byte] =
      if (r >= 4 && !encryptMetadata) Array(-1, -1, -1, -1) else Array.empty
    var key = md5(paddedPw, o, pLe, id0, metaExt)
    if (r >= 3) { var i = 0; while (i < 50) { key = md5(key.take(n)); i += 1 } }
    key.take(n)
  }

  /** §7.6.3.4 Algorithm 3 INVERTED with the empty OWNER password: /O
    * is the RC4-chain encryption of the PADDED user password under the
    * owner key, so an empty owner password recovers the user password
    * and from it the file key — the configuration where the USER
    * password is set but the owner password is empty (the other
    * owner-restricted shape). Verified downstream via /U as usual
    * (/U depends on the password only through the file key).
    */
  def fileKeyViaOwner(o: Array[Byte], p: Int, id0: Array[Byte],
      r: Int, lengthBits: Int, encryptMetadata: Boolean): Array[Byte] = {
    val n = if (r == 2) 5 else math.max(5, math.min(16, lengthBits / 8))
    var ok = md5(PadBytes) // empty owner password → the pad alone
    if (r >= 3) { var i = 0; while (i < 50) { ok = md5(ok.take(n)); i += 1 } }
    val ownerKey = ok.take(n)
    val userPadded =
      if (r == 2) rc4(ownerKey, o)
      else {
        // forward encryption ran i = 0..19 with key ⊕ i; invert in
        // reverse order (RC4 is an involution per fixed key)
        var u = o.clone()
        var i = 19
        while (i >= 0) { u = rc4(ownerKey.map(b => (b ^ i).toByte), u); i -= 1 }
        u
      }
    deriveFileKey(o, p, id0, r, lengthBits, encryptMetadata, userPadded)
  }

  /** §7.6.3.4 Algorithms 4/5: the /U entry the empty user password
    * would produce — decryption proceeds only when it matches.
    */
  def expectedU(fileKey: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fileKey, PadBytes)
    else {
      var u = rc4(fileKey, md5(PadBytes, id0))
      var i = 1
      while (i <= 19) {
        u = rc4(fileKey.map(b => (b ^ i).toByte), u)
        i += 1
      }
      u // first 16 bytes significant
    }

  /** Hex digits → bytes (odd final digit zero-padded, §7.3.4.3);
    * None on any non-hex char.
    */
  private def hexToBytes(hexRaw: String): Option[Array[Byte]] = {
    val hex = hexRaw.filterNot(_.isWhitespace)
    if (!hex.forall(c => Character.digit(c, 16) >= 0)) None
    else {
      val padded = if (hex.length % 2 == 1) hex + "0" else hex
      Some(padded.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    }
  }

  /** Parse the PDF string starting at `i0` in `text` — `(…)` literal
    * (escapes, octal, and `\`-EOL line CONTINUATIONS, which contribute
    * no byte, §7.3.4.2) or `<hex>`; byte-exact.
    */
  private def stringValueAt(text: String, i0: Int): Option[Array[Byte]] = {
    var i = i0
    if (i >= text.length) None
    else if (text.charAt(i) == '<') {
      val e = text.indexOf('>', i + 1)
      if (e < 0) None else hexToBytes(text.substring(i + 1, e))
    } else if (text.charAt(i) == '(') {
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      i += 1
      while (i < text.length && depth > 0) {
        val c = text.charAt(i)
        if (c == '\\' && i + 1 < text.length) {
          val e = text.charAt(i + 1)
          e match {
            case 'n' => out.write('\n'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'r' => out.write('\r'); i += 2
            case '(' | ')' | '\\' => out.write(e); i += 2
            case '\n' => i += 2 // line continuation: no byte
            case '\r' =>
              i += 2
              if (i < text.length && text.charAt(i) == '\n') i += 1
            case d if d >= '0' && d <= '7' =>
              var j = i + 1; var v = 0
              while (j < text.length && j < i + 4 && text.charAt(j) >= '0' && text.charAt(j) <= '7') {
                v = v * 8 + (text.charAt(j) - '0'); j += 1
              }
              out.write(v & 0xff); i = j
            case _ => out.write(e); i += 2
          }
        } else if (c == '(') { depth += 1; out.write(c); i += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) out.write(c); i += 1 }
        else if (c == '\r') {
          // unescaped EOL reads as one LINE FEED byte (§7.3.4.2)
          out.write('\n'); i += 1
          if (i < text.length && text.charAt(i) == '\n') i += 1
        } else { out.write(c); i += 1 }
      }
      Some(out.toByteArray)
    } else None
  }

  /** Parse a PDF string VALUE (`(…)` with escapes or `<hex>`) right
    * after `/Key` in a dict; byte-exact.
    */
  private def dictStringValue(dict: String, key: String): Option[Array[Byte]] = {
    val k = keyIndex(dict, key)
    if (k < 0) return None
    var i = k + key.length
    while (i < dict.length && Character.isWhitespace(dict.charAt(i))) i += 1
    stringValueAt(dict, i)
  }

  /** First entry of the LAST `/ID [ … ]` array in the document (an
    * incrementally-updated file's live trailer is the last one); hex
    * and literal string forms both accepted.
    */
  private def idFirstEntry(s: String): Option[Array[Byte]] = {
    var k = s.lastIndexOf("/ID")
    while (k >= 0) {
      var i = k + 3
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < s.length && s.charAt(i) == '[') {
        i += 1
        while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
        val v = stringValueAt(s, i)
        if (v.exists(_.nonEmpty)) return v
      }
      k = s.lastIndexOf("/ID", k - 1)
    }
    None
  }

  private val EncryptRefRe = """/Encrypt\s+(\d+)\s+\d+\s+R""".r
  private val PValRe = """/P\s+(-?\d+)""".r

  /** Detect and resolve the document's encryption state.
    *
    * @return None = unencrypted; Some(None) = encrypted but not
    *         decryptable here (AES, non-standard handler, real user
    *         password) — streams must be DROPPED, never emitted raw;
    *         Some(Some(crypt)) = RC4 with empty user password verified
    *         via /U.
    */
  def detectEncryption(s: String, byNum: Map[Int, PdfObj]): Option[Option[PdfCrypt]] = {
    // candidate /Encrypt refs can appear anywhere (trailer dict or
    // xref-stream dict); take the LAST whose target actually looks
    // like an encryption dict — incremental updates append trailers,
    // and a match whose target doesn't is a false positive from
    // content bytes, not encryption. "Looks like" requires /Filter
    // AND a security-handler marker (/Standard, or any /V version
    // entry): EVERY compressed stream's dict contains /Filter, so
    // /Filter alone would let a stray '/Encrypt N G R' byte run in
    // prose (or an embedded PDF payload) aim at an ordinary Flate
    // object and silently drop the whole document's text
    val dOpt = EncryptRefRe.findAllMatchIn(s).toList.reverseIterator
      .flatMap(m => m.group(1).toIntOption.flatMap(byNum.get))
      .map(_.dict)
      .find(d => d.contains("/Filter") &&
        (d.contains("/Standard") || """/V\s+\d""".r.findFirstIn(d).isDefined))
    if (dOpt.isEmpty) return None
    val d = dOpt.get
    val vTop = paramOr("""/V\s+(\d+)""".r, d, 0).getOrElse(0)
    // V4/V5 crypt filters: /StmF defaults to /Identity (streams NOT
    // encrypted) — without /StmF /StdCF the stream payloads are
    // plaintext, so 'decrypting' them would garble a readable document
    if (vTop >= 4 && """(?s)/StmF\s*/StdCF""".r.findFirstIn(d).isEmpty) return None
    if (vTop == 5) {
      // AES-256 (/AESV3): SHA-2 password validation, direct file key
      return Some(for {
        _ <- Option.when(d.contains("/Standard") && d.contains("/AESV3"))(())
        r <- paramOr("""/R\s+(\d+)""".r, d, 5)
        if r == 5 || r == 6
        u <- dictStringValue(d, "/U")
        ue <- dictStringValue(d, "/UE")
        key <- deriveFileKeyV5(u, ue, r).orElse(for {
          o5 <- dictStringValue(d, "/O")
          oe <- dictStringValue(d, "/OE")
          k <- deriveFileKeyV5Owner(o5, oe, u, r)
        } yield k)
      } yield PdfCrypt(key, aes = true, directKey = true))
    }
    Some(for {
      _ <- Option.when(d.contains("/Standard"))(())
      v = paramOr("""/V\s+(\d+)""".r, d, 0).getOrElse(0)
      // V1/V2 = document-wide RC4; V4 = crypt filters — support the
      // standard /StdCF with /CFM /V2 (RC4) or /CFM /AESV2 (AES-128)
      aes <- v match {
        case 1 | 2 => Some(false)
        case 4 if d.contains("/AESV2") => Some(true)
        case 4 if """(?s)/CFM\s*/V2""".r.findFirstIn(d).isDefined => Some(false)
        case _ => None
      }
      r <- paramOr("""/R\s+(\d+)""".r, d, 2)
      if r >= 2 && r <= 4
      o <- dictStringValue(d, "/O")
      u <- dictStringValue(d, "/U")
      // some writers emit /P in its unsigned form (e.g. 4294967232 =
      // -64): parse as Long, truncate to the signed 32-bit value
      p <- PValRe.findFirstMatchIn(d).flatMap(_.group(1).toLongOption).map(_.toInt)
      // V4: key length is the crypt filter's (AESV2 = 128-bit; a
      // top-level /Length may be absent and a /CF sub-dict /Length is
      // in BYTES — never read it as bits)
      lengthBits <- if (v == 4) Some(128)
                    else paramOr("""/Length\s+(\d+)""".r, d, 40)
      id0 <- idFirstEntry(s)
      encMeta = !"""(?s)/EncryptMetadata\s+false""".r.findFirstIn(d).isDefined
      // empty USER password first; else the empty-OWNER route (recover
      // the user password from /O); both verified through /U — neither
      // matching = a real password on both sides: suppress, never
      // garbage
      fileKey <- {
        val direct = deriveFileKey(o, p, id0, r, lengthBits, encMeta)
        if (expectedU(direct, id0, r).take(16).sameElements(u.take(16))) Some(direct)
        else {
          val viaOwner = fileKeyViaOwner(o, p, id0, r, lengthBits, encMeta)
          if (expectedU(viaOwner, id0, r).take(16).sameElements(u.take(16))) Some(viaOwner)
          else None
        }
      }
    } yield PdfCrypt(fileKey, aes))
  }

  /** Expand `/Type /ObjStm` object streams (PDF ≥1.5, §7.5.7): modern
    * writers store most non-stream objects — including PAGE dicts —
    * inside a compressed container stream, so a parser without this
    * sees zero pages on current-generation PDFs. Layout: `/N` pairs of
    * `objnum offset` ints, then the serialized objects starting at
    * `/First` (offsets relative to it). Contained objects carry no
    * obj/endobj wrappers and may not contain streams, so they merge
    * into the object list as dict-only [[PdfObj]]s at offset
    * `container offset + First + in-stream offset` — page-DISTINCT
    * (two pages in one ObjStm must not share an `objOffset`) while
    * preserving document order.
    */
  private val IntPairHeaderRe = """\s*(\d+)\s+(\d+)""".r
  def expandObjectStreams(objs: Vector[PdfObj]): Vector[PdfObj] =
    objs.flatMap { o =>
      if (!(o.dict.contains("/ObjStm") && o.stream.isDefined)) Vector(o)
      else {
        val expanded = for {
          content <- decodeStream(o.dict, o.stream.get)
          n <- """/N\s+(\d+)""".r.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption)
          first <- """/First\s+(\d+)""".r.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption)
        } yield {
          val s = new String(content, StandardCharsets.ISO_8859_1)
          val header = s.take(math.min(first, s.length))
          val pairs = IntPairHeaderRe.findAllMatchIn(header)
            .flatMap(m => for (a <- m.group(1).toIntOption; b <- m.group(2).toIntOption)
              yield (a, b)).take(n).toVector
          pairs.zipWithIndex.map { case ((num, off), i) =>
            val start = math.min(first + off, s.length)
            val end =
              if (i + 1 < pairs.length) math.min(first + pairs(i + 1)._2, s.length)
              else s.length
            PdfObj(num, o.off + first + off, s.substring(start, end), None)
          }
        }
        // undecodable container (unknown filter / corrupt): keep the
        // raw object so the page count degrades, never throws
        expanded.getOrElse(Vector(o))
      }
    }

  /** A prepared document: the object index and the page objects in
    * document order (1-based page numbers follow this order — the
    * order `/Kids` arrays list them for the linear writers this subset
    * targets).
    */
  private final case class PdfDoc(byNum: Map[Int, PdfObj], pages: Vector[PdfObj])

  /** Shared document prep for every page consumer: object scan over
    * ONE Latin-1 materialization (the scan and the encryption
    * detection share it — a second copy would double the transient
    * memory per document on the extraction hot path), stream
    * decryption, ObjStm expansion, page discovery.
    */
  private def prepare(bytes: Array[Byte]): PdfDoc = {
    val text = new String(bytes, StandardCharsets.ISO_8859_1)
    val scanned = scanObjectsStr(text)
    // encryption applies to STREAM payloads (strings inside content
    // streams ride along; dict keys are plaintext)
    val prepared = detectEncryption(text,
        scanned.map(o => o.num -> o).toMap) match {
      case None => scanned
      case Some(Some(c)) =>
        // a single stream failing AES padding degrades alone (None →
        // that object decodes to nothing), not the document
        scanned.map(o => o.copy(stream = o.stream.flatMap(d => c.decrypt(o.num, o.gen, d))))
      case Some(None) =>
        // encrypted but not decryptable here: drop payloads — the page
        // split (from plaintext dicts) survives, text is empty
        scanned.map(o => o.copy(stream = None))
    }
    val objects = expandObjectStreams(prepared)
    PdfDoc(objects.map(o => o.num -> o).toMap, objects.filter(o => isPageDict(o.dict)))
  }

  private def isPageDict(body: String): Boolean =
    body.contains("/Type /Page") && !body.contains("/Type /Pages") ||
      body.contains("/Type/Page") && !body.contains("/Type/Pages")

  /** A page's content: its `/Contents` streams (one ref or an array),
    * decoded and joined in order with a newline — ISO 32000-1 §7.8.2
    * reads a page's streams as one, so font, text state and pending
    * operands carry across the split. A page without `/Contents`
    * falls back to an inline stream on the page object itself.
    * Streams that do not decode drop out. Text, words and inline
    * images all walk this one string.
    */
  private def pageContent(page: PdfObj, byNum: Map[Int, PdfObj]): String = {
    val refs: Seq[Int] = ContentsArrRe.findFirstMatchIn(page.dict) match {
      case Some(arr) => RefRe.findAllMatchIn(arr.group(1)).flatMap(_.group(1).toIntOption).toSeq
      case None => ContentsRefRe.findFirstMatchIn(page.dict).flatMap(_.group(1).toIntOption).toSeq
    }
    (if (refs.nonEmpty) refs.flatMap(byNum.get) else Seq(page))
      .flatMap(c => c.stream.flatMap(decodeStream(c.dict, _)))
      .map(new String(_, StandardCharsets.ISO_8859_1)).mkString("\n")
  }

  /** Split a PDF byte array into pages (1-based page numbers, in
    * document object order), each with the text of its content.
    */
  def splitPages(bytes: Array[Byte]): Seq[PdfPage] = {
    val doc = prepare(bytes)
    val fontCache = scala.collection.mutable.HashMap.empty[Int, PdfFont]
    doc.pages.zipWithIndex.map { case (o, i) =>
      val fonts = fontsOf(o.dict, doc.byNum, fontCache)
      PdfPage(i + 1, o.off.toLong, extractText(pageContent(o, doc.byNum), fonts))
    }
  }

  // ---------------------------------------------------------------
  // Per-page re-emission (round 6): the reference's
  // `SerializerPdfDoc.load/split` yields a STANDALONE one-page PDF
  // per page (custom_serialize.py:646 pdf_bytes; :713 writes them as
  // files). Re-built here on the object scanner: page + transitive
  // reference closure, renumbered behind a fresh catalog/pages pair.
  // ---------------------------------------------------------------

  private val ParentEntryRe = """/Parent\s+(\d+)\s+\d+\s+R""".r
  private val LengthEntryRe = """/Length\s+\d+(\s+\d+\s+R)?""".r
  // ref token for closure/rewrite: the R needs a non-word boundary so
  // an 'N G R…' letter run inside a literal string value (e.g.
  // '(see 12 0 Row)') isn't treated as a reference
  private val RefTokenRe = """(\d+)\s+(\d+)\s+R(?![A-Za-z0-9])""".r

  /** The `/Resources` ENTRY text of a dict (`/Resources << … >>` or
    * `/Resources N G R`) for inheritance copying; None when absent.
    */
  private def resourcesEntry(dict: String): Option[String] = {
    val k = keyIndex(dict, "/Resources")
    if (k < 0) return None
    var i = k + "/Resources".length
    while (i < dict.length && Character.isWhitespace(dict.charAt(i))) i += 1
    if (i + 1 < dict.length && dict.charAt(i) == '<' && dict.charAt(i + 1) == '<')
      balancedDict(dict, i).map(d => s"/Resources $d")
    else
      AnchoredRefRe.findFirstIn(dict.substring(i, math.min(dict.length, i + 24)))
        .map(r => s"/Resources $r")
  }

  private def insertBeforeClose(dict: String, entry: String): String = {
    val close = dict.lastIndexOf(">>")
    if (close < 0) dict else dict.substring(0, close) + entry + " " + dict.substring(close)
  }

  /** Rebuild `d` with `f` applied only to the spans OUTSIDE literal
    * strings; the strings themselves pass through verbatim (or blank
    * when `keepStrings` is false — the closure scanner's view). PDF
    * literal strings nest with balanced parens and escape with
    * backslash (§7.3.4.2); ref-shaped text inside them is DATA — an
    * annotation's `/Contents (Exhibit 99 0 R)` must keep its visible
    * text even when object 99 doesn't exist, so neither the dangling
    * rewrite nor the reference closure may see into them.
    */
  private def mapOutsideStrings(d: String, keepStrings: Boolean = true)(
      f: String => String): String = {
    val sb = new StringBuilder(d.length + 16)
    var start = 0
    var i = 0
    while (i < d.length) {
      if (d.charAt(i) == '(') {
        sb.append(f(d.substring(start, i)))
        var depth = 1
        var j = i + 1
        while (j < d.length && depth > 0) {
          d.charAt(j) match {
            case '\\' => j += 1 // escaped char — skip it unexamined
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          j += 1
        }
        val end = math.min(j, d.length)
        sb.append(if (keepStrings) d.substring(i, end) else " ")
        start = end
        i = end
      } else i += 1
    }
    sb.append(f(d.substring(start)))
    sb.toString
  }

  /** Each page as a STANDALONE one-page PDF (1-based page numbers):
    * the page object plus the transitive closure of its references
    * (fonts, CMaps, XObjects, content streams — but not the /Parent
    * chain), renumbered behind a fresh /Catalog + single-kid /Pages,
    * with /Resources inherited from the nearest ancestor when the
    * page dict lacks its own (§7.7.3.4 inheritable attributes).
    * Streams are the PREPARED payloads (decrypted if the source was),
    * so /Length is rewritten to the actual byte count and the output
    * is unencrypted. Re-parsing an emitted page yields the same text
    * as that page of the source.
    */
  def emitPages(bytes: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val doc = prepare(bytes)
    doc.pages.zipWithIndex.map { case (p, i) => (i + 1, emitSinglePage(p, doc.byNum)) }
  }

  private def emitSinglePage(page: PdfObj, byNum: Map[Int, PdfObj]): Array[Byte] = {
    // inherit /Resources from the nearest ancestor if absent locally
    // (an inline content stream on the page object gets its /Length
    // rewritten like any other stream — strip the declared one)
    var pageDict = ParentEntryRe.replaceAllIn(
      if (page.stream.isDefined) LengthEntryRe.replaceAllIn(page.dict, " ")
      else page.dict, "")
    if (keyIndex(pageDict, "/Resources") < 0)
      // the shared ancestor walk (resourcesEntry is None on the page
      // itself — the keyIndex guard above already established that)
      inheritFromAncestors(page.dict, byNum)(resourcesEntry)
        .foreach(r => pageDict = insertBeforeClose(pageDict, r))
    // reference closure over DICT bodies (streams carry no refs); the
    // stripped /Parent keeps the sibling-page subtree out. /Length is
    // always rewritten (decryption may have changed payload sizes),
    // so drop it from stream dicts before the scan — an indirect
    // /Length target then never enters the closure. The page itself
    // is pre-seeded as visited: a BACK-reference to it (an /Annots
    // annotation's /P, standard for widget/link annotations) must
    // resolve to the page's new number, not drag it into the closure
    // a second time (which double-assigned its number and left an
    // xref slot unwritten — a job-aborting crash on real-world PDFs).
    def scanDict(o: PdfObj): String =
      if (o.stream.isDefined) LengthEntryRe.replaceAllIn(o.dict, " ") else o.dict
    val ordered = ArrayBuffer.empty[Int]
    val seen = scala.collection.mutable.HashSet[Int](page.num)
    // explicit work stack, NOT recursion: the reference-chain length is
    // attacker-controlled (a crafted PDF with thousands of tiny
    // chained objects), and a StackOverflowError is fatal to the Spark
    // task — the same no-recursion contract as Teds.TNode. Each stack
    // frame is the dict's REMAINING ref-match iterator, so the walk
    // reproduces the recursive pre-order exactly (descend into each
    // ref before scanning the rest of its dict) — the renumbering,
    // and therefore the committed fixture bytes, depend on that order.
    // Literal-string contents are data, not references — blank them
    // before the scan so '(… 12 0 R …)' text can't drag object 12
    // (or anything behind it) into the closure.
    def refMatches(dict: String): Iterator[Int] =
      RefTokenRe.findAllMatchIn(mapOutsideStrings(dict, keepStrings = false)(identity))
        .flatMap(_.group(1).toIntOption)
    val work = scala.collection.mutable.Stack[Iterator[Int]](refMatches(pageDict))
    while (work.nonEmpty) {
      val it = work.top
      if (!it.hasNext) work.pop()
      else {
        val n = it.next()
        if (!seen.contains(n)) byNum.get(n).foreach { o =>
          seen += n
          ordered += n
          work.push(refMatches(scanDict(o)))
        }
      }
    }
    // renumber: 1 catalog, 2 pages, 3 the page, 4+ closure in order;
    // DANGLING refs (target object absent — freed by an incremental
    // update) rewrite to a dedicated null object instead of keeping
    // their original number, which could alias a renumbered object
    val nullObjNum = 4 + ordered.length
    val renum: Map[Int, Int] =
      (ordered.zipWithIndex.map { case (n, i) => n -> (4 + i) } :+ (page.num -> 3)).toMap
    var danglingSeen = false
    def rewrite(d: String): String =
      // masked like visitRefs: ref-shaped text inside a literal string
      // stays verbatim — rewriting it would corrupt visible content
      // (and a dangling-shaped token there would mint a spurious null)
      mapOutsideStrings(d)(seg =>
        RefTokenRe.replaceAllIn(seg, m =>
          m.group(1).toIntOption.flatMap(renum.get) match {
            case Some(nn) => s"$nn 0 R"
            case None => danglingSeen = true; s"$nullObjNum 0 R"
          }))
    val out = new java.io.ByteArrayOutputStream(4096)
    def put(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    def writeObj(newNum: Int, dict: String, stream: Option[Array[Byte]]): Unit = {
      offsets(newNum) = out.size()
      stream match {
        case None => put(s"$newNum 0 obj $dict endobj\n")
        case Some(data) =>
          val d = insertBeforeClose(dict, s"/Length ${data.length}")
          put(s"$newNum 0 obj $d stream\n")
          out.write(data)
          put("\nendstream endobj\n")
      }
    }
    put("%PDF-1.6\n")
    writeObj(1, "<< /Type /Catalog /Pages 2 0 R >>", None)
    writeObj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None)
    writeObj(3, insertBeforeClose(rewrite(pageDict.trim), "/Parent 2 0 R"), page.stream)
    for (n <- ordered) {
      val o = byNum(n)
      writeObj(renum(n), rewrite(scanDict(o)).trim, o.stream)
    }
    if (danglingSeen) writeObj(nullObjNum, "null", None)
    val xrefOff = out.size()
    val size = 4 + ordered.length + (if (danglingSeen) 1 else 0)
    put(s"xref\n0 $size\n0000000000 65535 f \n")
    for (n <- 1 until size) put(f"${offsets(n)}%010d 00000 n \n")
    put(s"trailer << /Size $size /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Image XObjects (round 6): /Resources /XObject /Subtype /Image
  // extraction incl. DCTDecode via javax.imageio — the reference
  // renders page images through pdfium (extern/pdf_utils.py); here
  // the IMAGE PAYLOADS themselves are surfaced so they can feed the
  // multimodal/ANN pipeline (Multimodal.decode consumes exactly the
  // JPEG bytes a DCT stream carries).
  // ---------------------------------------------------------------

  /** One image XObject of a page: true pixel dimensions, channel
    * count and sample depth. `format` = "jpeg" (DCTDecode — `data` is
    * the verbatim JPEG, ready for any image decoder; `bpc` = 8) or
    * "raw" (fully-decoded sample bytes: `height` rows of
    * ceil(`width`×`channels`×`bpc`/8) bytes each — sub-byte depths
    * stay MSB-first bit-packed per row, so `bpc` is part of the
    * payload contract, not advisory).
    */
  final case class PdfImage(pageNo: Int, name: String, width: Int,
      height: Int, channels: Int, format: String, data: Array[Byte],
      bpc: Int = 8)

  // heap-only ImageIO (same rationale as Multimodal: thousands of
  // in-memory decodes per executor must not hit a temp-file cache)
  private lazy val imageIoReady: Unit = javax.imageio.ImageIO.setUseCache(false)

  private val WidthRe = """/Width\s+(\d+)""".r
  private val HeightRe = """/Height\s+(\d+)""".r
  private val ColorSpaceRefRe = """/ColorSpace\s+(\d+)\s+\d+\s+R""".r
  private val IccRefRe = """/ICCBased\s+(\d+)\s+\d+\s+R""".r
  private val NCompRe = """/N\s+(\d+)""".r
  private val DeviceNNamesRe = """/DeviceN\s*\[([^\]]*)\]""".r

  /** Channel count of a raster image: device color-space names
    * (direct or behind an indirect `/ColorSpace N G R`), `/ICCBased`
    * via the ICC stream's `/N` component count (the common real-world
    * case — scanners emit ICC profiles, not device names), else
    * inferred from the decoded payload size when it divides evenly
    * into a 1/3/4-channel 8-bit raster. None = indeterminate → the
    * image is SKIPPED rather than labeled with wrong metadata
    * (empty beats garbage applies to dims too).
    *
    * Classification short-circuits on the color-space FAMILY before
    * any base-space name: an `/Indexed [/DeviceRGB …]` payload is
    * w×h palette INDICES (one component per sample) — reporting the
    * base's 3 channels would make a stride-computing consumer read 3×
    * past the buffer. `/Separation` is likewise single-tint.
    * `/DeviceN` needs the colorant-array length, which this scanner
    * doesn't parse → skip. A declared channel count must also AGREE
    * with the decoded payload size (`height` rows of
    * ceil(width×channels×bpc/8) bytes); disagreement means the
    * metadata doesn't describe these bytes → skip, never emit.
    */
  private def channelsOf(dict: String, byNum: Map[Int, PdfObj],
      dataLen: Int, w: Int, h: Int, bpc: Int): Option[Int] = {
    // Some(Some(n)) = decided n channels; Some(None) = decided skip;
    // None = this text doesn't determine the space — keep looking
    def classify(d: String): Option[Option[Int]] =
      if (d.contains("/Indexed") || d.contains("/Separation")) Some(Some(1))
      else if (d.contains("/DeviceN"))
        // one channel per colorant in the names array (§8.6.6.5);
        // an indirect names array → indeterminate → skip
        Some(DeviceNNamesRe.findFirstMatchIn(d)
          .map(m => NameRe.findAllMatchIn(m.group(1)).length)
          .filter(n => n >= 1 && n <= 32))
      else if (d.contains("/DeviceRGB")) Some(Some(3))
      else if (d.contains("/DeviceCMYK")) Some(Some(4))
      else if (d.contains("/DeviceGray")) Some(Some(1))
      else None
    def viaIcc(d: String): Option[Int] =
      IccRefRe.findFirstMatchIn(d).flatMap(_.group(1).toIntOption).flatMap(byNum.get)
        .flatMap(o => NCompRe.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption))
        .filter(n => n == 1 || n == 3 || n == 4)
    def resolve(d: String): Option[Option[Int]] =
      classify(d).orElse(viaIcc(d).map(n => Some(n): Option[Int]))
    def payloadMatches(ch: Int): Boolean =
      w > 0 && h > 0 && dataLen == (w.toLong * ch * bpc + 7) / 8 * h
    resolve(dict)
      .orElse(ColorSpaceRefRe.findFirstMatchIn(dict).flatMap(_.group(1).toIntOption)
        .flatMap(byNum.get).map(_.dict).flatMap(resolve)) match {
      case Some(decided) => decided.filter(payloadMatches)
      case None =>
        // size inference: only an unambiguous 8-bit raster
        if (bpc == 8 && w > 0 && h > 0 && dataLen % (w.toLong * h) == 0) {
          val c = (dataLen / (w.toLong * h)).toInt
          if (c == 1 || c == 3 || c == 4) Some(c) else None
        } else None
    }
  }

  // ---- CCITTFaxDecode via the JDK TIFF reader ----

  private val KParmRe = """/K\s+(-?\d+)""".r
  private val RowsParmRe = """/Rows\s+(\d+)""".r
  private def boolParam(dict: String, key: String): Boolean =
    (java.util.regex.Pattern.quote(key) + """\s+true""").r.findFirstIn(dict).isDefined

  /** Wrap a raw CCITT G3/G4 payload in a minimal single-strip
    * big-endian TIFF so the JDK's TIFF reader (in `javax.imageio`
    * since Java 9, JEP 262) decodes it — the same JDK-codec leverage
    * as the DCTDecode path, instead of hand-porting the T.4/T.6 code
    * tables. TIFF 6.0 bilevel: ImageWidth/Length, BitsPerSample 1,
    * WhiteIsZero, single full-height strip. `compression` 2 = MH
    * (1-D, byte-aligned rows, no options tag — ResolutionUnit pads
    * the entry count), 3 = T.4 with `options` as T4Options, 4 = T.6.
    */
  private def ccittToTiff(data: Array[Byte], width: Int, rows: Int,
      compression: Int, options: Int): Array[Byte] = {
    val nEntries = 10
    val dataOff = 8 + 2 + nEntries * 12 + 4
    val out = java.nio.ByteBuffer.allocate(dataOff + data.length) // big-endian
    out.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
    out.putShort(nEntries.toShort)
    // entries must be ascending by tag; type 3 = SHORT (left-justified
    // value), 4 = LONG
    def entry(tag: Int, typ: Int, value: Int): Unit = {
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) { out.putShort(value.toShort); out.putShort(0) } else out.putInt(value)
    }
    entry(256, 4, width) // ImageWidth
    entry(257, 4, rows) // ImageLength
    entry(258, 3, 1) // BitsPerSample
    entry(259, 3, compression)
    entry(262, 3, 0) // PhotometricInterpretation: WhiteIsZero
    entry(273, 4, dataOff) // StripOffsets
    entry(277, 3, 1) // SamplesPerPixel
    entry(278, 4, rows) // RowsPerStrip
    entry(279, 4, data.length) // StripByteCounts
    compression match {
      case 3 => entry(292, 4, options) // T4Options
      case 4 => entry(293, 4, 0) // T6Options
      case _ => entry(296, 3, 1) // ResolutionUnit (inert pad)
    }
    out.putInt(0) // next IFD
    out.put(data)
    out.array()
  }

  /** Decode a (transport-unwrapped) CCITT payload to the row-packed
    * 1-bit samples CCITTFaxDecode emits: `/BlackIs1 false` (the
    * default) → black pixels are 0 bits. Parameters are read flat
    * from the image dict text, which includes any inline
    * `/DecodeParms` sub-dict.
    *
    * K→TIFF mapping (probed against the JDK reader, not assumed):
    * K<0 → Compression 4 (T.6); K>0 → Compression 3 with T4Options
    * bit 0 (2-D; such streams carry EOL+tag bits); K=0 with a
    * leading EOL (first 12 bits 0x001) → Compression 3 1-D; K=0
    * without EOLs and `/EncodedByteAlign` → Compression 2 (TIFF MH,
    * whose byte-aligned-rows rule IS EncodedByteAlign). None on
    * decode failure, a missing row count (no `/Rows` and no
    * `/Height`), `/EncodedByteAlign` with G4, or EOL-less unaligned
    * K=0 (neither has a TIFF expression; a wrong declaration decodes
    * to silent garbage, proven by probe) — skip beats garbage.
    */
  private def ccittDecode(data: Array[Byte], dict: String,
      heightHint: Option[Int]): Option[(Int, Int, Array[Byte])] = {
    val k = KParmRe.findFirstMatchIn(dict).flatMap(_.group(1).toIntOption).getOrElse(0)
    val byteAlign = boolParam(dict, "/EncodedByteAlign")
    val blackIs1 = boolParam(dict, "/BlackIs1")
    val leadingEol = data.length >= 2 && data(0) == 0 && (data(1) & 0xf0) == 0x10
    val compOpts: Option[(Int, Int)] =
      if (k < 0) { if (byteAlign) None else Some((4, 0)) }
      else if (k > 0) Some((3, 1 | (if (byteAlign) 4 else 0)))
      else if (leadingEol) Some((3, if (byteAlign) 4 else 0))
      else if (byteAlign) Some((2, 0))
      else None
    for {
      co <- compOpts
      cols <- paramOr(ColumnsRe, dict, 1728).filter(_ > 0)
      // an explicit `/Rows 0` means "decode until EOD" (the spec
      // default), NOT a zero-height image — fall through to /Height
      rows <- RowsParmRe.findFirstMatchIn(dict).flatMap(_.group(1).toIntOption)
        .filter(_ > 0).orElse(heightHint.filter(_ > 0))
      img <- {
        imageIoReady
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
          ccittToTiff(data, cols, rows, co._1, co._2))))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    } yield {
      val w = img.getWidth
      val h = img.getHeight
      val rowBytes = (w + 7) / 8
      val packed = new Array[Byte](rowBytes * h)
      // which RASTER SAMPLE value means black is the color model's
      // call (WhiteIsZero TIFF → an IndexColorModel; the reader may
      // normalize polarity, so probe the palette, don't assume)
      val blackSample = img.getColorModel match {
        case icm: java.awt.image.IndexColorModel if icm.getMapSize >= 2 =>
          def lum(i: Int): Int = {
            val rgb = icm.getRGB(i)
            ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          }
          if (lum(1) < lum(0)) 1 else 0
        case _ => 1
      }
      // output bit 1 ⇔ (sample == blackSample) == blackIs1; with a
      // 1-bit source that is a row copy, inverted when polarities
      // disagree — no per-pixel color-model round trips on the path
      // that carries every scanned page
      val invert = (blackSample == 1) != blackIs1
      val raster = img.getRaster
      (raster.getSampleModel, raster.getDataBuffer) match {
        case (mp: java.awt.image.MultiPixelPackedSampleModel,
              db: java.awt.image.DataBufferByte)
            if mp.getPixelBitStride == 1 && mp.getDataBitOffset == 0 &&
              raster.getSampleModelTranslateX == 0 &&
              raster.getSampleModelTranslateY == 0 =>
          val src = db.getData
          val stride = mp.getScanlineStride
          val base = db.getOffset
          var y = 0
          while (y < h) {
            var i = 0
            while (i < rowBytes) {
              val b = src(base + y * stride + i)
              packed(y * rowBytes + i) = if (invert) (~b).toByte else b
              i += 1
            }
            y += 1
          }
          // the decoder's buffer may carry arbitrary values in the
          // last byte's padding bits (and inversion flips them) — the
          // packed contract keeps them 0
          if ((w & 7) != 0) {
            val mask = 0xff << (8 - (w & 7))
            var r = rowBytes - 1
            while (r < packed.length) {
              packed(r) = (packed(r) & mask).toByte
              r += rowBytes
            }
          }
        case _ =>
          // unexpected raster layout: per-sample fallback (still no
          // color-model work per pixel)
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            raster.getSamples(0, y, w, 1, 0, rowBuf)
            var x = 0
            while (x < w) {
              if ((rowBuf(x) == blackSample) == blackIs1)
                packed(y * rowBytes + (x >> 3)) =
                  (packed(y * rowBytes + (x >> 3)) | (0x80 >> (x & 7))).toByte
              x += 1
            }
            y += 1
          }
      }
      (w, h, packed)
    }
  }

  /** Apply a chain of transport filters (Flate/LZW/ASCII85/ASCIIHex/
    * RunLength — the ones that may wrap an image codec's payload, or
    * an inline image's samples) in declaration order. `parms` is the
    * flat dict text (an image XObject dict, or an inline image's
    * parameter run incl. any `/DP`/`/DecodeParms` sub-dict): Flate and
    * LZW honor a declared `/Predictor` from it — an inline TIFF-
    * predictor-2 raster would otherwise emit DIFFERENCED bytes with
    * plausible dims — and LZW its `/EarlyChange`. Unknown name →
    * None.
    */
  private def transportChain(data: Array[Byte], filters: Seq[String],
      parms: String): Option[Array[Byte]] =
    filters.foldLeft(Option(data)) { (acc, f) =>
      acc.flatMap(d => f match {
        case "FlateDecode" | "Fl" => inflate(d).flatMap(applyPredictor(parms, _))
        case "LZWDecode" | "LZW" =>
          paramOr(EarlyChangeRe, parms, 1).flatMap(lzw(d, _))
            .flatMap(applyPredictor(parms, _))
        case "ASCII85Decode" | "A85" => ascii85(d)
        case "ASCIIHexDecode" | "AHx" => asciiHex(d)
        case "RunLengthDecode" | "RL" => runLength(d)
        case _ => None
      })
    }

  /** A JPEG payload as a [[PdfImage]]: dims and channels are the
    * values the JDK decoder reads, `data` stays the JPEG. A corrupt
    * JPEG skips the image, never garbage dims.
    */
  private def jpegImage(pageNo: Int, name: String, jpeg: Array[Byte]): Option[PdfImage] = {
    imageIoReady
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img).map(im => PdfImage(pageNo, name, im.getWidth,
      im.getHeight, im.getRaster.getNumBands, "jpeg", jpeg))
  }

  private def decodeImage(pageNo: Int, name: String, o: PdfObj,
      byNum: Map[Int, PdfObj]): Option[PdfImage] = {
    val filters = filtersOf(o.dict)
    def transportUnwrap(fs: Seq[String]): Option[Array[Byte]] =
      o.stream.flatMap(transportChain(_, fs, o.dict))
    filters.lastOption match {
      case Some("DCTDecode") | Some("DCT") =>
        // the JPEG decodes with the JDK — dims/channels are the TRUE
        // decoded values, and `data` stays the compressed JPEG so
        // downstream consumers re-decode with any codec they like
        transportUnwrap(filters.dropRight(1)).flatMap(jpegImage(pageNo, name, _))
      case Some("CCITTFaxDecode") | Some("CCF") =>
        // bitonal scans — the dominant raster in scanned PDFs
        for {
          fax <- transportUnwrap(filters.dropRight(1))
          whh <- ccittDecode(fax, o.dict,
            HeightRe.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption))
        } yield PdfImage(pageNo, name, whh._1, whh._2, 1, "raw", whh._3, 1)
      case _ =>
        // raster path: whatever decodeStream can fully decode (Flate/
        // LZW/ASCII incl. predictors); JBIG2/JPX remain documented
        // skips (None from decodeStream)
        for {
          data <- o.stream.flatMap(decodeStream(o.dict, _))
          w <- WidthRe.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption)
          h <- HeightRe.findFirstMatchIn(o.dict).flatMap(_.group(1).toIntOption)
          bpc <- paramOr(BpcRe, o.dict, 8).filter(b => Set(1, 2, 4, 8, 16)(b))
          ch <- channelsOf(o.dict, byNum, data.length, w, h, bpc)
        } yield PdfImage(pageNo, name, w, h, ch, "raw", data, bpc)
    }
  }

  // ---- inline images (§8.9.7): BI <abbrev dict> ID <binary> EI ----

  private val BiTokenRe = """(?<![A-Za-z0-9])BI(?![A-Za-z0-9])""".r
  private val IdTokenRe = """(?<![A-Za-z0-9])ID[\s]""".r
  private val EiTokenRe = """(?s)\s(EI)(?![A-Za-z0-9])""".r
  private val InlineDimRe = Map(
    "w" -> """/(?:W|Width)\s+(\d+)""".r,
    "h" -> """/(?:H|Height)\s+(\d+)""".r,
    "bpc" -> """/(?:BPC|BitsPerComponent)\s+(\d+)""".r)
  private val InlineCsRe = """/(?:CS|ColorSpace)\s*(\[[^\]]*\]|/[A-Za-z0-9]+)""".r
  private val InlineFilterRe = """/(?:F|Filter)\s*(\[[^\]]*\]|/[A-Za-z0-9]+)""".r
  private val InlineLenRe = """/(?:L|Length)\s+(\d+)""".r

  /** Exact byte length of a JPEG stream starting at `from` in a
    * latin-1 content string, by walking the marker structure (ISO
    * 10918-1 §B): SOI, then marker segments with 2-byte big-endian
    * payload lengths; after an SOS header the entropy-coded data runs
    * until the next marker that is neither byte-stuffing (FF 00) nor
    * a restart (FF D0–D7); EOI terminates. This makes a bare inline
    * DCT payload (no PDF-2.0 `/L`) exactly delimitable — the scan
    * follows declared segment lengths, so ' EI' or 'FFD9' byte runs
    * INSIDE entropy data or segment payloads cannot end it early.
    * None on any malformation or truncation (caller skips the image).
    */
  private[graft] def jpegScanLength(content: String, from: Int): Option[Int] = {
    val n = content.length
    def u(i: Int): Int = content.charAt(i) & 0xff
    if (from + 2 > n || u(from) != 0xff || u(from + 1) != 0xd8) return None
    var i = from + 2
    while (i + 1 < n) {
      if (u(i) != 0xff) return None // expected a marker
      var j = i + 1
      while (j < n && u(j) == 0xff) j += 1 // fill bytes
      if (j >= n) return None
      val marker = u(j)
      if (marker == 0xd9) return Some(j + 1 - from) // EOI
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
      else {
        if (j + 3 > n) return None
        val len = (u(j + 1) << 8) | u(j + 2) // includes its own 2 bytes
        if (len < 2 || j + 1 + len > n) return None
        i = j + 1 + len
        if (marker == 0xda) { // SOS: skip entropy-coded data
          var k = i
          var stop = -1
          while (stop < 0 && k + 1 < n) {
            if (u(k) == 0xff) {
              val b = u(k + 1)
              if (b == 0x00) k += 2 // stuffed literal FF
              else if (b >= 0xd0 && b <= 0xd7) k += 2 // restart marker
              else stop = k // a real marker (EOI, DNL, next SOS, …)
            } else k += 1
          }
          if (stop < 0) return None
          i = stop
        }
      }
    }
    None
  }

  /** One inline image's header (§8.9.7: `BI <key-value pairs>
    * ID<one whitespace><binary data> EI`, with the abbreviated key
    * and name forms `/W /H /BPC /CS /F /IM /L`), parsed once for both
    * consumers: the image path ([[inlineImages]]) and the content
    * walkers' skip ([[inlineImageEnd]]). `geometry` is (width,
    * height, channels, bpc) when the dims and the colour space are
    * known; `declaredLen` is PDF 2.0's `/L` (byte length of the
    * ENCODED data between ID and EI) when it fits the content.
    */
  private final case class InlineImage(parms: String, dataStart: Int,
      filters: Seq[String], geometry: Option[(Int, Int, Int, Int)],
      declaredLen: Option[Int]) {
    def dct: Boolean = filters.lastOption.exists(f => f == "DCTDecode" || f == "DCT")

    /** Exact sample byte count of the declared geometry. */
    def rawLen: Option[Int] = geometry
      .map { case (w, h, ch, bpc) => ((w.toLong * ch * bpc + 7) / 8) * h }
      .filter(l => l > 0 && l <= Int.MaxValue).map(_.toInt)

    /** The transport-decoded payload: a JPEG for DCT, else exactly
      * `rawLen` sample bytes; None when it does not decode to that.
      */
    def decode(encoded: Array[Byte]): Option[Array[Byte]] =
      if (dct) transportChain(encoded, filters.dropRight(1), parms)
      else rawLen.flatMap(n => transportChain(encoded, filters, parms).filter(_.length == n))

    def toImage(pageNo: Int, name: String, decoded: Array[Byte]): Option[PdfImage] =
      if (dct) jpegImage(pageNo, name, decoded)
      else geometry.collect { case (w, h, ch, bpc) if Set(1, 2, 4, 8, 16)(bpc) =>
        PdfImage(pageNo, name, w, h, ch, "raw", decoded, bpc)
      }
  }

  /** The header of the inline image whose `BI` token ends at `biEnd`;
    * None when no `ID` follows.
    */
  private def inlineHeader(content: String, biEnd: Int): Option[InlineImage] = {
    val idM = IdTokenRe.pattern.matcher(content)
    if (!idM.find(biEnd)) return None
    val parms = content.substring(biEnd, idM.start)
    def dim(key: String): Option[Int] =
      InlineDimRe(key).findFirstMatchIn(parms).flatMap(_.group(1).toIntOption)
    val isMask = boolParam(parms, "/IM") || boolParam(parms, "/ImageMask")
    val channels: Option[Int] =
      if (isMask) Some(1)
      else InlineCsRe.findFirstMatchIn(parms).map(_.group(1)).flatMap {
        case "/G" | "/DeviceGray" => Some(1)
        case "/RGB" | "/DeviceRGB" => Some(3)
        case "/CMYK" | "/DeviceCMYK" => Some(4)
        case "/I" | "/Indexed" => Some(1) // palette indices
        case arr if arr.startsWith("[") =>
          // array form: decided by the FIRST name — [/I base hival
          // lookup] is indexed (1 component per sample)
          NameRe.findFirstMatchIn(arr).map(_.group(1)) match {
            case Some("I") | Some("Indexed") => Some(1)
            case _ => None
          }
        case _ => None // named resource color space — indeterminate
      }
    val dataStart = idM.end // ID plus its single whitespace
    Some(InlineImage(parms, dataStart,
      filters = InlineFilterRe.findFirstMatchIn(parms)
        .map(m => NameRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
        .getOrElse(Nil),
      geometry = for (w <- dim("w"); h <- dim("h"); ch <- channels)
        yield (w, h, ch, if (isMask) 1 else dim("bpc").getOrElse(8)),
      declaredLen = InlineLenRe.findFirstMatchIn(parms).flatMap(_.group(1).toIntOption)
        .filter(l => l >= 0 && dataStart.toLong + l <= content.length)))
  }

  /** Where the encoded payload of `im` ends in `content` (exclusive),
    * with its [[InlineImage.decode]]d bytes when they decode. The one
    * payload-end rule, in priority order:
    *   - `/L` removes all delimiting guesswork;
    *   - inline DCT (JPEG) delimits when bare — the JPEG marker
    *     structure proves its own end ([[jpegScanLength]]) — or
    *     behind a self-terminating transport (ASCII85 `~>`, ASCIIHex
    *     `>`) whose decode is EXACTLY one structurally complete JPEG:
    *     ' ', 'E', 'I', '/' and digits are all ASCII85 body chars, so
    *     a missing '~>' would otherwise adopt a LATER stream's
    *     terminator. EI candidates are never tried for DCT: a JPEG
    *     body may contain ' EI' and decoders tolerate trailing bytes;
    *   - an unfiltered payload is exactly `rawLen` bytes long;
    *   - a filtered one ends at the first of up to 16 whitespace-
    *     delimited ` EI` candidates whose bytes decode to exactly
    *     `rawLen` (binary data may spell ' EI', so the first
    *     occurrence is a guess, not a fact).
    * None = undelimitable (unknown colour space or dims, inline
    * CCITT, DCT behind another transport without `/L`).
    */
  private def inlineExtent(content: String, im: InlineImage): Option[(Int, Option[Array[Byte]])] = {
    val ds = im.dataStart
    def encoded(end: Int): Array[Byte] =
      content.substring(ds, end).getBytes(StandardCharsets.ISO_8859_1)
    def at(end: Int): Option[(Int, Option[Array[Byte]])] = Some((end, im.decode(encoded(end))))
    im.declaredLen match {
      case Some(l) => at(ds + l)
      case None if im.dct =>
        if (im.filters.size == 1) jpegScanLength(content, ds).flatMap(l => at(ds + l))
        else {
          val end = im.filters.head match {
            case "ASCII85Decode" | "A85" =>
              val t = content.indexOf("~>", ds); if (t >= 0) Some(t + 2) else None
            case "ASCIIHexDecode" | "AHx" =>
              val t = content.indexOf('>', ds); if (t >= 0) Some(t + 1) else None
            case _ => None
          }
          end.flatMap(e => im.decode(encoded(e))
            .filter(j => jpegScanLength(new String(j, StandardCharsets.ISO_8859_1), 0)
              .contains(j.length))
            .map(j => (e, Some(j))))
        }
      case None =>
        im.rawLen.flatMap { n =>
          if (im.filters.isEmpty) { if (ds.toLong + n <= content.length) at(ds + n) else None }
          else {
            val eiM = EiTokenRe.pattern.matcher(content)
            var tries = 0
            var found: Option[(Int, Option[Array[Byte]])] = None
            var from = ds
            while (found.isEmpty && tries < 16 && eiM.find(from)) {
              tries += 1
              from = eiM.start + 1
              val end = eiM.start
              found = im.decode(encoded(end)).map(d => (end, Some(d)))
            }
            found
          }
        }
    }
  }

  /** Inline images of a page's content: every `BI` whose payload
    * [[inlineExtent]] delimits and decodes, named `BI#n` in content
    * order. The scan is a single forward cursor: once an image's
    * payload is delimited, scanning resumes PAST it, so 'BI' byte runs
    * inside consumed binary data cannot start phantom parses. Anything
    * indeterminate skips, never mislabels.
    */
  private def inlineImages(content: String, pageNo: Int): Seq[PdfImage] = {
    val out = ArrayBuffer.empty[PdfImage]
    val biM = BiTokenRe.pattern.matcher(content)
    var pos = 0
    while (pos <= content.length && biM.find(pos)) {
      // default resume point: just past this BI token (false alarm)
      pos = biM.end
      for {
        im <- inlineHeader(content, biM.end)
        (end, decoded) <- inlineExtent(content, im)
        bytes <- decoded
        img <- im.toImage(pageNo, s"BI#${out.length + 1}", bytes)
      } { out += img; pos = end }
    }
    out.toSeq
  }

  /** End (exclusive, just past the terminating `EI`) of the inline
    * image whose `BI` token ends at `biEnd` — the content walkers'
    * skip, so payload bytes can't execute as operators. The payload
    * ends where [[inlineExtent]] puts it, and the walk resumes after
    * the first whitespace-delimited `EI` from there. An undelimitable
    * payload falls back to the first `EI` after `ID`; with no `ID` or
    * no `EI` the rest of the stream drops — parsing binary as
    * operators would corrupt the page's text state (skip beats
    * garbage).
    */
  private def inlineImageEnd(stream: String, biEnd: Int): Int =
    inlineHeader(stream, biEnd).fold(stream.length) { im =>
      val from = inlineExtent(stream, im).fold(im.dataStart)(_._1)
      // EiTokenRe wants the preceding whitespace in-match — back up one
      // so a payload ending exactly at `from` with its EI delimiter
      // space already consumed still matches
      val eiM = EiTokenRe.pattern.matcher(stream)
      if (eiM.find(math.max(0, from - 1))) eiM.end(1) else stream.length
    }

  /** All images of the document, in page order — image XObjects first,
    * then the page's inline images (§8.9.7) — decrypted and
    * ObjStm-expanded like [[splitPages]]. Skipped entries
    * (unsupported codec, corrupt payload) drop silently: the page
    * split and the other images survive.
    */
  def extractImages(bytes: Array[Byte]): Seq[PdfImage] = {
    val doc = prepare(bytes)
    doc.pages.zipWithIndex.flatMap { case (o, i) =>
      val pageNo = i + 1
      val xobjects = for {
        res <- resolvedResources(o.dict, doc.byNum).toSeq
        xo <- dictValue(res, "/XObject", doc.byNum).toSeq
        m <- FontEntryRefRe.findAllMatchIn(xo)
        n <- m.group(2).toIntOption
        io <- doc.byNum.get(n)
        if io.dict.contains("/Image") && io.stream.isDefined
        img <- decodeImage(pageNo, m.group(1), io, doc.byNum)
      } yield img
      xobjects ++ inlineImages(pageContent(o, doc.byNum), pageNo)
    }
  }

  // ---------------------------------------------------------------
  // Content reading: ONE tokenizer and ONE glyph decoder feed both
  // interpreters — the plain text walker ([[extractText]]) and the
  // positioned one ([[positionedChars]]).
  // ---------------------------------------------------------------

  /** A content-stream token (§7.2, §8.2): an operand, an array
    * bracket, or an operator. Strings carry their raw code bytes as
    * chars; glyph decoding happens in the interpreter, which knows the
    * current font. `TArr` is the positioned walker's assembled array.
    */
  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TName(n: String) extends Tok
  private final case class TOp(name: String) extends Tok
  private case object TArrOpen extends Tok
  private case object TArrClose extends Tok
  private final case class TArr(items: Vector[Tok]) extends Tok

  private def isDelim(c: Char): Boolean =
    Character.isWhitespace(c) || "()<>[]{}/%".indexOf(c) >= 0

  /** Tokenize a decoded content stream, feeding each token to `f` in
    * order. Literal and hex strings decode their escapes; `<<…>>`
    * dict operands (BDC/DP property lists) skip balanced, and an
    * unterminated `<<` skips alone (as does every later one, which
    * keeps the scan linear), so the operators after it still read;
    * comments
    * are whitespace (§7.2.4) — a '(string)' inside one is not a live
    * operand; operators are letter runs (plus `*`) and the
    * single-char `'`/`"`. An inline image (`BI…ID…EI`) skips
    * wholesale by [[inlineImageEnd]] and then surfaces as the `BI`
    * operator, so binary payloads can't masquerade as operators.
    */
  private def lex(stream: String)(f: Tok => Unit): Unit = {
    var i = 0
    val n = stream.length
    var unbalanced = false
    while (i < n) {
      val c = stream.charAt(i)
      if (c == '(') {
        val (s, ni) = scanLiteralString(stream, i)
        f(TStr(s)); i = ni
      } else if (c == '<') {
        if (i + 1 < n && stream.charAt(i + 1) == '<') {
          // after one unterminated `<<`, a balanced scan from each
          // later `<<` would re-read the rest of the stream
          val d = if (unbalanced) None else balancedDict(stream, i)
          if (d.isEmpty) unbalanced = true
          i += d.fold(2)(_.length)
        } else {
          // consumed wholesale so its hex letters can't parse as
          // operators
          val (so, ni) = scanHexString(stream, i)
          so.foreach(s => f(TStr(s)))
          i = ni
        }
      } else if (c == '[') { f(TArrOpen); i += 1 }
      else if (c == ']') { f(TArrClose); i += 1 }
      else if (c == '%') {
        while (i < n && stream.charAt(i) != '\n' && stream.charAt(i) != '\r') i += 1
      } else if (c == '/') {
        val s = i + 1
        i += 1
        while (i < n && !isDelim(stream.charAt(i))) i += 1
        f(TName(stream.substring(s, i)))
      } else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        PdfNumRe.findPrefixOf(stream.substring(i, math.min(n, i + 32))) match {
          case Some(m) =>
            m.toDoubleOption.foreach(v => f(TNum(v)))
            i += m.length
          case None => i += 1
        }
      } else if (c == '\'' || c == '"') {
        f(TOp(c.toString)); i += 1
      } else if (c.isLetter) {
        val s = i
        while (i < n && (stream.charAt(i).isLetter || stream.charAt(i) == '*')) i += 1
        val op = stream.substring(s, i)
        if (op == "BI") i = inlineImageEnd(stream, i)
        f(TOp(op))
      } else i += 1 // stray delimiters, whitespace: skip
    }
  }

  private val Latin1Glyph: Array[String] = Array.tabulate(256)(_.toChar.toString)

  /** Each glyph code of a shown string: two bytes per code under a
    * Type0 (CID) font, one byte otherwise.
    */
  private def forEachCode(font: Option[PdfFont], raw: String)(f: Int => Unit): Unit =
    if (font.exists(_.isType0)) {
      var k = 0
      while (k + 1 < raw.length) {
        f(((raw.charAt(k) & 0xff) << 8) | (raw.charAt(k + 1) & 0xff))
        k += 2
      }
    } else {
      var k = 0
      while (k < raw.length) { f(raw.charAt(k) & 0xff); k += 1 }
    }

  /** Unicode of one glyph code under `font`; "" = suppressed. No font
    * (a name that didn't resolve — the fixture / no-resources case):
    * Latin-1 identity. A Type0 font decodes through its ToUnicode
    * CMap alone, so one WITHOUT a CMap suppresses (empty beats
    * garbage). A simple font tries ToUnicode, then `/Differences`,
    * then the base encoding; Latin-1 identity is only safe when the
    * font carries NO ToUnicode CMap (the no-metadata legacy case) — a
    * font WITH a CMap that leaves a code unmapped is subsetted /
    * symbolic, its codes are glyph indices, not characters — and
    * `suppressUnmapped` fonts (MacExpert) drop unmapped codes too.
    */
  private def glyphText(font: Option[PdfFont], code: Int): String = font match {
    case None => Latin1Glyph(code)
    case Some(f) if f.isType0 => f.toUnicode.flatMap(_.get(code)).getOrElse("")
    case Some(f) =>
      f.toUnicode.flatMap(_.get(code)).orElse(f.differences.get(code))
        .orElse(f.baseEncoding.get(code)).getOrElse {
          if (f.toUnicode.isEmpty && !f.suppressUnmapped) Latin1Glyph(code) else ""
        }
  }

  /** Text of the `(…) Tj` / `[(…) -10 (…)] TJ` / `'` / `"` show-text
    * operators of a decoded content stream, whitespace-joined.
    *
    * Content streams are postfix: operands accumulate until an
    * operator consumes them. This walker keeps the PENDING string
    * operands (decoded through the current font at push time; numbers,
    * names and brackets are skipped) and, at each operator, emits them
    * if it is a show-text op and discards them otherwise — so every
    * string of a multi-string `[…] TJ` array is kept. `Tf` selects the
    * current font from `fonts` by the last name operand before it.
    */
  def extractText(stream: String, fonts: Map[String, PdfFont] = Map.empty): String = {
    val out = new StringBuilder
    val pending = ArrayBuffer.empty[String]
    var lastName = ""
    var curFont: Option[PdfFont] = None
    lex(stream) {
      case TStr(raw) =>
        val sb = new StringBuilder
        forEachCode(curFont, raw)(code => sb.append(glyphText(curFont, code)))
        if (sb.nonEmpty) pending += sb.toString
      case TName(nm) => lastName = nm
      case TOp(op) =>
        if (op == "Tj" || op == "TJ" || op == "'" || op == "\"")
          for (s <- pending) {
            if (out.nonEmpty) out.append(' ')
            out.append(s)
          }
        else if (op == "Tf") curFont = fonts.get(lastName)
        pending.clear()
      case _ => ()
    }
    out.toString
  }

  /** Scan a literal string whose `(` is at `start`; returns (decoded
    * chars, index after the closing paren). §7.3.4.2 escapes: named
    * escapes, octal (≤3 digits), `\`-EOL continuation; unescaped
    * CR/CRLF normalize to ONE line feed; octal high-order overflow is
    * ignored (`\777` is byte 0xFF), so every char is one code byte.
    */
  private def scanLiteralString(stream: String, start: Int): (String, Int) = {
    val n = stream.length
    val sb = new StringBuilder
    var i = start + 1
    var depth = 1
    while (i < n && depth > 0) {
      val ch = stream.charAt(i)
      if (ch == '\\' && i + 1 < n) {
        val e = stream.charAt(i + 1)
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '(' | ')' | '\\' => sb.append(e); i += 2
          case '\n' => i += 2 // \-EOL line continuation: no char
          case '\r' =>
            i += 2
            if (i < n && stream.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var j = i + 1
            var v = 0
            while (j < n && j < i + 4 && stream.charAt(j) >= '0' && stream.charAt(j) <= '7') {
              v = v * 8 + (stream.charAt(j) - '0'); j += 1
            }
            sb.append((v & 0xff).toChar); i = j
          case _ => sb.append(e); i += 2
        }
      } else if (ch == '(') { depth += 1; sb.append(ch); i += 1 }
      else if (ch == ')') { depth -= 1; if (depth > 0) sb.append(ch); i += 1 }
      else if (ch == '\r') {
        // unescaped EOL in a literal reads as ONE LINE FEED
        // (§7.3.4.2) — CR and CRLF both normalize
        sb.append('\n'); i += 1
        if (i < n && stream.charAt(i) == '\n') i += 1
      } else { sb.append(ch); i += 1 }
    }
    (sb.toString, i)
  }

  /** Scan a hex string whose `<` is at `start` (caller has excluded
    * `<<`); returns (decoded chars if the payload is valid hex, index
    * after the closing `>`). Odd length pads with 0 (§7.3.4.3).
    */
  private def scanHexString(stream: String, start: Int): (Option[String], Int) = {
    val n = stream.length
    val s = start + 1
    var i = s
    while (i < n && stream.charAt(i) != '>') i += 1
    val hex = stream.substring(s, math.min(i, n)).filterNot(_.isWhitespace)
    if (i < n) i += 1 // consume '>'
    if (hex.nonEmpty && hex.forall(ch => Character.digit(ch, 16) >= 0)) {
      val padded = if (hex.length % 2 == 1) hex + "0" else hex
      val sb = new StringBuilder(padded.length / 2)
      var h = 0
      while (h < padded.length) {
        sb.append(Integer.parseInt(padded.substring(h, h + 2), 16).toChar)
        h += 2
      }
      (Some(sb.toString), i)
    } else (None, i)
  }

  // ---------------------------------------------------------------
  // Positioned text (round 7): per-word bounding boxes from the
  // content-stream text state machine (ISO 32000-1 §9.4), the missing
  // half of the reference's core extraction path — its
  // `PdfPlumberTextDetector` (extern/pdftext.py:90-107) emits words
  // WITH boxes via pdfplumber `extract_words(x_tolerance,
  // y_tolerance)` and feeds them to MatchingService/TextOrderService.
  // Here: track Tm/Td/TD/T*/TL/Tf/Tc/Tw/Tz/Ts, advance the cursor by
  // glyph widths (/Widths, Type0 /W, or the documented defaults),
  // group chars into words pdfplumber-style, flip to top-origin page
  // coordinates so the output feeds graft's BBox geometry directly.
  // ---------------------------------------------------------------

  /** Glyph widths of a font, in glyph space (1000 units per em).
    * Simple fonts: `/Widths` indexed from `/FirstChar`; codes outside
    * the array take `defaultWidth` (500 — the Helvetica average,
    * documented: this subset has no font-program metrics). Type0:
    * `/W` CID ranges with `/DW` default (spec default 1000).
    */
  final case class PdfFontMetrics(
      firstChar: Int = 0,
      widths: Vector[Double] = Vector.empty,
      cidWidths: Map[Int, Double] = Map.empty,
      defaultWidth: Double = 500.0)

  /** Balanced `[ … ]` substring starting at `open` (Type0 `/W` nests
    * one bracket level); None if unterminated.
    */
  private def balancedArr(s: String, open: Int): Option[String] = {
    var i = open
    var depth = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '[') depth += 1
      else if (c == ']') {
        depth -= 1
        if (depth == 0) return Some(s.substring(open, i + 1))
      }
      i += 1
    }
    None
  }

  /** The ARRAY VALUE of `/Key`: inline `[ … ]` or an indirect ref to
    * an array-bodied object (`12 0 obj [ … ] endobj`).
    */
  private def arrValue(body: String, key: String, byNum: Map[Int, PdfObj]): Option[String] = {
    val k = keyIndex(body, key)
    if (k < 0) return None
    var i = k + key.length
    while (i < body.length && Character.isWhitespace(body.charAt(i))) i += 1
    if (i < body.length && body.charAt(i) == '[') balancedArr(body, i)
    else
      AnchoredRefRe.findFirstMatchIn(body.substring(i, math.min(body.length, i + 24)))
        .flatMap(_.group(1).toIntOption).flatMap(byNum.get).flatMap { o =>
          val open = o.dict.indexOf('[')
          if (open < 0) None else balancedArr(o.dict, open)
        }
  }

  private val PdfNumRe = """[-+]?(?:\d+\.?\d*|\.\d+)""".r

  /** The NUMBER VALUE of `/Key` in `body` (direct only). */
  private def numValueOf(body: String, key: String): Option[Double] = {
    val k = keyIndex(body, key)
    if (k < 0) return None
    var i = k + key.length
    while (i < body.length && Character.isWhitespace(body.charAt(i))) i += 1
    PdfNumRe.findPrefixOf(body.substring(i, math.min(body.length, i + 24)))
      .flatMap(_.toDoubleOption)
  }

  /** §9.7.4.3 `/W` array: `c [w1 … wn]` assigns consecutive CIDs from
    * c; `c1 c2 w` assigns the range. Later entries win on overlap.
    */
  private def parseCidWidths(arr: String): Map[Int, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
    // outer-level tokens: numbers and bracket groups, in order
    val toks = ArrayBuffer.empty[Either[Double, Vector[Double]]]
    var i = 1 // past the opening [
    val end = arr.length - 1
    while (i < end) {
      val c = arr.charAt(i)
      if (c == '[') {
        balancedArr(arr, i) match {
          case Some(g) =>
            toks += Right(PdfNumRe.findAllIn(g).flatMap(_.toDoubleOption).toVector)
            i += g.length
          case None => i = end
        }
      } else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        PdfNumRe.findPrefixOf(arr.substring(i, math.min(end, i + 24))) match {
          case Some(m) =>
            m.toDoubleOption.foreach(v => toks += Left(v))
            i += m.length
          case None => i += 1
        }
      } else i += 1
    }
    var k = 0
    while (k < toks.length) {
      toks(k) match {
        case Left(c0) if k + 1 < toks.length =>
          toks(k + 1) match {
            case Right(ws) =>
              ws.zipWithIndex.foreach { case (w, j) => out.put(c0.toInt + j, w) }
              k += 2
            case Left(c1) =>
              if (k + 2 < toks.length) toks(k + 2) match {
                case Left(w) =>
                  // bounded: a corrupt range can't allocate the int space
                  var c = c0.toInt
                  val hi = math.min(c1.toInt, c0.toInt + 65535)
                  while (c <= hi) { out.put(c, w); c += 1 }
                case Right(_) => ()
              }
              k += 3
          }
        case _ => k += 1
      }
    }
    out.toMap
  }

  /** Width metrics of a font dict (see [[PdfFontMetrics]]). Type0
    * metrics live on the single descendant CIDFont
    * (`/DescendantFonts [N 0 R]`, §9.7.6).
    */
  private def parseMetrics(fdict: String, byNum: Map[Int, PdfObj], isType0: Boolean): PdfFontMetrics =
    if (isType0) {
      val desc: Option[String] = arrValue(fdict, "/DescendantFonts", byNum).flatMap { arr =>
        val inner = arr.substring(1, arr.length - 1)
        val open = inner.indexOf("<<")
        if (open >= 0) balancedDict(inner, open)
        else RefRe.findFirstMatchIn(inner).flatMap(_.group(1).toIntOption)
          .flatMap(byNum.get).map(_.dict)
      }
      PdfFontMetrics(
        cidWidths = desc.flatMap(arrValue(_, "/W", byNum)).map(parseCidWidths).getOrElse(Map.empty),
        defaultWidth = desc.flatMap(numValueOf(_, "/DW")).getOrElse(1000.0))
    } else {
      PdfFontMetrics(
        firstChar = numValueOf(fdict, "/FirstChar").map(_.toInt).getOrElse(0),
        widths = arrValue(fdict, "/Widths", byNum)
          .map(a => PdfNumRe.findAllIn(a).flatMap(_.toDoubleOption).toVector)
          .getOrElse(Vector.empty),
        defaultWidth = 500.0)
    }

  /** One positioned glyph in DEVICE space (PDF y-up, origin bottom
    * left); box = the em square on the baseline (y from baseline to
    * baseline+size — the approximation when no font-program
    * ascent/descent exists, stated once here).
    */
  private[kernels] final case class PChar(text: String, x0: Double, y0: Double, x1: Double, y1: Double)

  /** Positioned chars of a decoded content stream. Tracks the §9.4
    * text state machine — `BT/ET`, `Tm`, `Td`, `TD`, `T*`, `TL`,
    * `Tf` (font + size), `Tc`, `Tw`, `Tz`, `Ts`, `'`, `"` — with a
    * real operand stack (numbers/names/strings/arrays in order, the
    * plain walker's string-only pending list can't position). Cursor
    * advance per glyph: `(w0·Tfs + Tc + Tw?)·Th` with `w0` from the
    * font metrics; `TJ` number adjustments move `(−adj/1000·Tfs)·Th`.
    * The CTM IS tracked (`cm` concatenation with the `q`/`Q` graphics
    * stack): glyph boxes render through Tm × CTM, so translated,
    * scaled, and rotated text FRAMES position correctly — advances
    * stay in text space per §9.4.4. The remaining approximation is
    * the glyph box itself (em square on the baseline, see [[PChar]]).
    * Suppressed codes (unmapped subset/symbolic fonts) still ADVANCE
    * the cursor — their width is real even when their unicode isn't.
    * Tokens come from the shared [[lex]], glyph text from
    * [[glyphText]].
    */
  private[kernels] def positionedChars(stream: String, fonts: Map[String, PdfFont]): Vector[PChar] = {
    val out = Vector.newBuilder[PChar]
    // text state (§9.3); matrices as (a b c d e f) row-major 2x3,
    // row-vector convention: [x y 1]·M
    var tlm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    var tm = tlm.clone()
    var tl = 0.0; var tfs = 0.0; var tc = 0.0; var tw = 0.0
    var th = 1.0; var trise = 0.0
    var curFont: Option[PdfFont] = None
    // graphics state (§8.4): the CTM (`cm`) and its q/Q stack — glyph
    // boxes render through Tm × CTM, so translated/scaled/rotated
    // text FRAMES position correctly; advances stay in text space
    var ctm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    val gsStack = scala.collection.mutable.ArrayDeque.empty[Array[Double]]
    def mult(m1: Array[Double], m2: Array[Double]): Array[Double] = Array(
      m1(0) * m2(0) + m1(1) * m2(2),
      m1(0) * m2(1) + m1(1) * m2(3),
      m1(2) * m2(0) + m1(3) * m2(2),
      m1(2) * m2(1) + m1(3) * m2(3),
      m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
      m1(4) * m2(1) + m1(5) * m2(3) + m2(5))

    def td(tx: Double, ty: Double): Unit = {
      // Tlm ← translate(tx,ty) × Tlm; Tm ← Tlm
      val e = tx * tlm(0) + ty * tlm(2) + tlm(4)
      val f = tx * tlm(1) + ty * tlm(3) + tlm(5)
      tlm = Array(tlm(0), tlm(1), tlm(2), tlm(3), e, f)
      tm = tlm.clone()
    }
    def advance(tx: Double): Unit = {
      val e = tx * tm(0) + tm(4)
      val f = tx * tm(1) + tm(5)
      tm(4) = e; tm(5) = f
    }
    def widthOf(code: Int): Double = curFont match {
      case None => 500.0
      case Some(ft) =>
        val m = ft.metrics
        if (ft.isType0) m.cidWidths.getOrElse(code, m.defaultWidth)
        else {
          val idx = code - m.firstChar
          if (idx >= 0 && idx < m.widths.length) m.widths(idx) else m.defaultWidth
        }
    }
    def emitGlyph(code: Int, isSpaceByte: Boolean): Unit = {
      val w0 = widthOf(code) / 1000.0
      // "" = suppressed: the glyph still advances
      val txt = glyphText(curFont, code)
      if (txt.nonEmpty) {
        val gw = w0 * tfs * th
        val trm = mult(tm, ctm)
        var x0 = Double.MaxValue; var y0 = Double.MaxValue
        var x1 = -Double.MaxValue; var y1 = -Double.MaxValue
        var ci = 0
        while (ci < 4) {
          val x = if ((ci & 1) == 0) 0.0 else gw
          val y = trise + (if ((ci & 2) == 0) 0.0 else tfs)
          val dx = x * trm(0) + y * trm(2) + trm(4)
          val dy = x * trm(1) + y * trm(3) + trm(5)
          if (dx < x0) x0 = dx
          if (dx > x1) x1 = dx
          if (dy < y0) y0 = dy
          if (dy > y1) y1 = dy
          ci += 1
        }
        out += PChar(txt, x0, y0, x1, y1)
      }
      advance((w0 * tfs + tc + (if (isSpaceByte) tw else 0.0)) * th)
    }
    def show(raw: String): Unit = {
      // word spacing applies to the single-byte code 32 only (§9.3.3)
      val singleByte = !curFont.exists(_.isType0)
      forEachCode(curFont, raw)(code => emitGlyph(code, isSpaceByte = singleByte && code == 32))
    }

    val stack = ArrayBuffer.empty[Tok]
    var arrBuf: ArrayBuffer[Tok] = null // non-null while inside [ … ]
    // nesting guard: arrays don't legally nest in text operands, but a
    // hostile stream's inner '[' must not RESET the buffer (tokens
    // already collected would vanish and the inner ']' would close the
    // array early, spilling the tail onto the operand stack) — nested
    // content degrades to a flattened array instead
    var arrDepth = 0
    def pushTok(t: Tok): Unit = if (arrBuf ne null) arrBuf += t else stack += t
    def popNums(k: Int): Array[Double] = {
      // the LAST k numeric operands before the operator, in order
      val vs = stack.collect { case TNum(v) => v }
      if (vs.length >= k) vs.takeRight(k).toArray else null
    }
    def lastStr: Option[String] = stack.reverseIterator.collectFirst { case TStr(s) => s }
    def op(name: String): Unit = {
      name match {
        case "BT" => tlm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0); tm = tlm.clone()
        case "ET" => ()
        case "Tf" =>
          (stack.lastOption, stack.lift(stack.length - 2)) match {
            case (Some(TNum(sz)), Some(TName(nm))) => curFont = fonts.get(nm); tfs = sz
            case _ => ()
          }
        case "Td" => val v = popNums(2); if (v != null) td(v(0), v(1))
        case "TD" => val v = popNums(2); if (v != null) { tl = -v(1); td(v(0), v(1)) }
        case "Tm" =>
          val v = popNums(6)
          if (v != null) { tlm = v.clone(); tm = v.clone() }
        case "T*" => td(0.0, -tl)
        case "TL" => val v = popNums(1); if (v != null) tl = v(0)
        case "Tc" => val v = popNums(1); if (v != null) tc = v(0)
        case "Tw" => val v = popNums(1); if (v != null) tw = v(0)
        case "Tz" => val v = popNums(1); if (v != null) th = v(0) / 100.0
        case "Ts" => val v = popNums(1); if (v != null) trise = v(0)
        case "Tj" => lastStr.foreach(show)
        case "'" => td(0.0, -tl); lastStr.foreach(show)
        case "\"" =>
          val v = popNums(2)
          if (v != null) { tw = v(0); tc = v(1) }
          td(0.0, -tl)
          lastStr.foreach(show)
        case "TJ" =>
          stack.lastOption match {
            case Some(TArr(items)) =>
              items.foreach {
                case TStr(s) => show(s)
                case TNum(adj) => advance((-adj / 1000.0) * tfs * th)
                case _ => ()
              }
            case _ => ()
          }
        case "cm" =>
          val v = popNums(6)
          if (v != null) ctm = mult(v, ctm)
        // q/Q save/restore ONLY the CTM. Per ISO 32000-1 §8.4.1 the
        // text-state parameters (Tf font+size, Tc, Tw, Tz, TL, Ts) are
        // also graphics state, but pdfminer/pdfplumber let them survive
        // Q — this walker deliberately matches that reference behavior
        // (a 'q /F2 24 Tf … Q' stream keeps the inner font after Q).
        case "q" => gsStack.append(ctm.clone())
        case "Q" => if (gsStack.nonEmpty) ctm = gsStack.removeLast()
        case _ => () // other graphics operators: operands consumed, no effect
      }
      stack.clear()
    }

    lex(stream) {
      case TArrOpen =>
        if (arrDepth == 0) arrBuf = ArrayBuffer.empty[Tok]
        arrDepth += 1
      case TArrClose =>
        if (arrDepth > 0) {
          arrDepth -= 1
          if (arrDepth == 0 && (arrBuf ne null)) { stack += TArr(arrBuf.toVector); arrBuf = null }
        }
      case TOp(name) => op(name)
      case t => pushTok(t)
    }
    out.result()
  }

  /** One extracted word with its box in TOP-ORIGIN page coordinates
    * (uly < lry, y growing downward — graft's BBox convention).
    * `wordNo` is the page-local reading-stream index (lines top to
    * bottom, words left to right).
    */
  final case class PdfWord(pageNo: Int, wordNo: Int, text: String,
      x0: Double, top: Double, x1: Double, bottom: Double)

  /** pdfplumber `extract_words` grouping (defaults x/y tolerance 3,
    * blank chars dropped): chars cluster into lines by their TOP edge
    * (greedy chain over the sorted tops, gap > `yTol` starts a line —
    * pdfplumber's `cluster_objects`), then within a line (sorted by
    * x0) a whitespace char or an x-gap > `xTol` ends the word. Word
    * box = the union of its member char boxes. Input and output are
    * TOP-ORIGIN display coordinates (y0 = top < y1 = bottom) — the
    * caller applies the device→display flip and any page `/Rotate`
    * BEFORE grouping, so lines cluster in the orientation a reader
    * (and pdfplumber's display-space extract_words) sees.
    */
  private def groupWordsTop(chars: Seq[PChar], xTol: Double, yTol: Double): Vector[(String, Double, Double, Double, Double)] = {
    if (chars.isEmpty) return Vector.empty
    val sorted = chars.sortBy(c => (c.y0, c.x0))
    val lines = ArrayBuffer.empty[ArrayBuffer[PChar]]
    var lastTop = Double.NaN
    for (c <- sorted) {
      if (lines.isEmpty || math.abs(c.y0 - lastTop) > yTol) lines += ArrayBuffer(c)
      else lines.last += c
      lastTop = c.y0
    }
    val words = Vector.newBuilder[(String, Double, Double, Double, Double)]
    for (line <- lines) {
      val lc = line.sortBy(_.x0)
      val buf = ArrayBuffer.empty[PChar]
      def flush(): Unit = if (buf.nonEmpty) {
        words += ((buf.iterator.map(_.text).mkString,
          buf.iterator.map(_.x0).min, buf.iterator.map(_.y0).min,
          buf.iterator.map(_.x1).max, buf.iterator.map(_.y1).max))
        buf.clear()
      }
      for (c <- lc) {
        if (c.text.forall(_.isWhitespace)) flush()
        else if (buf.nonEmpty && c.x0 - buf.last.x1 > xTol) { flush(); buf += c }
        else buf += c
      }
      flush()
    }
    words.result()
  }

  private val MediaBoxRe =
    """/MediaBox\s*\[\s*([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s*\]""".r
  // the value must be DIRECT: '/Rotate 90 0 R' stores the angle in
  // object 90 — capturing the object number would rotate by it
  // (MediaBoxRe simply fails to match indirect values; same fallback)
  private val RotateRe = """/Rotate\s+(-?\d+)(?!\d)(?!\s+\d+\s+R)""".r

  /** Positioned words of every page (reference `PdfPlumberTextDetector`,
    * extern/pdftext.py:90-107): the [[positionedChars]] walk over the
    * page's [[pageContent]], mapped to
    * top-origin DISPLAY coordinates (device flip by the inheritable
    * `/MediaBox` height — US Letter 792 when absent, corrupt files
    * degrade predictably — then the inheritable `/Rotate` quarter
    * turns: 90 → (y, x), 180 → (W−x, y-flip-undone), 270 →
    * (H−y, W−x); the displayed page swaps W/H on odd quarters), then
    * grouped pdfplumber-style IN display space so lines cluster the
    * way a reader sees them.
    */
  def splitPagesWords(bytes: Array[Byte], xTol: Double = 3.0, yTol: Double = 3.0): Seq[PdfWord] = {
    val doc = prepare(bytes)
    val byNum = doc.byNum
    val fontCache = scala.collection.mutable.HashMap.empty[Int, PdfFont]
    doc.pages.zipWithIndex.flatMap { case (o, i) =>
      val body = o.dict
      val fonts = fontsOf(body, byNum, fontCache)
      // full box, not just extents: a non-zero lower-left origin
      // (scanner/imposition output) shifts every coordinate — the
      // flip is t − y and the x offset is x − l
      val (boxL, boxB, pageW, pageH) = inheritFromAncestors(body, byNum)(d =>
        MediaBoxRe.findFirstMatchIn(d).flatMap(m =>
          for {
            l <- m.group(1).toDoubleOption; b <- m.group(2).toDoubleOption
            r <- m.group(3).toDoubleOption; t <- m.group(4).toDoubleOption
          } yield (l, b, r - l, t - b)))
        .getOrElse((0.0, 0.0, 612.0, 792.0))
      val rot = inheritFromAncestors(body, byNum)(d =>
        RotateRe.findFirstMatchIn(d).flatMap(_.group(1).toIntOption))
        .map(r => ((r % 360) + 360) % 360).getOrElse(0)
      // device (PDF y-up) box → top-origin display box under /Rotate:
      // coordinates rebase to the MediaBox origin first, then the
      // quarter-turn image maps apply (90 CW: (X,Y)→(H−Y,X) in display
      // coords); axis-aligned boxes stay axis-aligned
      def display(c: PChar): PChar = {
        val (x0, x1) = (c.x0 - boxL, c.x1 - boxL)
        val (y0, y1) = (c.y0 - boxB, c.y1 - boxB)
        rot match {
          case 90 => PChar(c.text, y0, x0, y1, x1)
          case 180 => PChar(c.text, pageW - x1, y0, pageW - x0, y1)
          case 270 => PChar(c.text, pageH - y1, pageW - x1, pageH - y0, pageW - x0)
          case _ => PChar(c.text, x0, pageH - y1, x1, pageH - y0)
        }
      }
      val chars = positionedChars(pageContent(o, byNum), fonts).map(display)
      groupWordsTop(chars, xTol, yTol).zipWithIndex.map {
        case ((t, x0, top, x1, bottom), idx) => PdfWord(i + 1, idx, t, x0, top, x1, bottom)
      }
    }
  }
}
