package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model._
import graft.operators.{Coco, Corpus, Dedup, Multimodal, Similarity, TextStats, TrainFormat}
import graft.pipeline.Extract
import graft.sources.Turns

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching DuckDB-runnable SQL in
  * [[oracleSql]] (same column names, driver hash-compares) unless the
  * operator is not SQL-expressible, in which case the driver records a
  * rows-only check and correctness is covered by ScalaTest.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** Doc-independent AES-256 (V5/R6) encryption constants for
    * [[synthPdf]] variant 5 — (u48, ue, fileKey) with fixed salts and
    * the EMPTY user password. Computed lazily once per executor: the
    * Algorithm 2.B KDF runs 64+ AES rounds, too heavy per row.
    */
  private lazy val v5Fixture: (Array[Byte], Array[Byte], Array[Byte]) = {
    val vs = Array.tabulate(8)(i => (i * 3 + 11).toByte)
    val ks = Array.tabulate(8)(i => (i * 5 + 12).toByte)
    val fileKey = Array.tabulate(32)(i => (i * 23 + 5).toByte)
    val u = graft.kernels.Pdf.hash2B(Array.empty, vs, Array.empty) ++ vs ++ ks
    val ik = graft.kernels.Pdf.hash2B(Array.empty, ks, Array.empty)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(ik, "AES"),
      new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
    (u, c.doFinal(fileKey), fileKey)
  }

  /** Deterministic n-page PDF for `q_pdf_split`, exercising one decode
    * path per variant: 0 plain, 1 FlateDecode, 2 Type0/CID font with a
    * ToUnicode CMap (hex show-text), 3 RC4-encrypted (V2/R3, empty
    * user password), 4 AES-128 /AESV2 (V4/R4 crypt filter), 5 AES-256
    * /AESV3 (V5/R6, Algorithm 2.B KDF). Pure function of
    * (variant, texts) — safe inside a distributed map. The decrypt
    * KDFs these exercise are anchored against an independent Python
    * implementation in PdfExternalSpec, so writer/reader bug
    * cancellation is excluded there, and the driver gate here proves
    * the Spark-side integration end-to-end.
    */
  private def synthPdf(variant: Int, texts: Seq[String]): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    def put(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    def deflate(b: Array[Byte]): Array[Byte] = graft.kernels.Pdf.deflate(b)
    val n = texts.length
    val fontObj = 3 + 2 * n
    val cmapObj = fontObj + 1
    val o32 = Array.tabulate(32)(i => (i * 7 + 3).toByte)
    val id0 = Array.tabulate(16)(i => (i * 13 + 1).toByte)
    val perms = -44
    val fileKey = graft.kernels.Pdf.deriveFileKey(o32, perms, id0, r = 3, lengthBits = 128)
    val crypt = graft.kernels.Pdf.PdfCrypt(fileKey)
    // AESV2 (variant 4): V4/R4 file key + per-object AES key (§7.6.2
    // Algorithm 1 with the sAlT suffix); deterministic IV per object
    val fileKeyV4 = graft.kernels.Pdf.deriveFileKey(o32, perms, id0, r = 4, lengthBits = 128)
    def aesEnc(key: Array[Byte], iv: Array[Byte], raw: Array[Byte]): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ c.doFinal(raw)
    }
    def objKeyV4(num: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(fileKeyV4)
      md.update(Array[Byte]((num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
        ((num >> 16) & 0xff).toByte, 0, 0, 0x73, 0x41, 0x6C, 0x54))
      md.digest().take(16)
    }
    def ivFor(num: Int): Array[Byte] = Array.tabulate(16)(i => (i * 9 + num).toByte)
    def hexStr(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    put("%PDF-1.5\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = (0 until n).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    put(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $n >> endobj\n")
    texts.zipWithIndex.foreach { case (txt, i) =>
      val pageObj = 3 + 2 * i
      val contObj = pageObj + 1
      val res = if (variant == 2) s"/Resources << /Font << /F1 $fontObj 0 R >> >> " else ""
      put(s"$pageObj 0 obj << /Type /Page /Parent 2 0 R $res/Contents $contObj 0 R >> endobj\n")
      val content =
        if (variant == 2)
          s"BT /F1 12 Tf <${txt.map(c => f"${c.toInt}%04X").mkString}> Tj ET"
        else s"BT /F1 12 Tf ($txt) Tj ET"
      val (data, filter) = variant match {
        case 1 => (deflate(content.getBytes(ISO_8859_1)), "/Filter /FlateDecode ")
        case 3 => (crypt.decrypt(contObj, 0, content.getBytes(ISO_8859_1)).get, "")
        case 4 => (aesEnc(objKeyV4(contObj), ivFor(contObj), content.getBytes(ISO_8859_1)), "")
        case 5 => (aesEnc(v5Fixture._3, ivFor(contObj), content.getBytes(ISO_8859_1)), "")
        case _ => (content.getBytes(ISO_8859_1), "")
      }
      put(s"$contObj 0 obj << /Length ${data.length} $filter>> stream\n")
      out.write(data)
      put("\nendstream endobj\n")
    }
    if (variant == 2) {
      val cmap = "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
        "1 beginbfrange <0000> <00FF> <0000> endbfrange"
      val cdata = deflate(cmap.getBytes(ISO_8859_1))
      put(s"$fontObj 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode $cmapObj 0 R >> endobj\n")
      put(s"$cmapObj 0 obj << /Length ${cdata.length} /Filter /FlateDecode >> stream\n")
      out.write(cdata)
      put("\nendstream endobj\n")
    }
    if (variant == 3) {
      val encObj = cmapObj + 1
      val u = graft.kernels.Pdf.expectedU(fileKey, id0, r = 3).take(16) ++ new Array[Byte](16)
      put(s"$encObj 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P $perms " +
        s"/O <${hexStr(o32)}> /U <${hexStr(u)}> >> endobj\n")
      put(s"trailer << /Root 1 0 R /Encrypt $encObj 0 R /ID [<${hexStr(id0)}> <${hexStr(id0)}>] >>\n")
    }
    if (variant == 4) {
      val encObj = cmapObj + 1
      val u = graft.kernels.Pdf.expectedU(fileKeyV4, id0, r = 4).take(16) ++ new Array[Byte](16)
      put(s"$encObj 0 obj << /Filter /Standard /V 4 /R 4 /Length 128 /P $perms " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF " +
        s"/O <${hexStr(o32)}> /U <${hexStr(u)}> >> endobj\n")
      put(s"trailer << /Root 1 0 R /Encrypt $encObj 0 R /ID [<${hexStr(id0)}> <${hexStr(id0)}>] >>\n")
    }
    if (variant == 5) {
      val encObj = cmapObj + 1
      val (u, ue, _) = v5Fixture
      put(s"$encObj 0 obj << /Filter /Standard /V 5 /R 6 /Length 256 /P $perms " +
        "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
        s"/O <${hexStr(Array.fill[Byte](48)(7))}> /OE <${hexStr(Array.fill[Byte](32)(9))}> " +
        s"/U <${hexStr(u)}> /UE <${hexStr(ue)}> >> endobj\n")
      put(s"trailer << /Root 1 0 R /Encrypt $encObj 0 R /ID [<${hexStr(id0)}>] >>\n")
    }
    put("%%EOF\n")
    out.toByteArray
  }

  /** CCITT payload for the deterministic checker pattern (white where
    * (x/3 + y/2) is even), encoded by the JDK's TIFF WRITER — an
    * encoder independent of the kernel's decode path (which wraps the
    * payload back into a TIFF for the JDK READER; encode and decode
    * are separate codec implementations in the imageio plugin).
    * `typ` is the writer's compression name: "CCITT RLE" (MH 1-D,
    * byte-aligned rows = PDF K=0 + EncodedByteAlign), "CCITT T.4"
    * (2-D with EOLs = PDF K>0), "CCITT T.6" (= PDF K<0). Returns the
    * single strip's raw bytes, extracted by walking the writer's IFD.
    * Shared with PdfImagesSpec so fixture and test encoders can't
    * diverge.
    */
  private[graft] def faxStrip(w: Int, h: Int, typ: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (((x / 3) + (y / 2)) % 2 == 0) 0xFFFFFF else 0x000000)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(typ)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.flush()
    writer.dispose()
    val tiff = bos.toByteArray
    val bb = java.nio.ByteBuffer.wrap(tiff)
    if (tiff(0) == 'I') bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xffff
    var off = -1
    var len = -1
    for (i <- 0 until n) {
      val e = ifd + 2 + i * 12
      val tag = bb.getShort(e) & 0xffff
      val typ = bb.getShort(e + 2) & 0xffff
      val cnt = bb.getInt(e + 4)
      def value: Int = if (typ == 3) bb.getShort(e + 8) & 0xffff else bb.getInt(e + 8)
      if (tag == 273 || tag == 279) {
        // the test dims are far below any strip split, but a
        // multi-strip surprise must fail loudly, not corrupt fixtures
        require(cnt == 1, s"multi-strip TIFF from writer (tag $tag cnt $cnt)")
        if (tag == 273) off = value else len = value
      }
    }
    require(off >= 0 && len > 0, "strip tags missing from writer TIFF")
    java.util.Arrays.copyOfRange(tiff, off, off + len)
  }

  /** Literal-run-only RunLength encoder (§7.4.5; valid, unoptimal) —
    * independent of the kernel's decoder, for the q_pdf_images RLE
    * variant.
    */
  private def rleEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      val n = math.min(128, data.length - i)
      out.write(n - 1)
      out.write(data, i, n)
      i += n
    }
    out.write(128) // EOD
    out.toByteArray
  }

  /** Deterministic one-page PDF with one image for `q_pdf_images`.
    * Variants: 0 = Flate RGB raster, 1 = real JPEG via ImageIO
    * (decode must recover the true dims), 2 = CCITT G4 bitonal
    * (JDK-writer-encoded T.6, kernel must decode through the
    * TIFF-wrap path), 3 = RunLength RGB raster, 4 = INLINE image
    * (§8.9.7 BI/ID/EI with abbreviated keys, payload salted with a
    * ' EI ' byte run so exact-length delimiting is load-bearing),
    * 5 = INLINE JPEG with NO /L (the kernel must walk the JPEG
    * marker structure to find the payload end). Pure function of
    * (variant, w, h).
    */
  /** One-page positioned-text PDF: `content` verbatim, /F1 a simple
    * font with /Widths PINNED to `400 + (code % 5) * 50` for codes
    * 32–126 (so every glyph advance is closed-form integer millipoints
    * at size 12: `width × 12`), MediaBox [0 0 612 792]. Shared
    * scaffolding of the q_pdf_words / q_pdf_reading_order fixtures
    * and their specs — the DuckDB oracles re-derive the same width
    * arithmetic independently.
    */
  private[graft] def positionedPdf(content: String): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val widths = (32 to 126).map(c => 400 + (c % 5) * 50).mkString(" ")
    val sb = new StringBuilder
    sb.append("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    sb.append("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >> endobj\n")
    sb.append("3 0 obj << /Type /Page /Parent 2 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    sb.append(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    sb.append("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      s"/FirstChar 32 /Widths [$widths] >> endobj\n")
    sb.append("%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  /** q_pdf_words fixture: two TJ lines (gaps −300 = 3.6 pt > the 3 pt
    * x-tolerance, so words split) advanced by T* with TL 16, plus a
    * footer placed by Tm — the Td family, TJ adjustments, T* with TL,
    * and Tm are all on the oracle path. Pure function of `id`.
    */
  private[graft] def synthPdfWords(id: Long): Array[Byte] =
    positionedPdf(
      "BT /F1 12 Tf 16 TL 50 700 Td " +
        s"[(lorem) -300 (ipsum$id) -300 (dolor)] TJ T* " +
        s"[(sit) -300 (amet$id) -300 (word)] TJ " +
        s"1 0 0 1 50 100 Tm (fin$id) Tj ET")

  /** q_pdf_reading_order fixture: a two-column page (left column walks
    * Td/T*, right column three absolute Tm placements at x=320, same
    * baselines 700/684/668). Reading order must visit the whole left
    * column before the right one. Pure function of `id`.
    */
  private[graft] def synthPdfTwoColumn(id: Long): Array[Byte] =
    positionedPdf(
      "BT /F1 12 Tf 16 TL 50 700 Td " +
        s"(alpha) Tj T* (beta$id) Tj T* (gamma) Tj " +
        "1 0 0 1 320 700 Tm (delta) Tj " +
        s"1 0 0 1 320 684 Tm (eps$id) Tj " +
        "1 0 0 1 320 668 Tm (zeta) Tj ET")

  /** Pinned BPE fixture vocabulary — lock-step with
    * tools/make_bpe_fixtures.py VOCAB (the independent Python anchor
    * whose per-word counts the q_token_count_bpe_merged /
    * q_token_budget_bpe oracles embed).
    */
  private val BpeVocab: Array[String] = Array(
    "the", "and", "thing", "nation", "another", "rating",
    "there", "hand", "ordering", "that", "inner", "trend",
    "data", "king", "motion", "hat")

  /** One-page PDF whose single content stream is `content` verbatim
    * (the inline-image variants' shared scaffolding).
    */
  private def inlineContentPdf(content: Array[Byte]): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    def put(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  private def synthImagePdf(variant: Int, w: Int, h: Int): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    def put(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    if (variant == 5) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 53 + y * 71) & 0xffffff); x += 1 }
        y += 1
      }
      val jb = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", jb)
      val body = new java.io.ByteArrayOutputStream()
      body.write(s"q BI /W $w /H $h /CS /RGB /BPC 8 /F /DCT ID ".getBytes(ISO_8859_1))
      body.write(jb.toByteArray)
      body.write(" EI Q".getBytes(ISO_8859_1))
      return inlineContentPdf(body.toByteArray)
    }
    if (variant == 4) {
      val raw = Array.tabulate[Byte](w * h * 3)(i => ((i * 11 + 5) & 0xff).toByte)
      if (raw.length >= 8) {
        raw(4) = ' '.toByte; raw(5) = 'E'.toByte; raw(6) = 'I'.toByte; raw(7) = ' '.toByte
      }
      val body = new java.io.ByteArrayOutputStream()
      body.write(s"q BI /W $w /H $h /CS /RGB /BPC 8 ID ".getBytes(ISO_8859_1))
      body.write(raw)
      body.write(" EI Q".getBytes(ISO_8859_1))
      return inlineContentPdf(body.toByteArray)
    }
    val (data, entries) = variant match {
      case 1 =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, (x * 37 + y * 101) & 0xffffff); x += 1 }
          y += 1
        }
        val o = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", o)
        (o.toByteArray, "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode ")
      case 2 =>
        (faxStrip(w, h, "CCITT T.6"), "/ColorSpace /DeviceGray /BitsPerComponent 1 " +
          s"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns $w /Rows $h >> ")
      case 3 =>
        val samples = Array.tabulate[Byte](w * h * 3)(i => ((i * 11 + 5) & 0xff).toByte)
        (rleEncode(samples),
          "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /RunLengthDecode ")
      case _ =>
        val samples = Array.tabulate[Byte](w * h * 3)(i => ((i * 11 + 5) & 0xff).toByte)
        (graft.kernels.Pdf.deflate(samples),
          "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode ")
    }
    val content = "q 100 0 0 100 0 0 cm /Im1 Do Q"
    put("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    put("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    put("3 0 obj << /Type /Page /Parent 2 0 R /Resources << /XObject " +
      "<< /Im1 5 0 R >> >> /Contents 4 0 R >> endobj\n")
    put(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    put(s"5 0 obj << /Type /XObject /Subtype /Image /Width $w /Height $h " +
      s"$entries/Length ${data.length} >> stream\n")
    out.write(data)
    put("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  /** The embeddings fixture contains NO true near-dup pairs (max
    * pairwise cosine ≈ 0.51), so LSH queries against it pass vacuously.
    * This plants deterministic near neighbors IN-FLIGHT: level-c copy
    * of source vector v is v ⊙ m where m_i = (50 + c·k)/50,
    * k = ((i·7 + 3c) mod 5) − 2 ∈ {−2..2} — pure integer-derived
    * double arithmetic that DuckDB reproduces bit-identically
    * (`list_transform` with a 1-based index lambda), giving the LSH
    * queries real UNBLOCKED brute-force oracles. cos(v, level c) ≈
    * 1/√(1+2c²/2500): 0.9996, 0.9984, 0.9964, 0.9937, 0.9901.
    */
  private def plantedNeighbors(emb: DataFrame, nSources: Int, levels: Int,
      idStep: Int): DataFrame = {
    val src = emb.filter(col("vec_id") < nSources)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    src.select(col("vec_id"), col("v"),
        explode(sequence(lit(1), lit(levels))).as("c"))
      .select((col("vec_id") + col("c") * idStep).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * ((lit(50) + col("c") * ((i * 7 + lit(3) * col("c")) % 5 - 2))
            .cast("double") / 50)).as("v"))
  }

  /** Synthetic detection fixture for the COCO metric: one gt box and
    * two detections per (image ∈ doc_id<200, category ∈ {1,2}), all
    * coordinates/scores derived from doc_id with integer arithmetic so
    * DuckDB reproduces them bit-identically. Detections are the gt box
    * shifted in x (IoU = (w−s)/(w+s) spans ~0.3–1.0 across images), so
    * the PR curves are non-trivial. One gt per cell keeps the greedy
    * matching SQL-expressible (first eligible detection by score wins)
    * — the full oracle for the mAP pipeline; multi-gt greedy is
    * spec-tested in CocoSpec.
    */
  private def cocoFixture(s: SparkSession, dir: String)
      : (org.apache.spark.sql.Dataset[Coco.GtBox], org.apache.spark.sql.Dataset[Coco.DetBox]) = {
    import s.implicits._
    val cells = docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id").cast("long").as("img"))
      .crossJoin(Seq(1, 2).toDF("cat"))
    val gx0 = ((col("img") * 7 + col("cat") * 13) % 50).cast("double")
    val gy0 = ((col("img") * 11 + col("cat") * 17) % 50).cast("double")
    val w = (lit(20) + (col("img") + col("cat")) % 10).cast("double")
    val h = (lit(20) + (col("img") + col("cat") * 2) % 7).cast("double")
    val gt = cells.select(col("img"), col("cat").cast("int").as("cat"),
      gx0.as("ulx"), gy0.as("uly"), (gx0 + w).as("lrx"), (gy0 + h).as("lry"))
      .as[Coco.GtBox]
    val dets = cells.crossJoin(Seq(0, 1).toDF("which"))
    val shift = when(col("which") === 0, (col("img") + col("cat")) % 12)
      .otherwise(lit(5) + (col("img") * 3 + col("cat")) % 25).cast("double")
    val score = when(col("which") === 0, (col("img") * 37 + col("cat") * 101) % 1000)
      .otherwise((col("img") * 53 + col("cat") * 211) % 1000).cast("double") / 1000.0
    val det = dets.select(col("img"), col("cat").cast("int").as("cat"),
      (col("img") * 10 + col("cat") * 2 + col("which")).as("detId"),
      score.as("score"),
      (gx0 + shift).as("ulx"), gy0.as("uly"),
      (gx0 + w + shift).as("lrx"), (gy0 + h).as("lry"))
      .as[Coco.DetBox]
    (gt, det)
  }

  /** corpus = all embeddings (as double) ∪ planted neighbors. */
  private def plantedCorpus(s: SparkSession, dir: String, nSources: Int,
      levels: Int, idStep: Int): (DataFrame, DataFrame) = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    (base.unionByName(plantedNeighbors(emb, nSources, levels, idStep)), base)
  }

  /** DuckDB twin of [[plantedNeighbors]]+corpus as a CTE body. */
  private def plantedCorpusSql(nSources: Int, levels: Int, idStep: Int): String =
    s"""src AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        planted AS (
          SELECT vec_id + c * $idStep AS vec_id,
                 list_transform(v, (x, i) ->
                   x * (CAST(50 + c * (((i-1)*7 + 3*c) % 5 - 2) AS DOUBLE) / 50)) AS v
          FROM src, range(1, ${levels + 1}) t(c) WHERE vec_id < $nSources),
        corpus AS (SELECT * FROM src UNION ALL SELECT * FROM planted)"""

  /** Chat-render oracle body over any `base(conv_id, turn_idx, role,
    * text)` CTE: window running sum for offsets, string_agg ORDER BY
    * + md5 for the whole-string witness — independent derivations of
    * the arithmetic AND the concatenation, shared verbatim by
    * `q_chat_render` (raw turns) and `q_train_e2e` (extracted text).
    */
  private def renderOracleSql(baseCte: String): String =
    s"""$baseCte,
       p AS (
         SELECT conv_id, turn_idx, role, text,
           concat('<|', role, '|>', chr(10), text, chr(10)) AS piece
         FROM base),
       o AS (
         SELECT conv_id, turn_idx, role,
           COALESCE(sum(length(piece)) OVER (PARTITION BY conv_id
             ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + length(role) + 5 AS tb,
           length(text) AS tl
         FROM p),
       r AS (
         SELECT conv_id,
           md5(string_agg(piece, '' ORDER BY turn_idx)) AS conv_md5
         FROM p GROUP BY conv_id)
       SELECT o.conv_id, o.turn_idx, o.role,
         CAST(o.tb AS BIGINT) AS t_begin,
         CAST(o.tb + o.tl AS BIGINT) AS t_end,
         CAST(CASE WHEN o.role = 'assistant' THEN 1 ELSE 0 END AS INT) AS mask,
         r.conv_md5
       FROM o JOIN r ON o.conv_id = r.conv_id"""

  /** Planted pathological conversations for `q_transcript_lint` — ONE
    * row-list literal interpolated into BOTH engines' VALUES clause
    * (Spark `FROM VALUES … AS v(…)`, DuckDB `FROM (VALUES …) v(…)`),
    * so the planted input cannot desynchronize (the Turns.CoreSql
    * lock-step convention).
    */
  private val LintBadRows: String =
    """('lint-gap', 0, 'user', 'hello there', ''),
       ('lint-gap', 2, 'assistant', 'hi again', ''),
       ('lint-dup', 1, 'user', 'first copy', ''),
       ('lint-dup', 1, 'user', 'second copy', ''),
       ('lint-empty', 0, 'user', '', ''),
       ('lint-tool', 0, 'user', 'call it', '{"name":"x"}'),
       ('lint-tool', 1, 'assistant', 'ok', '')"""

  /** Flagship: the full extraction pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Extract.run(Turns.synth(spark, "/root/testdata/sf0.001"))
      .select($"conv_id", $"turn_idx", $"extractedText".as("extracted_text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction pipeline (SURVEY §2.3) ----
    "x1_extract" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .select($"conv_id", $"turn_idx", $"extractedText".as("extracted_text"))
    }),
    "x3_stats" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .select($"conv_id", $"turn_idx",
          $"metrics.wordCount".as("word_count"),
          $"metrics.blocksKept".as("blocks_kept"),
          $"metrics.blocksDropped".as("blocks_dropped"))
    }),
    "x4_turns" -> ((s, dir) =>
      Turns.synth(s, dir).toDF()
        .select("conv_id", "turn_idx", "role", "text", "tool")),

    // ---- dataflow / relational operators (SURVEY §2.1, §2.5) ----
    // MapData fused map+filter (dataflow/common.py:100)
    "q_mapdata_filter" -> ((s, dir) =>
      lineitem(s, dir)
        .filter(col("l_quantity") > 25)
        // floor-of-cents: bit-identical across engines (round() halves
        // diverge between decimal- and binary-rounding implementations)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long").as("net_cents"))),
    // streaming mean/std (dataflow/stats.py:32/:153) → built-in aggs
    "q_stats_mean_std" -> ((s, dir) =>
      lineitem(s, dir).agg(
        round(avg("l_quantity"), 4).as("mean_qty"),
        round(stddev("l_quantity"), 4).as("std_qty"),
        round(avg("l_extendedprice"), 4).as("mean_price"))),
    // LabelSummarizer (mapper/maputils.py:214) → groupBy count
    "q_label_summarizer" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")),
    // FlattenData (dataflow/common.py:77) → explode
    "q_flatten_words" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))),
    // ConcatData (dataflow/common.py:217) → unionByName
    "q_concat_union" -> ((s, dir) => {
      val d = docs(s, dir)
      d.filter(col("doc_id") % 2 === 0).unionByName(d.filter(col("doc_id") % 2 === 1))
        .groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
    }),
    // TPC-H Q1-style aggregation
    "q1_agg" -> ((s, dir) =>
      lineitem(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))),
    // broadcast equi-join (small dim side explicitly broadcast)
    "q2_join_broadcast" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val part = s.read.parquet(s"$dir/part.parquet")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand").agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),
    // multi-join + top-k with deterministic ordering
    "q3_topk" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val li = lineitem(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("c_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    // ---- training-data pipeline ops ----
    // exact dedup: hash-groupBy on content (scale path: shuffle on
    // md5(text), not on the full payload)
    "q_dedup_exact" -> ((s, dir) =>
      docs(s, dir).groupBy(md5(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("copies"))
        .select("keeper_id", "copies")),
    // token counting (whitespace tokenizer)
    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        col("n_chars"))),
    // BPE-ish regex token counting (GPT-2-style pre-tokenizer pattern)
    "q_token_count_bpe" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.bpeTokenCount(col("text")).as("n_tokens_bpe"))),
    // REAL merged-BPE token counting (the pre-token count above is the
    // approximation): planted vocabulary texts run the actual merge
    // loop over the committed public-format merge table; the oracle
    // joins the INDEPENDENT Python-derived per-word counts
    // (tools/make_bpe_fixtures.py) as VALUES
    "q_token_count_bpe_merged" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val text = (0 until 8).map(k => BpeVocab(((id + 3 * k) % 16).toInt)).mkString(" ")
          (id, graft.functions.Bpe.countTokens(text))
        }
        .toDF("doc_id", "n_tokens_merged")
        .orderBy("doc_id")
    }),

    // a budget operator under MERGED counts: budgetPrefix with the
    // real tokenizer threaded through — budgets count BPE tokens, not
    // pre-token approximations
    "q_token_budget_bpe" -> ((s, dir) => {
      import s.implicits._
      val bpe = Some(graft.functions.Bpe.countTokens _)
      val planted = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          (id, (0 until 8).map(k => BpeVocab(((id + 3 * k) % 16).toInt)).mkString(" "))
        }
        .toDF("doc_id", "text")
        .withColumn("priority", col("doc_id") % 7)
      // one merged-count pass for the budget, one inside the operator
      // (which runs with the REAL tokenizer threaded through — the
      // precomputedTokensCol shortcut exists for callers that already
      // carry counts; CorpusSpec pins its equivalence)
      val budget = planted
        .agg(sum(TextStats.tokenCountCol(bpe, col("text"))))
        .first().getLong(0) / 2
      Corpus.budgetPrefix(planted, "doc_id", "priority", "text", budget,
          tokenCounter = bpe)
        .orderBy("doc_id")
    }),

    // document fingerprinting: md5 of normalized text
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fingerprint"))),

    // ---- extraction depth: chunk-level output with spans ----
    "x2_chunks" -> ((s, dir) =>
      Extract.chunks(Extract.run(Turns.synth(s, dir)))
        .toDF().select(col("conv_id"), col("turn_idx"), col("reading_order"),
          col("kind"), col("text"), col("span_begin"), col("span_end"))),

    // table reconstruction: rows/cols/cells + reference-format HTML
    "x5_tables" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .flatMap(et => et.tables.map(tb =>
          (et.conv_id, et.turn_idx, tb.nRows, tb.nCols, tb.html)))
        .toDF("conv_id", "turn_idx", "n_rows", "n_cols", "html")
    }),

    // Page.get_layout_context under the driver gate: pinned payloads
    // with a known block count per doc parity, so every window's size
    // and reading-order bounds are closed-form (interior 2k+1, edges
    // truncated)
    "q_layout_context" -> ((s, dir) => {
      import s.implicits._
      val p6 = (1 to 6).map(i => s"<p>alpha block number $i carries several words</p>").mkString
      val p2 = (1 to 2).map(i => s"<p>beta block number $i carries several words</p>").mkString
      val turns = docs(s, dir).filter(col("doc_id") < 200)
        .select(concat(lit("ctx-"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), lit("user").as("role"),
          when(col("doc_id") % 2 === 0, p6).otherwise(p2).as("text"),
          lit("").as("tool"), timestamp_seconds(col("doc_id")).as("ts"))
        .as[graft.model.Turn]
      Extract.layoutContexts(Extract.run(turns), 2)
        .orderBy("conv_id", "reading_order")
    }),

    // kv_header_rows + row_header_cells under the driver gate: pinned
    // spanning-header table → header→value mapping per data row is a
    // closed-form constant (incl. the overwrite under the colspan=2
    // header), and the data rows carry row-scope <th> labels so the
    // header band split (leading <th>-rows = column headers, <th>
    // below the band = row headers, Table.scala headerRowCount) is
    // oracled too: a wrong band count would either swallow the data
    // rows into the column-header band (emptying the output) or
    // misattribute the row labels
    "q_table_kv" -> ((s, dir) => {
      import s.implicits._
      val payload =
        "<table><tr><th>Region</th><th colspan=2>Sales</th></tr>" +
          "<tr><th>EMEA</th><td>10</td><td>20</td></tr>" +
          "<tr><th>APAC</th><td>30</td><td>40</td></tr></table>"
      val turns = docs(s, dir).filter(col("doc_id") < 100)
        .select(concat(lit("kv-"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), lit("user").as("role"),
          lit(payload).as("text"), lit("").as("tool"),
          timestamp_seconds(col("doc_id")).as("ts"))
        .as[graft.model.Turn]
      Extract.run(turns)
        .flatMap { et =>
          et.tables.flatMap { tb =>
            val cells = tb.cells.map(c => graft.kernels.Table.TableCell(
              c.row, c.col, c.rowSpan, c.colSpan, c.text, c.begin, c.end, c.header)).toSeq
            val rowHdrs = graft.kernels.Table.rowHeaderCells(cells)
            (2 to tb.nRows).flatMap { r =>
              val rh = rowHdrs.find(c => c.row <= r && r <= c.row + c.rowSpan - 1)
                .map(_.text).getOrElse("")
              graft.kernels.Table.kvHeaderRows(cells, r).map {
                case (hc, ht, v) => (et.conv_id, r, hc, ht, v, rh)
              }
            }
          }
        }
        .toDF("conv_id", "row_number", "header_col", "header_text", "value", "row_header")
        .orderBy("conv_id", "row_number", "header_col")
    }),

    // per-turn language id over the extracted text
    "x6_lang" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .select($"conv_id", $"turn_idx", $"lang".as("lang_id"))
    }),

    // per-conversation rollup after extraction (the skewed conv-big
    // key exercises AQE + the salted upstream partitioning)
    "x8_conv_rollup" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .groupBy($"conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum(length($"extractedText")).as("sum_chars"),
          sum($"metrics.wordCount").as("sum_words"))
    }),

    // tool-payload (JSON) value extraction
    "x7_tool" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .filter($"toolText" =!= "")
        .select($"conv_id", $"turn_idx", $"toolText".as("tool_text"))
    }),

    // ---- evaluation metrics (reference eval/accmetric.py) ----
    "q_eval_lang_confusion" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Eval.confusion(
        d.select(col("doc_id"), TextStats.langId(col("text")).as("v")),
        d.select(col("doc_id"), col("lang").as("v")),
        Seq("doc_id"), "v")
    }),
    "q_eval_prf" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Eval.precisionRecallF1(
        d.select(col("doc_id"), TextStats.langId(col("text")).as("v")),
        d.select(col("doc_id"), col("lang").as("v")),
        Seq("doc_id"), "v", positive = "en")
    }),

    // per-category P/R/F1 (accmetric.py:149-215, nan→1.0 convention)
    "q_eval_prf_by_cat" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Eval.precisionRecallF1ByCategory(
        d.select(col("doc_id"), TextStats.langId(col("text")).as("v")),
        d.select(col("doc_id"), col("lang").as("v")),
        Seq("doc_id"), "v")
    }),
    // COCO AP/AR per category × IoU threshold over the synthetic
    // detection fixture (full SQL oracle; greedy matching + 101-point
    // interpolation both replicated in DuckDB)
    "q_eval_map" -> ((s, dir) => {
      val (gt, det) = cocoFixture(s, dir)
      val gtCounts = gt.toDF().groupBy("cat").agg(count(lit(1)).as("n_gt"))
      Coco.accumulate(Coco.matchDetections(gt, det, Seq(0.5, 0.75)),
          gtCounts, Seq(0.5, 0.75))
        .select(col("cat"), col("thr"), col("n_gt"),
          round(col("ap"), 6).as("ap"), round(col("ar"), 6).as("ar"))
    }),
    // CocoMetric parameter surface (cocometric.py:49-62): AP over an
    // area range + AR@maxDets variants. The fixture's areas span
    // 400..754, so the query splits it at 550 (COCO's 32² boundary
    // would make small ≡ all here; summary() uses the COCO defaults).
    // Restricting to in-range cells is EXACT pycocotools ignore
    // semantics for this fixture because det area == gt area per cell.
    "q_eval_map_areas" -> ((s, dir) => {
      val (gt, det) = cocoFixture(s, dir)
      val thr = Seq(0.5)
      // inclusive hi (pycocotools semantics): area <= 549 ⟺ area < 550
      // on this integer-area fixture — the DuckDB twin filters < 550
      val small = (0.0, 549.0)
      val apSmall = Coco.accumulate(
          Coco.matchDetections(gt, det, thr, 100, small),
          Coco.gtCountsInRange(gt, small), thr, 100)
        .select(col("cat"), col("thr"), col("n_gt").as("n_gt_small"),
          round(col("ap"), 6).as("ap_small"))
      val matchedAll = Coco.matchDetections(gt, det, thr)
      val gtAll = gt.toDF().groupBy("cat").agg(count(lit(1)).as("n_gt"))
      val ar1 = Coco.accumulate(matchedAll, gtAll, thr, 1)
        .select(col("cat"), col("thr"), round(col("ar"), 6).as("ar_at_1"))
      val ar100 = Coco.accumulate(matchedAll, gtAll, thr, 100)
        .select(col("cat"), col("thr"), round(col("ar"), 6).as("ar_at_100"))
      apSmall.join(ar1, Seq("cat", "thr")).join(ar100, Seq("cat", "thr"))
        .orderBy("cat")
    }),
    // Evaluator.run analogue (eval/eval.py:57): golden vs re-extracted,
    // with a deterministic corruption so the metric is non-trivial
    "q_eval_run" -> ((s, dir) => {
      val turns = Turns.synth(s, dir)
      val golden = Extract.run(turns).toDF()
        .withColumn("extractedText",
          when(col("turn_idx") % 7 === 3, concat(col("extractedText"), lit("!")))
            .otherwise(col("extractedText")))
        .withColumn("lang",
          when(col("turn_idx") % 5 === 2, lit("xx")).otherwise(col("lang")))
      graft.operators.Evaluator.run(turns, golden)
    }),

    // ---- text analysis ----
    "q_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextStats.langId(col("text")).as("lang_id"))),
    "q_quality" -> ((s, dir) => TextStats.quality(docs(s, dir), "text")),

    // PII redaction: the corpus contains no PII, so an email and a
    // phone number are PLANTED per doc from doc_id alone; the oracle
    // rebuilds the identical planted text and redacts with the same
    // RE2-safe patterns — counts and the full redacted string must
    // hash-match
    "q_redact" -> ((s, dir) => {
      val planted = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          concat(lit("mail user"), col("doc_id"),
            lit("@example.com tel +1 555-01"), col("doc_id") % 90 + 10,
            lit(" "), col("text")).as("t2"))
      TextStats.redact(planted, "t2").orderBy("doc_id")
    }),

    // Gopher-style repetition signals: the corpus itself has no
    // duplicate lines/5-grams, so repetition is PLANTED word-aligned
    // by doc_id%3 (1 = a duplicated 8-word chunk line, 2 = the first
    // bigram spammed ×6) — the oracle rebuilds the identical planted
    // text in SQL and restates every metric independently
    "q_repetition" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ws = text.split(" ", -1)
          val planted =
            if (id % 3 == 1 && ws.length >= 16)
              ws.take(ws.length / 8 * 8).mkString(" ") + " " + ws.take(8).mkString(" ")
            else if (id % 3 == 2 && ws.length >= 2)
              text + (" " + ws(0) + " " + ws(1)) * 6
            else text
          val m = TextStats.repetitionMetrics(planted)
          (id, m.n_words, m.n_lines, m.n_distinct_lines, m.dup_line_chars,
            m.top2_chars, m.dup5_chars, m.total_chars, m.repetition_ok)
        }
        .toDF("doc_id", "n_words", "n_lines", "n_distinct_lines",
          "dup_line_chars", "top2_chars", "dup5_chars", "total_chars",
          "repetition_ok")
        .orderBy("doc_id")
    }),

    // Deterministic mixture interleave: en (w=3) / de (w=2) / other
    // (w=1) strata of the documents table stride-scheduled into one
    // training order. The oracle derives per-source sequence numbers
    // and global positions with window row_number — Spark uses the
    // distributed range-partition zipWithIndex twice; identical double
    // division k/w and (source, id) tie-breaks keep the orders equal.
    "q_mixture_interleave" -> ((s, dir) => {
      val d = docs(s, dir)
      // null-safe stratum split: a NULL lang routes to 'other' exactly
      // like the oracle's CASE ... ELSE (a bare =!= filter would
      // silently drop it from every stratum)
      Corpus.mixtureInterleave(Seq(
        ("en", d.filter(col("lang") === "en"), 3.0),
        ("de", d.filter(col("lang") === "de"), 2.0),
        ("other", d.filter(!coalesce(col("lang"), lit("")).isin("en", "de")), 1.0)),
        "doc_id")
    }),

    // SEMANTIC decontamination — embedding-space complement of
    // q_decontaminate's n-gram overlap: benchmark = the 20 base
    // vectors the planted corpus derives from, so the planted variants
    // sit at data-derived cosine levels on both sides of the 0.97
    // verdict boundary (margin asserted in SimilaritySpec). Oracle
    // recomputes every cosine with DuckDB's own
    // list_cosine_similarity over the same planted CTE.
    "q_decontaminate_semantic" -> ((s, dir) => {
      // idStep 10000: planted ids stay clear of the real vec_ids at
      // every scale factor (at 1000 they collided past 1000 rows)
      val (corpus, base) = plantedCorpus(s, dir, nSources = 20, levels = 5, idStep = 10000)
      Similarity.semanticDecontaminate(
          corpus, base.filter(col("vec_id") < 20), "vec_id", "v", 0.97)
        .select(col("doc_id"), col("bench_id"),
          round(col("cos"), 4).as("cos"), col("contaminated"))
    }),

    // Benchmark decontamination: benchmark = docs with doc_id%37==0,
    // corpus = the rest. Natural 5-gram overlap in the synthetic corpus
    // is thin, so contamination is PLANTED deterministically: corpus
    // docs with doc_id%7==3 get the first 5 words of benchmark doc
    // (doc_id%13)*37 appended (broadcast join — both engines rebuild
    // the identical planted text). Corpus pass itself is map-only
    // against the broadcast benchmark gram set.
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 37 === 0)
      val plant = bench
        .select((col("doc_id") / 37).cast("long").as("b13"),
          split(col("text"), " ").as("bws"))
        .filter(size(col("bws")) >= 5)
        .select(col("b13"), array_join(slice(col("bws"), 1, 5), " ").as("bgram"))
      val corpus0 = d.filter(col("doc_id") % 37 =!= 0)
      val corpus = corpus0
        .join(broadcast(plant),
          corpus0("doc_id") % 13 === plant("b13") && corpus0("doc_id") % 7 === 3,
          "left")
        .select(col("doc_id"),
          when(col("bgram").isNotNull, concat(col("text"), lit(" "), col("bgram")))
            .otherwise(col("text")).as("text"))
      Corpus.decontaminate(corpus, "doc_id", "text",
        Corpus.benchmarkGrams(bench, "text", 5), 5).orderBy("doc_id")
    }),

    // Corpus-level exact line dedup (C4-style): docs<200 plus exact
    // copies shifted +10000 — copies must come back empty (every line
    // seen earlier at a lower doc_id); natural cross-doc dup lines in
    // the originals resolve to the lowest (doc_id, line_idx)
    "q_line_dedup" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
      val all = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      Corpus.lineDedup(all, "doc_id", "text").orderBy("doc_id")
    }),

    // Deterministic stratified quota sampling over the lang column:
    // per-mille Lehmer-hash rates (map-only path) + exact top-30 rank
    // per stratum (window path); 'zh' exercises the default rate
    "q_sample_quota" -> ((s, dir) =>
      Corpus.quotaSample(docs(s, dir), "doc_id", "lang",
        Seq("en" -> 500, "de" -> 300, "es" -> 200, "fr" -> 100), 50, 30)
        .orderBy("doc_id")),

    // Gopher quality rules (Rae et al. A1.1): the corpus is single-line
    // benign text, so each rule is exercised by a PLANTED variant by
    // doc_id%6 (1 = every 8-word chunk bulleted '- ', 2 = every chunk
    // ellipsis-terminated, 3 = ' #' appended per word, 4 = truncated to
    // 10 words, 5 = all words replaced by digits). The oracle rebuilds
    // the identical planted text and re-derives every metric with
    // DuckDB list lambdas — word count and stopword rules also fire
    // naturally (docs span 10..99 words; 'the' ~1.8 hits/doc).
    "q_quality_gopher" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
        .withColumn("chunks", Corpus.chunksExpr("ws"))
      val m = col("doc_id") % 6
      val t2 = when(m === 1,
          array_join(transform(col("chunks"), c => concat(lit("- "), c)), "\n"))
        .when(m === 2,
          array_join(transform(col("chunks"), c => concat(c, lit("..."))), "\n"))
        .when(m === 3, concat(col("text"), expr("repeat(' #', size(ws))")))
        .when(m === 4, array_join(slice(col("ws"), 1, 10), " "))
        .when(m === 5, array_join(transform(col("ws"), _ => lit("12345")), " "))
        .otherwise(col("text"))
      TextStats.gopher(d.select(col("doc_id"), t2.as("t2")), "doc_id", "t2")
        .orderBy("doc_id")
    }),

    // C4 cleaning (Raffel et al. §2.2): multi-line structure is PLANTED
    // — 8-word chunk lines where line j ends '.' iff (doc_id+j)%3 != 0
    // and j%7==3 injects ' javascript' BEFORE the punctuation (so the
    // javascript rule, not the punctuation rule, drops it); doc_id%11==5
    // appends a '{' line and doc_id%13==7 a 'lorem ipsum' line (doc-level
    // drops). Short last chunks (<5 words) fire the word-count rule
    // naturally. Oracle rebuilds the text and re-derives with lambdas.
    "q_c4_filter" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("chunks", Corpus.chunksExpr("ws"))
      val lines0 = transform(col("chunks"), (c, j) =>
        concat(c,
          when(j % 7 === 3, lit(" javascript")).otherwise(lit("")),
          when((col("doc_id") + j) % 3 =!= 0, lit(".")).otherwise(lit(""))))
      val empty = typedlit(Seq.empty[String])
      val lines = concat(lines0,
        when(col("doc_id") % 11 === 5, typedlit(Seq("config { debug }"))).otherwise(empty),
        when(col("doc_id") % 13 === 7, typedlit(Seq("lorem ipsum dolor sit amet."))).otherwise(empty))
      TextStats.c4Filter(
        d.select(col("doc_id"), array_join(lines, "\n").as("t2")), "doc_id", "t2")
        .orderBy("doc_id")
    }),

    // Cross-doc duplicated-passage coverage (Lee et al. k-gram
    // approximation, k=8): duplication is PLANTED — docs with
    // doc_id%5==1 get doc 0's first 12 words appended, so those spans
    // (and doc 0's own head) must come back covered. Spark narrows
    // grams to md5 before the exchange; the oracle re-derives coverage
    // from RAW gram strings — an independent formulation that would
    // catch a wrong narrowing.
    "q_dup_spans" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 300).select("doc_id", "text")
      val donor = d.filter(col("doc_id") === 0)
        .select(array_join(slice(split(col("text"), " "), 1, 12), " ").as("donor"))
      val planted = d.crossJoin(broadcast(donor))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 1, concat(col("text"), lit(" "), col("donor")))
            .otherwise(col("text")).as("t2"))
      Corpus.dupSpanCoverage(planted, "doc_id", "t2", 8).orderBy("doc_id")
    }),

    // Corpus-global common-word fraction (the two-pass IDF-like shape):
    // pass 1 one word-count exchange + exact top-20 under (count DESC,
    // word ASC) as bounded driver state; pass 2 map-only broadcast
    // filter. Oracle re-derives pass 2 RELATIONALLY (explode + join +
    // re-aggregate) — a wrong driver collect would hash-mismatch.
    "q_common_words" -> ((s, dir) =>
      Corpus.commonWordStats(docs(s, dir), "doc_id", "text", 20)
        .orderBy("doc_id")),

    // CCNet-style perplexity bucketing in exact integer arithmetic:
    // unigram LM trained on the English slice (CCNet's "Wikipedia"),
    // per-word bit-surprisal via length(bin(..)) — exact in both
    // engines, no floating log — and head/middle/tail tertiles via an
    // exact DISTRIBUTED ntile (histogram + parallel per-value rank, no
    // single-partition sort). The oracle uses DuckDB's BUILT-IN ntile,
    // independently validating the closed-form rank->bucket mapping.
    "q_ppl_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.surprisalBuckets(d, "doc_id", "text",
        d.filter(col("lang") === "en"), "text", 3).orderBy("doc_id")
    }),

    // DSIR importance weights (Xie et al. 2023): hashed word-bigram
    // target-vs-raw models (4096 md5-derived buckets — the hash is the
    // 100 TB bound: per-bucket counts exchange at most 4096 rows per
    // partition after map-side combine), integer bit-surprisal log
    // approximation, keep verdict at weight >= 0. Target domain = the
    // English slice. The oracle re-derives the whole estimator
    // relationally with the identical hash arithmetic.
    "q_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.dsirWeights(d, "doc_id", "text",
        d.filter(col("lang") === "en"), "text", 4096, 0L).orderBy("doc_id")
    }),

    // Near-dup SURVIVOR selection — the step after cluster resolution:
    // same planted corpus+copies and LSH pairs as q_dedup_components,
    // then keep the (n_chars DESC, id ASC) argmax per component.
    // Copies tie the original on weight, so the lower id (the
    // original) must be the canonical one. The oracle re-derives the
    // clusters with the recursive-CTE closure and the argmax with a
    // window row_number — both independent derivations.
    "q_dedup_survivors" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200)
        .select("doc_id", "text", "n_chars")
      val all = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val pairs = Dedup.minhashLshExactPairs(all, "doc_id", "text")
      Dedup.canonicalSurvivors(
        all.select(col("doc_id").as("id"), col("n_chars").as("weight")),
        pairs).orderBy("id")
    }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023) as a
    // COMPOSITION of oracled operators: banded SRP-LSH embedding
    // near-dup pairs -> connected components -> one canonical doc per
    // cluster by (n_chars DESC, id ASC), weights joined from the
    // documents table (planted copies map back via id % 10000, tie on
    // weight, so the ORIGINAL survives). Oracle: unblocked all-pairs
    // cosine + recursive closure + window argmax — every stage an
    // independent derivation.
    "q_semdedup" -> ((s, dir) => {
      val (corpus, _) = plantedCorpus(s, dir, nSources = 300, levels = 1, idStep = 10000)
      val pairs = Dedup.embeddingNearDupPairs(corpus, "vec_id", "v", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      val nodes = corpus.select(col("vec_id").as("id"))
        .join(docs(s, dir).select(col("doc_id"), col("n_chars")),
          col("id") % 10000 === col("doc_id"))
        .select(col("id"), col("n_chars").as("weight"))
      Dedup.canonicalSurvivors(nodes, pairs).orderBy("id")
    }),

    // Token-budget prefix: order by (n_chars DESC, doc_id), keep while
    // the inclusive running token total fits HALF the corpus's tokens
    // (budget derived from the data so the query is scale-free). The
    // running total is the distributed range-partition + offset-stamp
    // prefix sum; the oracle re-derives it with a SQL window running
    // sum — an independent formulation.
    "q_token_budget" -> ((s, dir) => {
      val d = docs(s, dir)
      val budget = d.agg(sum(size(split(col("text"), " ")))).first().getLong(0) / 2
      Corpus.budgetPrefix(d, "doc_id", "n_chars", "text", budget).orderBy("doc_id")
    }),

    // End-to-end training-data pipeline COMPOSITION: plant PII keyed on
    // the pre-copy id (so exact copies stay byte-identical), then chain
    // quality gate -> exact dedup (first-occurrence via one md5-keyed
    // aggregation) -> redact -> lang-id -> BPE token count -> kept
    // verdict. The oracle re-derives the whole chain, deduping by the
    // RAW text string (Spark dedups by md5 — an independent check of
    // the digest narrowing). Everything except the dedup exchange is
    // map-only.
    "q_pipeline_e2e" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 400).select("doc_id", "text")
      val all = base.unionByName(base.withColumn("doc_id", col("doc_id") + 10000))
      val planted = all.select(col("doc_id"),
        when((col("doc_id") % 10000) % 9 === 4,
          concat(lit("contact user"), col("doc_id") % 10000,
            lit("@example.com "), col("text")))
          .otherwise(col("text")).as("t2"))
      val firsts = planted.groupBy(md5(col("t2")).as("h"))
        .agg(min("doc_id").as("first_id"))
      val red = TextStats.redactPii(col("t2"))
      planted.withColumn("h", md5(col("t2")))
        .join(firsts, "h")
        .select(col("doc_id"),
          TextStats.gopherCols(col("t2")).ok.as("gopher_ok"),
          (col("doc_id") === col("first_id")).as("is_first"),
          TextStats.langId(red).as("lang"),
          TextStats.bpeTokenCount(red).as("n_tokens_bpe"),
          red.as("redacted"))
        .withColumn("kept",
          col("gopher_ok") && col("is_first") && col("lang") =!= "und")
        .orderBy("doc_id")
    }),

    // Chat-template rendering: each conversation rendered as ONE
    // training string of `<|role|>\n<text>\n` pieces; per turn the
    // character span of its text inside that string + the
    // assistant-only loss mask; conv_md5 witnesses the whole rendered
    // string, not just the offset arithmetic. The oracle re-derives
    // offsets with a SQL window running sum and the string with
    // string_agg ORDER BY — independent formulations of both.
    "q_chat_render" -> ((s, dir) =>
      TrainFormat.renderChat(Turns.synth(s, dir).toDF())),

    // Extraction → formatting composition: the full document-AI
    // pipeline's extracted text rendered into training samples with
    // spans + masks + whole-string digests — the oracle replays the
    // render arithmetic over the closed-form expected extraction
    // (ExpectedExtractedSql), so a regression in EITHER layer, or in
    // how they hand off, hash-mismatches
    "q_train_e2e" -> ((s, dir) => {
      import s.implicits._
      TrainFormat.renderChat(
        Extract.run(Turns.synth(s, dir))
          .select($"conv_id", $"turn_idx", $"role",
            $"extractedText".as("text")).toDF())
    }),

    // Greedy sequence packing: turns packed in conversation order into
    // ≤60-whitespace-token samples (a turn alone over budget keeps its
    // own sample). The oracle replays the greedy walk as a DuckDB
    // recursive CTE — per-row recursion, an algorithm the Spark side
    // (streaming per-partition walk) never runs.
    "q_pack_samples" -> ((s, dir) =>
      TrainFormat.packSamples(Turns.synth(s, dir).toDF(), budget = 60)),

    // Transcript linting over the synthesized conversations PLUS four
    // planted pathological ones rebuilt from the SAME VALUES literal
    // in both engines ([[LintBadRows]] — lock-step by construction):
    // a gapped index sequence, a duplicate index (same role at the
    // tie, so first-turn picks agree), an empty turn, a tool payload
    // on a non-tool role. The oracle proves contiguity by the
    // arithmetic-series sum (Spark: min/max/distinct) and counts
    // assistant runs by a distinct self-join (Spark: index-set
    // intersection) — independent derivations of every flag.
    "q_transcript_lint" -> ((s, dir) =>
      TrainFormat.lintConversations(
        Turns.synth(s, dir).toDF()
          .select("conv_id", "turn_idx", "role", "text", "tool")
          .unionByName(s.sql(
            s"SELECT * FROM VALUES $LintBadRows AS v(conv_id, turn_idx, role, text, tool)")))),

    // Context-window truncation: keep the newest suffix of each
    // conversation that fits 120 whitespace tokens (suffix-sum window
    // in Spark; the oracle re-derives the suffix totals with a
    // self-join aggregation — an algorithm the window plan never runs)
    "q_context_trim" -> ((s, dir) =>
      TrainFormat.contextTrim(Turns.synth(s, dir).toDF(), budget = 120)),

    // Incremental dedup of a new batch vs an already-ingested history
    // corpus: Bloom prefilter (map-only over the batch, no false
    // negatives) + exact confirm join on the positive slice only.
    // History = the even docs, so every even doc is a planted dup; fpp
    // is set high (0.2) so false positives actually reach — and are
    // resolved by — the confirm join. The oracle decides membership on
    // the RAW text, independent of both the md5 narrowing and the
    // Bloom path.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalDedupWithHandles(d.select("doc_id", "text"),
          d.filter(col("doc_id") % 2 === 0).select("text"),
          "doc_id", "text", fpp = 0.2)._1
        .select("doc_id", "is_dup")
    }),

    // incremental NEAR-dup vs history: planted construction — history
    // docs carry 4-md5-word texts keyed on their id; odd batch docs
    // are a history text plus a short tail (char-shingle Jaccard
    // ~0.94, signature agreement far above the 0.8 gate), even batch
    // docs are fresh (cross Jaccard ~1e-2, never a band candidate) —
    // so verdicts AND best-match ids are closed-form
    "q_dedup_incremental_near" -> ((s, dir) => {
      import s.implicits._
      def w(seed: String): String =
        (0 until 4).map { j =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"${seed}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
        }.mkString(" ")
      val hist = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id").cast("long")).as[Long]
        .map(i => (i, w(s"hist_$i"))).toDF("doc_id", "text")
      val batch = docs(s, dir).filter(col("doc_id") >= 300 && col("doc_id") < 800)
        .select(col("doc_id").cast("long")).as[Long]
        .map { j =>
          val t = if (j % 2 == 1) w(s"hist_${(j * 7) % 300}") + " tailz"
                  else w(s"fresh_$j")
          (j, t)
        }.toDF("doc_id", "text")
      Dedup.incrementalNearDup(batch, hist, "doc_id", "text")
        // −1 sentinel instead of null: NaN-vs-NaN never hash-compares
        // equal in the float-coerced driver comparator
        .select(col("doc_id"), col("is_neardup"),
          coalesce(col("hist_id"), lit(-1L)).as("hist_id"))
        .orderBy("doc_id")
    }),

    // ---- dedup family ----
    // near-dup input: docs < 200 plus exact copies shifted by 10000
    "q_dedup_minhash" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
      val dup = d.withColumn("doc_id", col("doc_id") + 10000)
      Dedup.minhashLshExactPairs(d.unionByName(dup), "doc_id", "text")
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
      val dup = d.withColumn("doc_id", col("doc_id") + 10000)
      Dedup.simhashExactPairs(d.unionByName(dup), "doc_id", "text")
    }),
    // cluster resolution over the near-dup pair graph: connected
    // components via min-label propagation; oracle = DuckDB recursive
    // transitive closure (independent algorithm, same semantics)
    "q_dedup_components" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
      val all = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val pairs = Dedup.minhashLshExactPairs(all, "doc_id", "text")
      Dedup.componentsWithRounds(all.select(col("doc_id").as("id")), pairs)._1
    }),
    // the O(log² n) large-star/small-star alternative over the SAME
    // pair graph — adversarial-diameter-safe; must agree with the
    // identical transitive-closure oracle
    "q_dedup_components_lss" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
      val all = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val pairs = Dedup.minhashLshExactPairs(all, "doc_id", "text")
      Dedup.componentsLargeSmallStarWithRounds(all.select(col("doc_id").as("id")), pairs)._1
    }),
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < 150), "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))),

    // ---- similarity search ----
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("corpus_id"), round(col("cos"), 4).as("cos"))
    }),
    // ANN-LSH over planted near neighbors (see plantedNeighbors):
    // multi-table + 1-bit-probe LSH must reproduce the brute-force
    // top-5 exactly — the oracle is UNBLOCKED brute force in DuckDB.
    "q_ann_lsh" -> ((s, dir) => {
      val (corpus, base) = plantedCorpus(s, dir, nSources = 20, levels = 5, idStep = 1000)
      Similarity.lshTopK(corpus, base.filter(col("vec_id") < 20), "vec_id", "v", 5)
        .select(col("query_id"), col("rank"), col("corpus_id"), round(col("cos"), 4).as("cos"))
    }),
    // recall@5 of LSH vs the in-Spark brute-force twin, thresholded
    "q_ann_lsh_recall" -> ((s, dir) => {
      val (corpus, base) = plantedCorpus(s, dir, nSources = 20, levels = 5, idStep = 1000)
      Similarity.lshRecall(corpus, base.filter(col("vec_id") < 20), "vec_id", "v", 5)
    }),
    // IVF (inverted-file) ANN: deterministic spherical k-means coarse
    // quantizer, nProbe nearest lists per query — recall@5 vs brute force
    "q_ann_ivf_recall" -> ((s, dir) => {
      val (corpus, base) = plantedCorpus(s, dir, nSources = 20, levels = 5, idStep = 1000)
      graft.operators.Ivf.ivfRecall(corpus, base.filter(col("vec_id") < 20), "vec_id", "v", 5)
    }),
    "q_embed_neardup" -> ((s, dir) => {
      val (corpus, _) = plantedCorpus(s, dir, nSources = 500, levels = 1, idStep = 10000)
      Dedup.embeddingNearDupPairs(corpus, "vec_id", "v", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),

    // ---- dataflow operators, batch 2 ----
    // JoinData positional zip (dataflow/common.py:255): stops at
    // shortest; distributed zipWithIndex — no global single-task window
    // projected to the sort keys before the RDD-boundary zip (same
    // pruning rationale as q_batch — the stamp pass was carrying all
    // 9 order + 8 customer columns to emit 3)
    "q_zip_join" -> ((s, dir) =>
      graft.operators.Positional.zipJoin(
          s.read.parquet(s"$dir/orders.parquet").select("o_orderkey"), Seq("o_orderkey"),
          s.read.parquet(s"$dir/customer.parquet").select("c_custkey"), Seq("c_custkey"))
        .select("rn", "o_orderkey", "c_custkey")),
    // BatchData (common.py:316): fixed-size batches + per-batch aggregate.
    // Project to the three consumed columns BEFORE the positional
    // operator: its range-partition + offset-stamp passes cross an RDD
    // boundary that materializes external Rows, which defeats column
    // pruning (guide §2.3 "project before the exchange") — the full
    // 16-column lineitem rows were being serialized for a 3-column
    // aggregate. Same rows, same batch ids, same aggregate.
    "q_batch" -> ((s, dir) =>
      graft.operators.Positional.withBatchId(
          lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity"),
          Seq("l_orderkey", "l_linenumber"), 1000)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))),
    // RepeatedData (common.py:173): finite repeat ×3
    "q_repeat" -> ((s, dir) => {
      val d = docs(s, dir)
      d.unionByName(d).unionByName(d).groupBy("lang").agg(count(lit(1)).as("n"))
    }),
    // CustomDataFromList rebalance + max_datapoints (custom.py:101):
    // deterministic filter + ordered limit
    "q_limit_sample" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") % 10 < 3)
        .orderBy("doc_id").limit(50).select("doc_id", "lang", "n_chars")),
    // MapDataComponent (common.py:134): transform one field
    "q_mapcomponent" -> ((s, dir) =>
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), upper(col("c_name")).as("name_upper"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))),
    // ROLLUP aggregation (SURVEY §2.5: the reference lacks grouping
    // sets entirely — Catalyst gives them free)
    "q_rollup" -> ((s, dir) =>
      docs(s, dir).rollup("lang", "source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n"), col("chars"))),
    // SLIDING-window aggregation (10-minute windows every 5 minutes —
    // each event lands in two windows; the streaming twin is the same
    // transform with a watermark)
    "q_window_sliding" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").getField("start").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))),
    // tumbling-window aggregation over the event stream (same transform
    // Structured Streaming runs; batch here for the oracle)
    "q_window_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "5 minutes").getField("start").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))),

    // gap-based sessionization (gaps-and-islands; streaming twin in
    // operators.Sessionize.sessionizeStream)
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessions(
        s.read.parquet(s"$dir/events.parquet"), gapSeconds = 1800)),

    // TEDS (tedsmetric.py): each reconstructed 2×2 table tree has
    // exactly 11 nodes (table + 2 tr + 4 td + 4 word leaves); relabeling
    // one leaf costs edit distance 1 → similarity is 10/11 in closed
    // form, which DuckDB states independently
    "q_eval_teds" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .flatMap(et => et.tables.map(tb => (et.conv_id, et.turn_idx,
          graft.kernels.Teds.similarity(tb.html,
            tb.html.replace("<td>lang</td>", "<td>language</td>")))))
        .toDF("conv_id", "turn_idx", "teds")
        .select(col("conv_id"), col("turn_idx"), round(col("teds"), 6).as("teds"))
    }),

    // COCO dataset pre-join (SerializerCoco → publaynet-style labels):
    // synthesized images/annotations, grouped + label-mapped
    "q_coco_prejoin" -> ((s, dir) => {
      val images = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("id"),
          concat(lit("doc_"), col("doc_id"), lit(".png")).as("file_name"))
      val anns = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("image_id"), explode(sequence(lit(1), lit(3))).as("k0"))
        .filter(col("k0") <= col("doc_id") % 3)
        .select((col("image_id") * 10 + col("k0") - 1).as("id"), col("image_id"),
          (lit(1) + (col("image_id") + col("k0") - 1) % 5).cast("int").as("category_id"))
        .withColumn("category",
          element_at(typedLit(graft.sources.Serializers.PublaynetCategories), col("category_id")))
      graft.sources.Serializers.cocoPreJoin(images, anns)
        .select(col("id"), col("n_anns"),
          coalesce(element_at(col("anns"), 1).getField("id"), lit(-1L)).as("first_ann_id"),
          coalesce(element_at(col("anns"), 1).getField("category"), lit("none")).as("first_label"))
    }),

    // SimpleTransformService analogue: NFC + newline canonicalization
    // with raw-offset lineage — DuckDB's nfc_normalize is the oracle
    "q_normalize_remap" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id"), concat(lit("Café of\r\n"), col("text")).as("raw"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, raw) =>
          val (norm, m) = graft.kernels.Normalize.nfcWithMap(raw)
          // first word over the NORMALIZED text is "Café" = [0, 4);
          // its raw lineage must cover "Cafe" + U+0301 = [0, 5)
          (id, norm, raw.length, norm.length, m.toRawBegin(0), m.toRawEnd(4))
        }).toDF("doc_id", "norm", "raw_len", "norm_len", "raw_begin", "raw_end")
    }),

    // LMTokenClassifierService slot under the driver gate: the
    // heuristic classifier plugs into the pipeline's per-word hook
    // (ExtractConfig.tokenClassifier — a model callable plugs in the
    // same way); class distribution over kept-block words is oracled
    // against the expected extracted text's word split
    "q_token_class" -> ((s, dir) => {
      import s.implicits._
      val cfg = graft.pipeline.ExtractConfig(
        tokenClassifier = Some(graft.operators.Lm.heuristicTokenClass))
      Extract.run(Turns.synth(s, dir), cfg)
        .flatMap { et =>
          val keptIds = et.blocks.filter(_.kept).map(_.id).toSet
          et.words.filter(w => keptIds.contains(w.blockId)).map(_.tokenClass)
        }
        .toDF("token_class")
        .groupBy("token_class").agg(count(lit(1)).as("n"))
        .orderBy("token_class")
    }),

    // geometric transform under the driver gate: tpl 7's four blocks
    // have fully pinned geometry, so their 90°-rotated boxes are
    // closed-form constants the DuckDB twin states independently
    "x9_rotate" -> ((s, dir) => {
      import s.implicits._
      Extract.run(Turns.synth(s, dir))
        .filter(length($"extractedText") > 0)
        .flatMap { et =>
          // only tpl 7 turns are asserted (the oracle filters the
          // same); page is the renderer's 1000×1000 virtual frame
          if (!et.extractedText.startsWith("Banner head\n")) Nil
          else {
            val rot = graft.kernels.Transform.rotateTurn(et, 90, 1000.0, 1000.0)
            rot.blocks.filter(_.kept).sortBy(_.readingOrder).map(b =>
              (et.conv_id, et.turn_idx, b.readingOrder, b.text,
                b.box.ulx.round.toInt, b.box.uly.round.toInt,
                b.box.lrx.round.toInt, b.box.lry.round.toInt))
          }
        }
        .toDF("conv_id", "turn_idx", "reading_order", "text",
          "ulx", "uly", "lrx", "lry")
    }),

    // the PDF source kernel under the driver gate: per doc, a 2-page
    // PDF is synthesized in-flight exercising a different decode path
    // by doc_id % 6 (plain / FlateDecode / CID font + ToUnicode CMap /
    // RC4-encrypted / AESV2-encrypted / AESV3-R6-encrypted); extracted
    // text must equal the closed-form strings DuckDB states from
    // doc_id alone — a wrong filter, font-state, or decryption path
    // hash-mismatches
    "q_pdf_split" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val texts = Seq(s"alpha page of doc $id", s"beta page of doc $id")
          val bytes = synthPdf((id % 6).toInt, texts)
          graft.kernels.Pdf.splitPages(bytes).map(p => (id, p.pageNo, p.text))
        }
        .toDF("doc_id", "page_no", "text")
        .orderBy("doc_id", "page_no")
    }),

    // per-page re-emission under the driver gate: the same 6-variant
    // synthetic docs as q_pdf_split, but each page is re-emitted as a
    // STANDALONE one-page PDF (decrypt → closure → renumber → xref)
    // and then RE-PARSED — the emitted bytes must round-trip to the
    // identical closed-form text, so a wrong closure (missing font/
    // CMap), bad renumbering, or broken /Length rewrite all
    // hash-mismatch
    "q_pdf_emit" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val texts = Seq(s"alpha page of doc $id", s"beta page of doc $id")
          val bytes = synthPdf((id % 6).toInt, texts)
          graft.kernels.Pdf.emitPages(bytes).flatMap { case (n, pageBytes) =>
            graft.kernels.Pdf.splitPages(pageBytes).map(p => (id, n, p.text))
          }
        }
        .toDF("doc_id", "page_no", "text")
        .orderBy("doc_id", "page_no")
    }),

    // positioned words under the driver gate: the §9.4 text state
    // machine (Td/TD/T*/TL/Tm, TJ adjustments, /Widths advances) on a
    // pinned-widths fixture; every coordinate is a closed-form integer
    // in millipoints, re-derived by the DuckDB oracle from the same
    // layout arithmetic (width = 400 + (code%5)*50, size 12, gaps
    // −300/1000·12 = 3.6 pt)
    "q_pdf_words" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          graft.kernels.Pdf.splitPagesWords(synthPdfWords(id)).map(w =>
            (id, w.pageNo, w.wordNo, w.text,
              math.round(w.x0 * 1000), math.round(w.top * 1000),
              math.round(w.x1 * 1000), math.round(w.bottom * 1000)))
        }
        .toDF("doc_id", "page_no", "word_no", "text", "x0_mil", "top_mil", "x1_mil", "bot_mil")
        .orderBy("doc_id", "word_no")
    }),

    // the geometric pipeline on REAL parsed PDF words (the reference's
    // core chain, extern/pdftext.py words → order.py): a two-column
    // page is parsed by splitPagesWords, grouped into text lines
    // (group_words_into_lines), and ordered by TextOrderService's
    // column logic — the left column must read out fully before the
    // right despite the rows interleaving in parse order
    "q_pdf_reading_order" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val ws = graft.kernels.Pdf.splitPagesWords(synthPdfTwoColumn(id))
          val anns = ws.map(w => w.wordNo.toString ->
            graft.model.BBox(w.x0, w.top, w.x1, w.bottom, absCoords = true))
          val byId = ws.map(w => w.wordNo.toString -> w.text).toMap
          val lineOf = graft.kernels.Order.groupWordsIntoLines(anns)
            .map { case (_, line, wid) => wid -> line }.toMap
          graft.kernels.Order.orderBlocks(anns, 612.0, 792.0).map { case (ord, wid) =>
            (id, ord, lineOf(wid), byId(wid))
          }
        }
        .toDF("doc_id", "reading_order", "line_no", "text")
        .orderBy("doc_id", "reading_order")
    }),

    // image extraction under the driver gate: per doc, a one-page PDF
    // with an image whose dims derive from doc_id — doc_id%6 picks a
    // Flate RGB raster, a REAL JPEG (DCTDecode), a CCITT G4 bitonal
    // (encoded by the JDK TIFF writer in-flight), a RunLength raster,
    // an INLINE image (BI/ID/EI, payload salted with ' EI '), or an
    // INLINE JPEG with no /L (delimited by the JPEG marker structure);
    // the kernel must decode each back to the exact declared shape
    "q_pdf_images" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val w = 8 + (id % 5).toInt
          val h = 6 + (id % 3).toInt
          graft.kernels.Pdf.extractImages(synthImagePdf((id % 6).toInt, w, h))
            .map(im => (id, im.width, im.height, im.channels, im.bpc, im.format))
        }
        .toDF("doc_id", "width", "height", "channels", "bpc", "format")
        .orderBy("doc_id")
    }),

    // deskew estimator under the driver gate: per doc, a deterministic
    // word grid is skewed by a planted integer angle derived from
    // doc_id alone; the estimator must invert it to within rounding,
    // so DuckDB states the angle from the generator constants
    "q_deskew" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 120)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val sign = if (id % 2 == 0) 1.0 else -1.0
          val planted = sign * (3.0 + (id % 7))
          val grid = for (r <- 0 until 10; c <- 0 until 14) yield {
            val jx = (r * 31 + c * 17) % 5 - 2.0
            val jy = (r * 13 + c * 7) % 3 - 1.0
            val x = 60.0 + c * 62 + jx
            val y = 80.0 + r * 34 + jy
            graft.model.BBox(x, y, x + 46, y + 14, absCoords = true)
          }
          val skewed = grid.map(
            graft.kernels.Transform.rotateBoxAngle(_, planted, 1000, 500))
          (id, math.rint(graft.kernels.Transform.estimateSkew(skewed)).toLong)
        }
        .toDF("doc_id", "angle_deg")
        .orderBy("doc_id")
    }),

    // layout-link under the driver gate: fixed caption payload built
    // in-flight, linked parent's text is a closed-form constant
    "q_layout_link" -> ((s, dir) => {
      import s.implicits._
      val payload =
        """<p>alpha para</p><figcaption>cap text</figcaption>""" +
          """<div style="left:0%;width:40%;top:50%"><p>far away body</p></div>"""
      val cfg = graft.pipeline.ExtractConfig(
        layoutLinkParents = Set("text"), layoutLinkChildren = Set("caption"))
      val turns = docs(s, dir).filter(col("doc_id") < 100)
        .select(concat(lit("link-"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), lit("user").as("role"),
          lit(payload).as("text"), lit("").as("tool"),
          timestamp_seconds(col("doc_id")).as("ts"))
        .as[graft.model.Turn]
      Extract.run(turns, cfg)
        .flatMap { et =>
          val byId = et.blocks.map(b => b.id -> b).toMap
          et.blocks.filter(_.kind == "caption").map(c =>
            (et.conv_id, c.text,
              byId.get(c.linkedBlockId).map(_.text).getOrElse("")))
        }
        .toDF("conv_id", "caption_text", "linked_text")
    }),

    // checkpoint/resume under the driver gate: bucket the source by
    // the salt key, run the chunked resumable pipeline (fresh temp
    // dirs per call), read the chunk outputs back and aggregate — the
    // oracle states the same aggregate from the turns CTE, proving
    // chunked == single-run through the driver's own gate. turn_idx
    // capped so the bench sweep stays bounded at any sf.
    "q_checkpoint" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_q_ckpt")
      try {
        val cfg = graft.pipeline.ExtractConfig()
        // turn cap + 2 chunks keep the gate's cost ≤~2 s in the bench
        // sweep (it runs every query twice) while still exercising
        // bucket → per-chunk resume → reconcile end to end
        val turns = Turns.synth(s, dir).filter(col("turn_idx") < 24)
        graft.io.Checkpoint.bucketSource(turns, tmp.resolve("src").toString, 2, cfg)
        graft.io.Checkpoint.runAllBucketed(s, tmp.resolve("src").toString,
          tmp.resolve("out").toString, cfg)
        // aggregate EAGERLY so the temp corpus copies can be deleted
        // before returning
        val row = graft.io.Checkpoint.readOutput(s, tmp.resolve("out").toString)
          .agg(
            count(lit(1)).cast("long").as("n_turns"),
            sum(col("metrics.wordCount")).cast("long").as("n_words"),
            sum(when(col("metrics.parseFailed"), 1L).otherwise(0L)).cast("long").as("n_failed"))
          .head()
        Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
          .toDF("n_turns", "n_words", "n_failed")
      } finally {
        // delete even when the query fails mid-way (a failure would
        // otherwise leak two corpus copies per invocation), and close
        // the walk stream (it holds a directory handle)
        val st = java.nio.file.Files.walk(tmp)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally st.close()
      }
    }),

    // sharded export under the driver gate: write with the md5 shard
    // key (the DuckDB-twinnable 32-bit md5-prefix idiom shared with
    // dsirBucket), re-load through the manifest-VERIFYING reader, and
    // report each row's placement as read FROM DISK (the loader's
    // shard partition column) plus the manifest's per-shard row count
    // — wrong placement, a wrong manifest, or a load that drops a
    // shard all hash-mismatch against the closed-form oracle
    "q_shard_manifest" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_q_shard")
      try {
        val d = docs(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        val manifest = graft.sources.Serializers.writeShardedJsonl(
          d, "doc_id", tmp.toString, 5, shardBy = "md5")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType)))
        // eager collect before the finally-delete: bounded at the 500
        // filtered docs by construction (the q_checkpoint eager-
        // aggregation convention for temp-dir queries)
        val placed = graft.sources.Serializers.readShardedJsonl(s, tmp.toString, schema)
          .select(col("doc_id"), col("shard").cast("int").as("shard"))
          .as[(Long, Int)].collect().toSeq
        val rowsByShard = manifest.map { case (sh, rows, _) => sh -> rows }.toMap
        placed.map { case (id, sh) => (id, sh, rowsByShard(sh)) }
          .toDF("doc_id", "shard", "shard_rows")
          .orderBy("doc_id")
      } finally {
        val st = java.nio.file.Files.walk(tmp)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally st.close()
      }
    }),

    // LMSequenceClassifierService slot under the driver gate: the
    // page-level heuristic classifier plugs into the pipeline's
    // per-turn hook (ExtractConfig.sequenceClassifier — a model
    // callable plugs in the same way); class distribution oracled
    // against the expected extracted text expression
    "q_seq_class" -> ((s, dir) => {
      val cfg = graft.pipeline.ExtractConfig(
        sequenceClassifier = Some(graft.operators.Lm.heuristicSeqClass))
      Extract.run(Turns.synth(s, dir), cfg)
        .select(col("docClass").as("doc_class"))
        .groupBy("doc_class").agg(count(lit(1)).as("n"))
        .orderBy("doc_class")
    }),

    // USE_LINE_MATCHER under the driver gate: a pinned list+paragraph
    // layout where exactly the two list-item lines must parent onto
    // their list blocks and the paragraph line must stay free — the
    // DuckDB twin states the counts from the doc count alone
    "q_line_match" -> ((s, dir) => {
      import s.implicits._
      val payload = "<ul><li>item one</li><li>item two</li></ul><p>plain para here</p>"
      val cfg = graft.pipeline.ExtractConfig(useLineMatcher = true)
      val turns = docs(s, dir).filter(col("doc_id") < 150)
        .select(concat(lit("lm-"), col("doc_id")).as("conv_id"),
          lit(0).as("turn_idx"), lit("user").as("role"),
          lit(payload).as("text"), lit("").as("tool"),
          timestamp_seconds(col("doc_id")).as("ts"))
        .as[graft.model.Turn]
      Extract.run(turns, cfg)
        .flatMap(et => et.lines.map(l => (l.listId.nonEmpty, l.listId == l.blockId)))
        .toDF("matched", "own_block")
        .agg(
          sum(when(col("matched"), 1L).otherwise(0L)).cast("long").as("n_matched"),
          sum(when(col("matched") && col("own_block"), 1L).otherwise(0L)).cast("long").as("n_own"),
          sum(when(!col("matched"), 1L).otherwise(0L)).cast("long").as("n_free"))
    }),

    // FUNSD/XFund token-classification rows (instances/funsd.py via
    // mapper/xfundstruct.py): funsd-format JSON synthesized in-flight
    // from documents, run through the REAL parse path (FunsdSchema →
    // explode → BIO tagging), then grouped — the driver oracle states
    // the expected class/tag distribution independently
    "q_funsd_tokens" -> ((s, dir) => {
      val labels = typedLit(Seq("other", "question", "answer", "header"))
      val words3 = slice(split(col("text"), " "), 1, 3)
      val payload = docs(s, dir).filter(col("doc_id") < 200)
        .select(to_json(struct(array(struct(
          col("doc_id").as("id"),
          element_at(labels, (col("doc_id") % 4 + 1).cast("int")).as("label"),
          array(lit(0.0), lit(0.0), lit(100.0), lit(20.0)).as("box"),
          transform(words3, (w, i) => struct(w.as("text"),
            array(i.cast("double") * 50, lit(0.0),
              i.cast("double") * 50 + 40, lit(20.0)).as("box"))).as("words"),
          array(array(col("doc_id"), col("doc_id") + lit(1L))).as("linking")
        )).as("form"))).as("payload"))
      val parsed = payload
        .select(from_json(col("payload"), graft.sources.Serializers.FunsdSchema).as("r"))
        .select("r.*")
      graft.sources.Serializers.funsdTokenRows(parsed)
        .groupBy("token_class", "tag").agg(count(lit(1)).as("n"))
        .orderBy("token_class", "tag")
    }),

    // ---- multimodal plumbing (decode is a deterministic stub) ----
    "q_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodeMeta(Multimodal.withBinary(docs(s, dir), "text"), "doc_id")
        .toDF().select(col("id").as("doc_id"), col("n_bytes"), col("width"),
          col("height"), col("channels"))
    }),

    // REAL image decode under the driver gate: PNGs of closed-form
    // dimensions encoded in-flight (ImageIO), decoded back through the
    // batched kernel; DuckDB states the dimensions independently from
    // doc_id arithmetic — any stub-shaped decode would hash-mismatch
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 64)
        .select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.encodePng((id % 7 + 1).toInt, (id % 5 + 2).toInt, id)))
        .toDF("doc_id", "media")
        .transform(df => Multimodal.decodeMeta(df, "doc_id").toDF())
        .select(col("id").as("doc_id"), col("width"), col("height"), col("channels"))
    }),

    // REAL pixel kernel under the driver gate: per doc a linear-
    // pattern PNG is encoded in-flight, then the kernel must DECODE
    // the actual bytes, nearest-neighbor-resample to 8x6, and emit
    // 2x2 grid channel sums — DuckDB restates every sum closed-form
    // from the pattern + the integer source mapping (a wrong decode,
    // resample index, or cell boundary changes some integer sum)
    "q_multimodal_pixels" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val w = 16 + (id % 5).toInt
          val h = 12 + (id % 3).toInt
          val png = Multimodal.encodePngPattern(w, h)
          Multimodal.pixelGridSums(png, 8, 6, 2, 2).toSeq.flatten
            .map { case (cell, r, g, b, n) => (id, cell, r, g, b, n) }
        }
        .toDF("doc_id", "cell", "sum_r", "sum_g", "sum_b", "n_px")
        .orderBy("doc_id", "cell")
    })
  )

  /** Shared WITH RECURSIVE body for the three near-dup cluster oracles
    * (`q_dedup_components`, `q_dedup_components_lss`,
    * `q_dedup_survivors`): planted corpus+copies, 3-char shingles,
    * exact-Jaccard pairs at 0.95, symmetric edges, transitive closure.
    * Single-sourced so a threshold or normalization change cannot
    * silently diverge between them (the Turns.CoreSql precedent).
    */
  private val ClosureCte =
    """d AS (
         SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 200
         UNION ALL
         SELECT doc_id + 10000, text, n_chars FROM documents WHERE doc_id < 200),
       sh AS (
         SELECT doc_id AS id, list_distinct(list_transform(
           range(1, greatest(length(lower(regexp_replace(text, '\s+', ' ', 'g'))) - 2, 1) + 1),
           i -> substring(lower(regexp_replace(text, '\s+', ' ', 'g')), i, 3))) AS s
         FROM d),
       p AS (
         SELECT a.id AS id_a, b.id AS id_b
         FROM sh a JOIN sh b ON a.id < b.id
         WHERE CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
               length(list_distinct(list_concat(a.s, b.s))) >= 0.95),
       e AS (SELECT id_a AS a, id_b AS b FROM p
             UNION ALL SELECT id_b, id_a FROM p),
       reach(node, lab) AS (
         SELECT id, id FROM sh
         UNION
         SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.node)"""

  def oracleSql: Map[String, String] = {
    val cte = Turns.TurnsCte
    Map(
      "x1_extract" ->
        s"""$cte SELECT conv_id, turn_idx, ${Turns.ExpectedExtractedSql} AS extracted_text FROM turns""",
      "x3_stats" ->
        s"""$cte SELECT conv_id, turn_idx, ${Turns.ExpectedWordCountSql} AS word_count,
            ${Turns.ExpectedBlocksKeptSql} AS blocks_kept,
            ${Turns.ExpectedBlocksDroppedSql} AS blocks_dropped FROM turns""",
      "x4_turns" ->
        s"""$cte SELECT conv_id, turn_idx, role, text, tool FROM turns""",
      "q_mapdata_filter" ->
        """SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_cents
           FROM lineitem WHERE l_quantity > 25""",
      "q_stats_mean_std" ->
        """SELECT round(avg(l_quantity), 4) AS mean_qty, round(stddev(l_quantity), 4) AS std_qty,
           round(avg(l_extendedprice), 4) AS mean_price FROM lineitem""",
      "q_label_summarizer" ->
        "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
      "q_flatten_words" ->
        """SELECT w AS word, count(*) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents
           ) GROUP BY w""",
      "q_concat_union" ->
        """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM (
             SELECT * FROM documents WHERE doc_id % 2 = 0
             UNION ALL SELECT * FROM documents WHERE doc_id % 2 = 1
           ) GROUP BY source""",
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price, round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus""",
      "q2_join_broadcast" ->
        """SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n
           FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""",
      "q3_topk" ->
        """SELECT o_orderkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
           GROUP BY o_orderkey, c_name ORDER BY revenue DESC, o_orderkey LIMIT 10""",
      "q_dedup_exact" ->
        """SELECT min(doc_id) AS keeper_id, count(*) AS copies FROM documents GROUP BY md5(text)""",
      "q_token_count" ->
        """SELECT doc_id, CAST(length(string_split(text, ' ')) AS INT) AS n_tokens, n_chars FROM documents""",
      "q_token_count_bpe" ->
        s"""SELECT doc_id, ${TextStats.bpeTokenCountSql("text")} AS n_tokens_bpe FROM documents""",
      // per-word merged counts below are the PYTHON anchor's output
      // (tools/make_bpe_fixtures.py over the committed merges.txt),
      // pasted verbatim — the Scala merge loop never feeds the oracle.
      // Planted text for doc d = vocab[(d + 3k) % 16], k = 0..7; the
      // first word counts bare, the rest space-prefixed (the GPT-2
      // pre-tokenizer's ' ?' prefix)
      "q_token_count_bpe_merged" ->
        """WITH v(idx, bare, spaced) AS (VALUES
             (0, 1, 2), (1, 1, 2), (2, 2, 3), (3, 4, 5),
             (4, 4, 5), (5, 3, 4), (6, 2, 3), (7, 2, 3),
             (8, 4, 5), (9, 2, 3), (10, 3, 4), (11, 3, 3),
             (12, 3, 4), (13, 2, 3), (14, 3, 4), (15, 2, 3)),
           k(k) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7))
           SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                  CAST(SUM(CASE WHEN k.k = 0 THEN v.bare ELSE v.spaced END) AS INT) AS n_tokens_merged
           FROM documents d, k JOIN v ON v.idx = (d.doc_id + 3 * k.k) % 16
           GROUP BY d.doc_id ORDER BY doc_id""",

      "q_token_budget_bpe" ->
        """WITH v(idx, bare, spaced) AS (VALUES
             (0, 1, 2), (1, 1, 2), (2, 2, 3), (3, 4, 5),
             (4, 4, 5), (5, 3, 4), (6, 2, 3), (7, 2, 3),
             (8, 4, 5), (9, 2, 3), (10, 3, 4), (11, 3, 3),
             (12, 3, 4), (13, 2, 3), (14, 3, 4), (15, 2, 3)),
           k(k) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
           meta AS (
             SELECT d.doc_id, CAST(d.doc_id % 7 AS BIGINT) AS priority,
                    CAST(SUM(CASE WHEN k.k = 0 THEN v.bare ELSE v.spaced END) AS BIGINT) AS n_tokens
             FROM documents d, k JOIN v ON v.idx = (d.doc_id + 3 * k.k) % 16
             GROUP BY d.doc_id),
           budget AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS b FROM meta),
           cum AS (
             SELECT doc_id, priority, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY priority DESC, doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM meta)
           SELECT CAST(doc_id AS BIGINT) AS doc_id, priority, n_tokens, cum_tokens,
             cum_tokens <= (SELECT b FROM budget) AS in_budget
           FROM cum ORDER BY doc_id""",

      "q_fingerprint" ->
        """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint FROM documents""",

      "x2_chunks" -> {
        // template prefix literals — lock-step with Turns.CoreSql; the
        // tpl 7-11 constants derive from the Turns.T* vals themselves
        // (indexOf/length), so a template edit cannot silently drift
        val t1p = """<html><head><title>Session Log</title></head><body><nav><a href="#">Home</a> <a href="#">Docs</a> <a href="#">About</a></nav><p>"""
        val t3p = """<div class="sidebar"><a href="#">Link One</a> <a href="#">Link Two</a> <a href="#">Link Three</a></div><div class="main"><p>"""
        val t4a = "<table><tr><td>lang</td><td>"
        val t4b = "</td></tr><tr><td>origin</td><td>"
        val t4c = "</td></tr></table><p>"
        val t6a = """<div style="left:0%;width:48%"><p>"""
        val t6b = """</p></div><div style="left:52%;width:48%;top:3%"><p>"""
        import Turns.{T7, T8, T9, T10Prefix, T10RawLen, T10Nfc, T11Prefix}
        s"""$cte, base AS (
             SELECT conv_id, turn_idx, doc_id, src_text, lang, source,
                    doc_id % 12 AS tpl, length(src_text) AS L,
                    length(concat(doc_id)) AS D
             FROM turns)
           SELECT conv_id, turn_idx, CAST(1 AS INT) AS reading_order, kind, text,
                  CAST(b AS INT) AS span_begin, CAST(b + len AS INT) AS span_end
           FROM (
             SELECT conv_id, turn_idx,
               CASE WHEN tpl = 5 THEN 'title' ELSE 'text' END AS kind,
               CASE tpl
                 WHEN 5 THEN concat('Report ', doc_id)
                 WHEN 7 THEN 'Banner head'
                 WHEN 8 THEN 'north south ridge creek stone maple cedar birch'
                 WHEN 9 THEN 'after overlay'
                 WHEN 10 THEN '$T10Nfc'
                 ELSE src_text
               END AS text,
               CASE tpl
                 WHEN 0 THEN 0
                 WHEN 1 THEN ${t1p.length}
                 WHEN 2 THEN 8
                 WHEN 3 THEN ${t3p.length}
                 WHEN 4 THEN ${t4a.length + t4b.length + t4c.length} + length(lang) + length(source)
                 WHEN 5 THEN 4
                 WHEN 6 THEN ${t6a.length}
                 WHEN 7 THEN ${T7.indexOf("Banner")}
                 WHEN 8 THEN ${T8.indexOf("north")}
                 WHEN 9 THEN ${T9.indexOf("after")}
                 WHEN 10 THEN 3
                 ELSE ${T11Prefix.length}
               END AS b,
               CASE tpl
                 WHEN 5 THEN 7 + D
                 WHEN 7 THEN ${"Banner head".length}
                 WHEN 8 THEN ${"north south ridge creek stone maple cedar birch".length}
                 WHEN 9 THEN ${"after overlay".length}
                 WHEN 10 THEN $T10RawLen
                 ELSE L
               END AS len
             FROM base)
           UNION ALL
           SELECT conv_id, turn_idx, CAST(2 AS INT), 'text',
                  CASE tpl
                    WHEN 6 THEN concat('Column two of report ', doc_id)
                    WHEN 7 THEN 'alpha one'
                    WHEN 8 THEN 'inset xy'
                    WHEN 9 THEN 'duplicate overlay block'
                    ELSE src_text
                  END,
                  CAST(b2 AS INT), CAST(b2 + len2 AS INT)
           FROM (
             SELECT conv_id, turn_idx, tpl, doc_id, src_text,
               CASE tpl WHEN 2 THEN 8 + L + 7
                        WHEN 5 THEN 4 + 7 + D + 8
                        WHEN 6 THEN ${t6a.length} + L + ${t6b.length}
                        WHEN 7 THEN ${T7.indexOf("alpha")}
                        WHEN 8 THEN ${T8.indexOf("inset")}
                        WHEN 9 THEN ${T9.indexOf("duplicate")}
                        ELSE ${T10Prefix.length} END AS b2,
               CASE tpl WHEN 6 THEN 21 + D
                        WHEN 7 THEN ${"alpha one".length}
                        WHEN 8 THEN ${"inset xy".length}
                        WHEN 9 THEN ${"duplicate overlay block".length}
                        ELSE L END AS len2
             FROM base WHERE tpl IN (2, 5, 6, 7, 8, 9, 10))
           UNION ALL
           SELECT conv_id, turn_idx, CAST(3 AS INT), 'text',
                  CASE tpl WHEN 7 THEN 'beta two' ELSE 'first chain row' END,
                  CAST(b3 AS INT), CAST(b3 + len3 AS INT)
           FROM (
             SELECT conv_id, turn_idx, tpl,
               CASE tpl WHEN 7 THEN ${T7.indexOf("beta")}
                        ELSE ${T8.indexOf("first")} END AS b3,
               CASE tpl WHEN 7 THEN ${"beta two".length}
                        ELSE ${"first chain row".length} END AS len3
             FROM base WHERE tpl IN (7, 8))
           UNION ALL
           SELECT conv_id, turn_idx, CAST(4 AS INT), 'text',
                  CASE tpl WHEN 7 THEN 'gamma three' ELSE 'second chain row' END,
                  CAST(b4 AS INT), CAST(b4 + len4 AS INT)
           FROM (
             SELECT conv_id, turn_idx, tpl,
               CASE tpl WHEN 7 THEN ${T7.indexOf("gamma")}
                        ELSE ${T8.indexOf("second")} END AS b4,
               CASE tpl WHEN 7 THEN ${"gamma three".length}
                        ELSE ${"second chain row".length} END AS len4
             FROM base WHERE tpl IN (7, 8))"""
      },

      "x5_tables" ->
        s"""$cte SELECT conv_id, turn_idx, CAST(2 AS INT) AS n_rows, CAST(2 AS INT) AS n_cols,
            concat('<table><tr><td>lang</td><td>', lang,
                   '</td></tr><tr><td>origin</td><td>', source,
                   '</td></tr></table>') AS html
            FROM turns WHERE doc_id % 12 = 4
            UNION ALL
            SELECT conv_id, turn_idx, CAST(1 AS INT), CAST(2 AS INT),
                   '${Turns.T11OuterHtml}'
            FROM turns WHERE doc_id % 12 = 11
            UNION ALL
            SELECT conv_id, turn_idx, CAST(1 AS INT), CAST(2 AS INT),
                   '${Turns.T11InnerHtml}'
            FROM turns WHERE doc_id % 12 = 11""",

      // context windows stated from the pinned block counts alone:
      // n = 6 (even doc_id) or 2 (odd); size = bounded window length
      "q_layout_context" ->
        """SELECT concat('ctx-', doc_id) AS conv_id, CAST(0 AS INT) AS turn_idx,
                  CAST(t.ro AS INT) AS reading_order,
                  CAST(least(t.ro + 2, n.n) - greatest(t.ro - 2, 1) + 1 AS INT) AS ctx_size,
                  CAST(greatest(t.ro - 2, 1) AS INT) AS ctx_first,
                  CAST(least(t.ro + 2, n.n) AS INT) AS ctx_last
           FROM (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 2 END AS n
                 FROM documents WHERE doc_id < 200) n, range(1, 7) t(ro)
           WHERE t.ro <= n.n
           ORDER BY conv_id, reading_order""",

      // the header→value map per data row, as constants: the colspan=2
      // Sales header takes the LAST covered cell (reference overwrite
      // semantics, view.py:720-726); row_header is the row-scope <th>
      // below the leading header band (view.py:661 row_header_cells)
      "q_table_kv" ->
        """SELECT concat('kv-', doc_id) AS conv_id, CAST(r AS INT) AS row_number,
                  CAST(hc AS INT) AS header_col, ht AS header_text, v AS value,
                  rh AS row_header
           FROM documents, (VALUES (2, 1, 'Region', 'EMEA', 'EMEA'), (2, 2, 'Sales', '20', 'EMEA'),
                                   (3, 1, 'Region', 'APAC', 'APAC'), (3, 2, 'Sales', '40', 'APAC')) kv(r, hc, ht, v, rh)
           WHERE doc_id < 100
           ORDER BY conv_id, row_number, header_col""",

      "q_lang_id" ->
        s"SELECT doc_id, ${TextStats.langIdSql("text")} AS lang_id FROM documents",

      // redaction: rebuild the planted text (string concatenation of
      // doc_id-derived email + phone before the document text), apply
      // the same RE2-safe patterns with DuckDB's regex engine
      "q_redact" ->
        s"""SELECT doc_id, ${TextStats.redactSqlSelect("t2")}
            FROM (SELECT doc_id,
                    'mail user' || doc_id || '@example.com tel +1 555-01'
                      || (doc_id % 90 + 10) || ' ' || text AS t2
                  FROM documents WHERE doc_id < 300) ORDER BY doc_id""",

      // repetition signals: rebuild the planted text, then an
      // independent SQL derivation of every metric (8-word chunk
      // "lines", word 2-/5-grams joined by ' ', cnt×len character
      // numerators, cross-multiplied 20% verdicts)
      "q_repetition" ->
        """WITH planted AS (
             SELECT doc_id,
               CASE
                 WHEN doc_id % 3 = 1 AND len(string_split(text,' ')) >= 16 THEN
                   array_to_string(list_slice(string_split(text,' '), 1,
                     (len(string_split(text,' '))//8)*8), ' ')
                   || ' ' || array_to_string(list_slice(string_split(text,' '), 1, 8), ' ')
                 WHEN doc_id % 3 = 2 AND len(string_split(text,' ')) >= 2 THEN
                   text || repeat(' ' || string_split(text,' ')[1] || ' '
                     || string_split(text,' ')[2], 6)
                 ELSE text
               END AS t2
             FROM documents WHERE doc_id < 300
           ),
           base AS (
             SELECT doc_id, string_split(t2, ' ') AS ws, length(t2) AS total_chars
             FROM planted
           ),
           lines AS (
             SELECT doc_id, unnest(list_transform(range(0, (len(ws)+7)//8),
                 j -> array_to_string(ws[j*8+1:j*8+8], ' '))) AS line FROM base
           ),
           lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS l
                  FROM lines GROUP BY doc_id, line),
           la AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                         CAST(count(*) AS BIGINT) AS n_distinct_lines,
                         CAST(COALESCE(sum(CASE WHEN c > 1 THEN c*l END), 0) AS BIGINT) AS dup_line_chars
                  FROM lc GROUP BY doc_id),
           bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                 i -> array_to_string(ws[i:i+1], ' '))) AS gram FROM base),
           bc AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS l
                  FROM bg GROUP BY doc_id, gram),
           ba AS (SELECT doc_id, CAST(max(c*l) AS BIGINT) AS top2_chars
                  FROM bc GROUP BY doc_id),
           fg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-3),
                 i -> array_to_string(ws[i:i+4], ' '))) AS gram FROM base),
           fc AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS l
                  FROM fg GROUP BY doc_id, gram),
           fa AS (SELECT doc_id, CAST(COALESCE(sum(CASE WHEN c > 1 THEN c*l END), 0) AS BIGINT) AS dup5_chars
                  FROM fc GROUP BY doc_id)
           SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_words,
                  la.n_lines, la.n_distinct_lines, la.dup_line_chars,
                  COALESCE(ba.top2_chars, 0) AS top2_chars,
                  COALESCE(fa.dup5_chars, 0) AS dup5_chars,
                  CAST(b.total_chars AS BIGINT) AS total_chars,
                  (la.dup_line_chars * 5 <= b.total_chars
                    AND COALESCE(ba.top2_chars, 0) * 5 <= b.total_chars
                    AND COALESCE(fa.dup5_chars, 0) * 5 <= b.total_chars) AS repetition_ok
           FROM base b JOIN la USING (doc_id)
           LEFT JOIN ba USING (doc_id) LEFT JOIN fa USING (doc_id)
           ORDER BY b.doc_id""",

      // mixture interleave: window row_number per source + global —
      // vs Spark's two distributed zipWithIndex passes
      "q_mixture_interleave" ->
        """WITH s AS (
             SELECT doc_id AS id,
               CASE WHEN lang = 'en' THEN 'en'
                    WHEN lang = 'de' THEN 'de' ELSE 'other' END AS source,
               CASE WHEN lang = 'en' THEN CAST(3.0 AS DOUBLE)
                    WHEN lang = 'de' THEN CAST(2.0 AS DOUBLE)
                    ELSE CAST(1.0 AS DOUBLE) END AS w
             FROM documents),
           k AS (
             SELECT id, source, w,
               CAST(row_number() OVER (PARTITION BY source ORDER BY id)
                 AS BIGINT) AS k
             FROM s),
           key AS (SELECT id, source, k, k / w AS sk FROM k)
           SELECT CAST(row_number() OVER (ORDER BY sk, source, id) AS BIGINT)
                    AS pos,
             source, id, k, sk AS stride_key
           FROM key""",

      // semantic decontamination: DuckDB's own cosine over the same
      // planted CTE; argmax via row_number, verdict at full precision
      "q_decontaminate_semantic" ->
        s"""WITH ${plantedCorpusSql(20, 5, 10000)},
           b AS (SELECT vec_id AS bench_id, v AS bv FROM src WHERE vec_id < 20),
           scored AS (
             SELECT c.vec_id AS doc_id, b.bench_id,
                    list_cosine_similarity(c.v, b.bv) AS cos
             FROM corpus c, b),
           best AS (
             SELECT doc_id, bench_id, cos,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY cos DESC, bench_id) AS rk
             FROM scored)
           SELECT doc_id, bench_id, round(cos, 4) AS cos,
             (cos >= 0.97) AS contaminated
           FROM best WHERE rk = 1""",

      // decontamination: rebuild the planted corpus (benchmark head
      // 5-gram appended to doc_id%7==3 rows via the same join), then
      // an independent relational derivation — explode corpus 5-grams,
      // semi-join the distinct benchmark gram set, count positions and
      // distinct grams per doc
      "q_decontaminate" ->
        """WITH bench AS (
             SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents WHERE doc_id % 37 = 0),
           bgrams AS (
             SELECT DISTINCT unnest(list_transform(range(1, len(ws)-3),
               i -> array_to_string(ws[i:i+4], ' '))) AS g FROM bench),
           plant AS (
             SELECT doc_id // 37 AS b13, array_to_string(ws[1:5], ' ') AS bgram
             FROM bench WHERE len(ws) >= 5),
           corpus AS (
             SELECT d.doc_id,
               CASE WHEN p.bgram IS NOT NULL THEN d.text || ' ' || p.bgram
                    ELSE d.text END AS text
             FROM documents d LEFT JOIN plant p
               ON d.doc_id % 13 = p.b13 AND d.doc_id % 7 = 3
             WHERE d.doc_id % 37 <> 0),
           cg AS (
             SELECT doc_id, unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 3),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS g
             FROM corpus),
           hits AS (
             SELECT c.doc_id, count(*) AS n_hits, count(DISTINCT c.g) AS n_dist
             FROM cg c JOIN bgrams b USING (g) GROUP BY c.doc_id)
           SELECT c.doc_id, CAST(COALESCE(h.n_hits, 0) AS INT) AS n_gram_hits,
                  CAST(COALESCE(h.n_dist, 0) AS INT) AS n_distinct_hits,
                  COALESCE(h.n_hits, 0) > 0 AS contaminated
           FROM corpus c LEFT JOIN hits h USING (doc_id)
           ORDER BY c.doc_id""",

      // corpus line dedup: same 8-word-chunk lines, first occurrence
      // via an INDEPENDENT derivation (row_number window vs Spark's
      // groupBy-min-struct), string_agg reassembly in position order
      "q_line_dedup" ->
        """WITH all_docs AS (
             SELECT doc_id, text FROM documents WHERE doc_id < 200
             UNION ALL
             SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 200),
           base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM all_docs),
           lines AS (
             SELECT doc_id, u['i'] AS line_idx, u['l'] AS line FROM (
               SELECT doc_id, unnest(list_transform(range(0, (len(ws)+7)//8),
                 j -> {'i': j, 'l': array_to_string(ws[j*8+1:j*8+8], ' ')})) AS u
               FROM base)),
           ranked AS (
             SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
             FROM lines),
           perdoc AS (
             SELECT doc_id, count(*) AS n_kept,
                    string_agg(line, ' ' ORDER BY line_idx) AS kept_text
             FROM ranked WHERE rn = 1 GROUP BY doc_id),
           totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
           SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
                  CAST(COALESCE(p.n_kept, 0) AS BIGINT) AS n_kept,
                  COALESCE(p.kept_text, '') AS kept_text
           FROM totals t LEFT JOIN perdoc p USING (doc_id)
           ORDER BY t.doc_id""",

      // Gopher rules: rebuild the six planted variants, then re-derive
      // every metric with DuckDB list lambdas (an independent
      // formulation of the same published rule set)
      "q_quality_gopher" -> {
        val planted =
          s"""WITH base AS (
               SELECT doc_id, text, string_split(text, ' ') AS ws,
                 ${Corpus.chunksSql("string_split(text, ' ')")} AS chunks
               FROM documents WHERE doc_id < 300)
             SELECT doc_id, CASE CAST(doc_id % 6 AS INT)
               WHEN 1 THEN array_to_string(list_transform(chunks, c -> '- ' || c), chr(10))
               WHEN 2 THEN array_to_string(list_transform(chunks, c -> c || '...'), chr(10))
               WHEN 3 THEN text || repeat(' #', len(ws))
               WHEN 4 THEN array_to_string(ws[1:10], ' ')
               WHEN 5 THEN array_to_string(list_transform(ws, w -> '12345'), ' ')
               ELSE text END AS t2
             FROM base"""
        TextStats.gopherSqlSelect("t2", planted) + " ORDER BY doc_id"
      },

      // C4 cleaning: rebuild the planted multi-line text (range-indexed
      // chunk lines + conditional doc-level extra lines), re-derive the
      // line and document rules with list lambdas
      "q_c4_filter" -> {
        // DuckDB's (elem, idx) lambda is 1-BASED; Spark's is 0-based —
        // hence the j-1 on this side
        val planted =
          s"""WITH base AS (
               SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id < 300),
             lined AS (
               SELECT doc_id, list_transform(${Corpus.chunksSql("ws")}, (c, j) ->
                 c
                 || CASE WHEN (j-1) % 7 = 3 THEN ' javascript' ELSE '' END
                 || CASE WHEN (doc_id + j - 1) % 3 <> 0 THEN '.' ELSE '' END) AS ls
               FROM base)
             SELECT doc_id,
               array_to_string(list_concat(list_concat(ls,
                 CASE WHEN doc_id % 11 = 5 THEN ['config { debug }'] ELSE [] END),
                 CASE WHEN doc_id % 13 = 7 THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
                 chr(10)) AS t2
             FROM lined"""
        TextStats.c4FilterSqlSelect("t2", planted) + " ORDER BY doc_id"
      },

      // duplicated-passage coverage: rebuild the planted corpus, then
      // an independent derivation over RAW gram strings (struct-unnest
      // positions, HAVING count>=2, constant-range span expansion,
      // DISTINCT positions) — no md5 narrowing on this side
      "q_dup_spans" ->
        """WITH donor AS (
             SELECT array_to_string((string_split(text, ' '))[1:12], ' ') AS d
             FROM documents WHERE doc_id = 0),
           base AS (
             SELECT doc_id,
               CASE WHEN doc_id % 5 = 1 THEN text || ' ' || (SELECT d FROM donor)
                    ELSE text END AS t2
             FROM documents WHERE doc_id < 300),
           toks AS (SELECT doc_id, string_split(t2, ' ') AS ws FROM base),
           occ AS (
             SELECT doc_id, u['p'] AS pos, u['g'] AS g FROM (
               SELECT doc_id, unnest(list_transform(range(0, len(ws) - 7),
                 i -> {'p': i, 'g': array_to_string(ws[i+1:i+8], ' ')})) AS u
               FROM toks)),
           dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
           cov AS (
             SELECT doc_id, count(*) AS n_dup FROM (
               SELECT DISTINCT o.doc_id, o.pos + j AS p
               FROM occ o JOIN dup USING (g), range(0, 8) r(j))
             GROUP BY doc_id)
           SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
             CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup_tokens,
             CAST(COALESCE(c.n_dup, 0) * 10000 // len(t.ws) AS BIGINT) AS dup_frac_x10000,
             COALESCE(c.n_dup, 0) * 5 >= len(t.ws) AS dup_heavy
           FROM toks t LEFT JOIN cov c USING (doc_id)
           ORDER BY t.doc_id""",

      // common words: identical total order (count DESC, word ASC) for
      // the top-k; the per-doc pass is a relational join+re-aggregate
      // where Spark uses a broadcast Column filter
      "q_common_words" ->
        """WITH words AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           counts AS (SELECT w, count(*) AS c FROM words GROUP BY w),
           top AS (SELECT w FROM counts ORDER BY c DESC, w ASC LIMIT 20),
           hits AS (SELECT doc_id, count(*) AS n_common
                    FROM words JOIN top USING (w) GROUP BY doc_id)
           SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
             CAST(COALESCE(h.n_common, 0) AS BIGINT) AS n_common,
             CAST(COALESCE(h.n_common, 0) * 10000 // len(string_split(d.text, ' ')) AS BIGINT) AS common_frac_x10000,
             COALESCE(h.n_common, 0) * 5 >= len(string_split(d.text, ' ')) * 4 AS common_ok
           FROM documents d LEFT JOIN hits h USING (doc_id)
           ORDER BY d.doc_id""",

      // CCNet perplexity buckets: same add-one unigram model over the
      // English slice, same bitlen surprisal; bucketing via DuckDB's
      // BUILT-IN ntile over (mean_millibits, doc_id) — an independent
      // implementation of the rank->bucket mapping Spark derives with
      // the distributed histogram + closed form
      "q_ppl_buckets" ->
        """WITH model AS (
             SELECT w, count(*) AS mc FROM (
               SELECT unnest(string_split(text, ' ')) AS w
               FROM documents WHERE lang = 'en') GROUP BY w),
           tot AS (SELECT CAST(COALESCE(sum(mc), 0) + 1 AS BIGINT) AS m FROM model),
           words AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           scored AS (
             SELECT doc_id,
               length(bin((SELECT m FROM tot))) - length(bin(COALESCE(mc, 0) + 1)) AS bits
             FROM words LEFT JOIN model USING (w)),
           perdoc AS (
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(bits) AS BIGINT) AS total_bits
             FROM scored GROUP BY doc_id)
           SELECT doc_id, n_words, total_bits,
             CAST(total_bits * 1000 // n_words AS BIGINT) AS mean_millibits,
             CAST(ntile(3) OVER (ORDER BY total_bits * 1000 // n_words, doc_id) AS INT) AS ppl_bucket
           FROM perdoc ORDER BY doc_id""",

      // DSIR: identical md5-prefix hash arithmetic
      // (CAST('0x'||substr(md5(g),1,4) AS BIGINT) % 4096 ≙ Spark
      // conv(substr(md5(g),1,4),16,10) % 4096), full relational
      // re-derivation of both bucketed models and the weight
      "q_dsir" ->
        """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           cg AS (
             SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 4)) AS BIGINT) % 4096 AS b
             FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS g
                   FROM corpus)),
           tg AS (
             SELECT CAST(concat('0x', substr(md5(g), 1, 4)) AS BIGINT) % 4096 AS b
             FROM (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS g
                   FROM (SELECT string_split(text, ' ') AS ws FROM documents WHERE lang = 'en'))),
           rawc AS (SELECT b, count(*) AS rc FROM cg GROUP BY b),
           tgtc AS (SELECT b, count(*) AS tc FROM tg GROUP BY b),
           model AS (
             SELECT r.b,
               CAST(length(bin(COALESCE(t.tc, 0) + 1)) AS BIGINT) AS tbits,
               CAST(length(bin(r.rc + 1)) AS BIGINT) AS rbits
             FROM rawc r LEFT JOIN tgtc t USING (b)),
           tots AS (
             SELECT length(bin(CAST((SELECT COALESCE(sum(tc), 0) FROM tgtc) + 1 AS BIGINT)))
                    AS mtb,
                    length(bin(CAST((SELECT COALESCE(sum(rc), 0) FROM rawc) + 1 AS BIGINT)))
                    AS mrb),
           perdoc AS (
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(tbits) AS BIGINT) AS target_bits,
               CAST(sum(rbits) AS BIGINT) AS raw_bits
             FROM cg JOIN model USING (b) GROUP BY doc_id)
           SELECT d.doc_id,
             COALESCE(p.n_grams, 0) AS n_grams,
             COALESCE(p.target_bits, 0) AS target_bits,
             COALESCE(p.raw_bits, 0) AS raw_bits,
             COALESCE(p.target_bits, 0) - COALESCE(p.raw_bits, 0)
               + COALESCE(p.n_grams, 0) * ((SELECT mrb FROM tots) - (SELECT mtb FROM tots))
               AS weight_bits,
             COALESCE(p.target_bits, 0) - COALESCE(p.raw_bits, 0)
               + COALESCE(p.n_grams, 0) * ((SELECT mrb FROM tots) - (SELECT mtb FROM tots))
               >= 0 AS dsir_keep
           FROM documents d LEFT JOIN perdoc p USING (doc_id)
           ORDER BY d.doc_id""",

      // survivor selection: recursive-CTE closure for the clusters (as
      // q_dedup_components) + window row_number for the per-cluster
      // (weight DESC, id ASC) argmax — both sides independent of the
      // Spark label propagation / struct-min
      "q_dedup_survivors" ->
        s"""WITH RECURSIVE $ClosureCte,
           comp AS (
             SELECT node AS id, CAST(min(lab) AS BIGINT) AS label
             FROM reach GROUP BY node),
           w AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS weight FROM d),
           ranked AS (
             SELECT c.id, c.label, w.weight,
               row_number() OVER (PARTITION BY c.label
                                  ORDER BY w.weight DESC, c.id ASC) AS rn
             FROM comp c JOIN w ON c.id = w.id)
           SELECT id, label, weight, rn = 1 AS is_canonical
           FROM ranked ORDER BY id""",

      // semantic dedup composition: unblocked all-pairs cosine (the
      // Spark side goes through banded SRP-LSH), recursive-CTE
      // closure, window argmax with weights from the documents table
      "q_semdedup" ->
        s"""WITH RECURSIVE ${plantedCorpusSql(300, 1, 10000)},
           prs AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b
             FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
             WHERE list_cosine_similarity(a.v, b.v) >= 0.8),
           e AS (SELECT id_a AS a, id_b AS b FROM prs
                 UNION ALL SELECT id_b, id_a FROM prs),
           reach(node, lab) AS (
             SELECT vec_id, vec_id FROM corpus
             UNION
             SELECT e.b, r.lab FROM reach r JOIN e ON e.a = r.node),
           comp AS (
             SELECT node AS id, CAST(min(lab) AS BIGINT) AS label
             FROM reach GROUP BY node),
           w AS (
             SELECT c.vec_id AS id, CAST(d.n_chars AS BIGINT) AS weight
             FROM corpus c JOIN documents d ON c.vec_id % 10000 = d.doc_id),
           ranked AS (
             SELECT c.id, c.label, w.weight,
               row_number() OVER (PARTITION BY c.label
                                  ORDER BY w.weight DESC, c.id ASC) AS rn
             FROM comp c JOIN w ON c.id = w.id)
           SELECT id, label, weight, rn = 1 AS is_canonical
           FROM ranked ORDER BY id""",

      // token budget: window running sum vs Spark's distributed
      // prefix-sum stamping; budget = half the corpus tokens, derived
      // identically on both sides
      // placement = md5-prefix hash of the decimal id, mod 5; per-shard
      // rows by a count window — the export, manifest, and verified
      // load must all agree with this arithmetic
      "q_shard_manifest" ->
        """WITH p AS (
             SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INT) AS shard
             FROM documents WHERE doc_id < 500)
           SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
                  CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_rows
           FROM p ORDER BY doc_id""",

      "q_token_budget" ->
        """WITH meta AS (
             SELECT doc_id, CAST(n_chars AS BIGINT) AS priority,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents),
           budget AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS b FROM meta),
           cum AS (
             SELECT doc_id, priority, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY priority DESC, doc_id ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM meta)
           SELECT doc_id, priority, n_tokens, cum_tokens,
             cum_tokens <= (SELECT b FROM budget) AS in_budget
           FROM cum ORDER BY doc_id""",

      // e2e pipeline: rebuild the planted corpus, then the whole chain
      // in SQL — dedup grouped by the RAW text (not md5), gopher via
      // the rule-set builder, redaction + lang-id + BPE count inline
      "q_pipeline_e2e" -> {
        val lang = TextStats.langIdSql("r.redacted")
        s"""WITH all_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 400
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 400),
            planted AS (
              SELECT doc_id, CASE WHEN (doc_id % 10000) % 9 = 4
                THEN 'contact user' || (doc_id % 10000) || '@example.com ' || text
                ELSE text END AS t2
              FROM all_docs),
            firsts AS (SELECT t2, min(doc_id) AS first_id FROM planted GROUP BY t2),
            gop AS (${TextStats.gopherSqlSelect("t2", "SELECT doc_id, t2 FROM planted")}),
            red AS (SELECT doc_id, ${TextStats.redactedSqlExpr("t2")} AS redacted FROM planted)
            SELECT doc_id, gopher_ok, is_first, lang, n_tokens_bpe, redacted,
              (gopher_ok AND is_first AND lang <> 'und') AS kept
            FROM (
              SELECT p.doc_id, g.gopher_ok, p.doc_id = f.first_id AS is_first,
                $lang AS lang,
                ${TextStats.bpeTokenCountSql("r.redacted")} AS n_tokens_bpe,
                r.redacted AS redacted
              FROM planted p
              JOIN firsts f ON p.t2 = f.t2
              JOIN gop g ON p.doc_id = g.doc_id
              JOIN red r ON p.doc_id = r.doc_id)
            ORDER BY doc_id"""
      },

      // chat-template rendering: window running sum for offsets,
      // string_agg ORDER BY + md5 for the whole-string witness —
      // independent derivations of the arithmetic AND the concat
      "q_chat_render" -> renderOracleSql(
        s"$cte, base AS (SELECT conv_id, turn_idx, role, text FROM turns)"),

      // extraction → formatting composition: the SAME render oracle
      // over the closed-form EXTRACTED text (ExpectedExtractedSql —
      // the x1_extract invariant), so the document-AI layer and the
      // training-format layer are proven to compose end-to-end
      "q_train_e2e" -> renderOracleSql(
        s"""$cte, base AS (
              SELECT conv_id, turn_idx, role,
                (${Turns.ExpectedExtractedSql}) AS text
              FROM turns)"""),

      // greedy packing replayed as per-conversation linear recursion
      // (join on turn_idx + 1 advances exactly one turn per step)
      "q_pack_samples" ->
        s"""WITH RECURSIVE turns AS (${Turns.CoreSql}),
           t AS (SELECT conv_id, turn_idx,
                   CAST(length(string_split(text, ' ')) AS INT) AS tok
                 FROM turns),
           walk AS (
             SELECT conv_id, turn_idx, tok, 0 AS sample_idx,
               CAST(tok AS BIGINT) AS acc
             FROM t WHERE turn_idx = 0
             UNION ALL
             SELECT t.conv_id, t.turn_idx, t.tok,
               CASE WHEN w.acc + t.tok > 60 THEN w.sample_idx + 1
                    ELSE w.sample_idx END,
               CASE WHEN w.acc + t.tok > 60 THEN CAST(t.tok AS BIGINT)
                    ELSE w.acc + t.tok END
             FROM walk w JOIN t
               ON t.conv_id = w.conv_id AND t.turn_idx = w.turn_idx + 1)
           SELECT conv_id, turn_idx, CAST(sample_idx AS INT) AS sample_idx,
             tok
           FROM walk""",

      // transcript linting: contiguity via the arithmetic-series sum,
      // assistant runs via self-join — Spark derives both differently
      "q_transcript_lint" ->
        s"""$cte, t AS (
             SELECT conv_id, turn_idx, role, text, tool FROM turns
             UNION ALL
             SELECT * FROM (VALUES $LintBadRows)
               v(conv_id, turn_idx, role, text, tool)),
           runs AS (
             SELECT a.conv_id, count(DISTINCT a.turn_idx) AS ar
             FROM t a JOIN t b
               ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx + 1
              AND a.role = 'assistant' AND b.role = 'assistant'
             GROUP BY a.conv_id),
           agg AS (
             SELECT conv_id, count(*) AS n,
               CAST(sum(turn_idx) AS BIGINT) AS s,
               max(turn_idx) AS mx, count(DISTINCT turn_idx) AS nd,
               arg_min(role, turn_idx) AS fr,
               min(length(text)) AS mintl,
               min(CASE WHEN tool = '' OR role = 'tool' THEN 1 ELSE 0 END) AS tk
             FROM t GROUP BY conv_id)
           SELECT a.conv_id, CAST(a.n AS INT) AS n_turns,
             (a.fr IN ('user', 'system')) AS starts_ok,
             (a.nd = a.n AND a.mx = a.n - 1
              AND a.s = a.n * (a.n - 1) // 2) AS contiguous_ok,
             (a.mintl > 0) AS no_empty_text,
             (a.tk = 1) AS tool_ok,
             CAST(COALESCE(r.ar, 0) AS INT) AS assistant_runs,
             (a.fr IN ('user', 'system') AND a.nd = a.n AND a.mx = a.n - 1
              AND a.s = a.n * (a.n - 1) // 2 AND a.mintl > 0
              AND a.tk = 1) AS lint_ok
           FROM agg a LEFT JOIN runs r USING (conv_id)""",

      // context trimming: suffix sums via self-join aggregation (the
      // Spark side uses a window frame — independent formulations)
      "q_context_trim" ->
        s"""$cte, t AS (
             SELECT conv_id, turn_idx,
               CAST(length(string_split(text, ' ')) AS INT) AS tok
             FROM turns),
           s AS (
             SELECT a.conv_id, a.turn_idx, sum(b.tok) AS st
             FROM t a JOIN t b
               ON b.conv_id = a.conv_id AND b.turn_idx >= a.turn_idx
             GROUP BY a.conv_id, a.turn_idx)
           SELECT t.conv_id, t.turn_idx, t.tok,
             CAST(s.st AS BIGINT) AS suffix_tokens,
             (s.st <= 120) AS kept
           FROM t JOIN s ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx""",

      // incremental dedup: membership decided on the RAW text —
      // independent of the md5 narrowing and of the Bloom prefilter
      "q_dedup_incremental" ->
        """SELECT d.doc_id,
             (d.text IN (SELECT text FROM documents WHERE doc_id % 2 = 0)) AS is_dup
           FROM documents d""",

      // near-dup verdicts and best-match ids stated by the planted
      // construction: odd batch docs were BUILT as a history text plus
      // a tail (their best match is the source, agreement ~0.94 ≥ 0.8
      // with ~6σ margin over 64 hashes), even docs were built fresh
      // (cross-Jaccard ~1e-2 — never a band candidate)
      "q_dedup_incremental_near" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
             doc_id % 2 = 1 AS is_neardup,
             CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id * 7) % 300 ELSE -1 END AS BIGINT) AS hist_id
           FROM documents WHERE doc_id >= 300 AND doc_id < 800
           ORDER BY doc_id""",

      // quota sampling: identical integer Lehmer-hash arithmetic, CASE
      // rate table, row_number window for the exact-quota verdict
      "q_sample_quota" ->
        """WITH h AS (
             SELECT doc_id, lang AS stratum,
               ((doc_id % 2147483648) * 48271) % 2147483647 % 1000 AS sk
             FROM documents)
           SELECT doc_id, stratum, CAST(sk AS INT) AS sample_key,
             sk < (CASE stratum WHEN 'en' THEN 500 WHEN 'de' THEN 300
                   WHEN 'es' THEN 200 WHEN 'fr' THEN 100 ELSE 50 END) AS kept_rate,
             row_number() OVER (PARTITION BY stratum ORDER BY sk, doc_id) <= 30 AS kept_rank
           FROM h ORDER BY doc_id""",

      "x6_lang" ->
        s"""$cte SELECT conv_id, turn_idx,
            ${TextStats.langIdSql("(" + Turns.ExpectedExtractedSql + ")")} AS lang_id FROM turns""",

      "x8_conv_rollup" ->
        s"""$cte SELECT conv_id, count(*) AS n_turns,
            CAST(sum(length(${Turns.ExpectedExtractedSql})) AS BIGINT) AS sum_chars,
            CAST(sum(${Turns.ExpectedWordCountSql}) AS BIGINT) AS sum_words
            FROM turns GROUP BY conv_id""",

      "x7_tool" ->
        s"""$cte SELECT conv_id, turn_idx, concat('search ', source) AS tool_text
            FROM turns WHERE doc_id % 4 = 2""",

      "q_eval_lang_confusion" ->
        s"""SELECT gold, predicted, count(*) AS n FROM (
              SELECT lang AS gold, ${TextStats.langIdSql("text")} AS predicted FROM documents)
            GROUP BY gold, predicted ORDER BY gold, predicted""",

      "q_eval_prf" ->
        s"""WITH j AS (
              SELECT CAST(${TextStats.langIdSql("text")} = 'en' AS INT) AS pp,
                     CAST(lang = 'en' AS INT) AS gp FROM documents)
            SELECT CAST(sum(pp * gp) AS BIGINT) AS tp,
                   CAST(sum(pp * (1 - gp)) AS BIGINT) AS fp,
                   CAST(sum((1 - pp) * gp) AS BIGINT) AS fn,
                   round(sum(pp * gp) / greatest(sum(pp * gp) + sum(pp * (1 - gp)), 1), 4) AS precision,
                   round(sum(pp * gp) / greatest(sum(pp * gp) + sum((1 - pp) * gp), 1), 4) AS recall,
                   round(2 * sum(pp * gp) / greatest(2 * sum(pp * gp) + sum(pp * (1 - gp)) + sum((1 - pp) * gp), 1), 4) AS f1
            FROM j""",
      "q_quality" -> TextStats.QualitySqlSelect,

      "q_eval_prf_by_cat" ->
        s"""WITH j AS (SELECT ${TextStats.langIdSql("text")} AS p, lang AS g FROM documents),
            labels AS (SELECT p AS label FROM j UNION SELECT g FROM j),
            t AS (SELECT g AS label, count(*) AS tp FROM j WHERE p = g GROUP BY g),
            pc AS (SELECT p AS label, count(*) AS n_pred FROM j GROUP BY p),
            gc AS (SELECT g AS label, count(*) AS n_gold FROM j GROUP BY g),
            base AS (
              SELECT l.label, coalesce(t.tp, 0) AS tp,
                     coalesce(pc.n_pred, 0) AS n_pred, coalesce(gc.n_gold, 0) AS n_gold
              FROM labels l LEFT JOIN t USING (label)
                LEFT JOIN pc USING (label) LEFT JOIN gc USING (label)),
            pr AS (
              SELECT label, tp, n_pred, n_gold,
                CASE WHEN n_pred = 0 THEN 1.0 ELSE CAST(tp AS DOUBLE) / n_pred END AS p_raw,
                CASE WHEN n_gold = 0 THEN 1.0 ELSE CAST(tp AS DOUBLE) / n_gold END AS r_raw
              FROM base)
            SELECT label, CAST(tp AS BIGINT) AS tp, CAST(n_pred AS BIGINT) AS n_pred,
                   CAST(n_gold AS BIGINT) AS n_gold,
                   round(p_raw, 6) AS prec, round(r_raw, 6) AS rec,
                   round(CASE WHEN p_raw + r_raw = 0 THEN 0.0
                         ELSE 2 * p_raw * r_raw / (p_raw + r_raw) END, 6) AS f1
            FROM pr ORDER BY label""",

      // full closed-form COCO oracle: the synthetic fixture (integer-
      // derived boxes/scores), single-gt greedy matching as a window,
      // and the 101-point interpolated AP — all replicated in DuckDB
      "q_eval_map" ->
        """WITH cells AS (
             SELECT doc_id AS img, c.cat FROM documents, (VALUES (1),(2)) c(cat)
             WHERE doc_id < 200),
           geo AS (
             SELECT img, cat,
               CAST(20 + (img + cat) % 10 AS DOUBLE) AS w,
               CAST(20 + (img + cat*2) % 7 AS DOUBLE) AS h
             FROM cells),
           det AS (
             SELECT img, cat, img*10 + cat*2 + d.which AS det_id,
               CAST(CASE WHEN d.which = 0 THEN (img*37 + cat*101) % 1000
                         ELSE (img*53 + cat*211) % 1000 END AS DOUBLE)
                 / CAST(1000 AS DOUBLE) AS score,
               CASE WHEN d.which = 0 THEN CAST((img + cat) % 12 AS DOUBLE)
                    ELSE CAST(5 + (img*3 + cat) % 25 AS DOUBLE) END AS s,
               w, h
             FROM geo, (VALUES (0),(1)) d(which)),
           iou AS (
             SELECT img, cat, det_id, score,
               CASE WHEN w - s > 0 THEN (w - s) * h / (w*h + w*h - (w - s)*h)
                    ELSE 0.0 END AS iou
             FROM det),
           thrs AS (SELECT CAST(t.thr AS DOUBLE) AS thr FROM (VALUES (0.5),(0.75)) t(thr)),
           m AS (
             SELECT i.cat, t.thr, i.det_id, i.score,
               CASE WHEN i.iou >= t.thr AND row_number() OVER (
                   PARTITION BY i.img, i.cat, t.thr, (i.iou >= t.thr)
                   ORDER BY i.score DESC, i.det_id) = 1
                 THEN 1 ELSE 0 END AS tp
             FROM iou i, thrs t),
           r AS (
             SELECT cat, thr, det_id, score, tp,
               row_number() OVER (PARTITION BY cat, thr ORDER BY score DESC, det_id) AS rn,
               sum(tp) OVER (PARTITION BY cat, thr ORDER BY score DESC, det_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtp
             FROM m),
           p AS (
             SELECT cat, thr, rn, cumtp,
               max(CAST(cumtp AS DOUBLE) / rn) OVER (PARTITION BY cat, thr
                 ORDER BY score DESC, det_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pmax,
               coalesce(lag(cumtp) OVER (
                 PARTITION BY cat, thr ORDER BY score DESC, det_id), 0) AS prev_cumtp
             FROM r)
           SELECT cat, thr, CAST(200 AS BIGINT) AS n_gt,
             round(sum(pmax * (((cumtp*100) // 200) - ((prev_cumtp*100) // 200) +
               CASE WHEN rn = 1 THEN 1 ELSE 0 END)) / 101.0, 6) AS ap,
             round(max(cumtp) / CAST(200 AS DOUBLE), 6) AS ar
           FROM p GROUP BY cat, thr ORDER BY cat, thr""",

      // area-range + maxDets twin: AR@1 = is the cell's top-scoring
      // detection a match; AP-small = the full AP machinery restricted
      // to cells with area < 550 (exact for this fixture, see query)
      "q_eval_map_areas" ->
        """WITH cells AS (
             SELECT doc_id AS img, c.cat FROM documents, (VALUES (1),(2)) c(cat)
             WHERE doc_id < 200),
           geo AS (
             SELECT img, cat,
               CAST(20 + (img + cat) % 10 AS DOUBLE) AS w,
               CAST(20 + (img + cat*2) % 7 AS DOUBLE) AS h
             FROM cells),
           det AS (
             SELECT img, cat, img*10 + cat*2 + d.which AS det_id,
               CAST(CASE WHEN d.which = 0 THEN (img*37 + cat*101) % 1000
                         ELSE (img*53 + cat*211) % 1000 END AS DOUBLE)
                 / CAST(1000 AS DOUBLE) AS score,
               CASE WHEN d.which = 0 THEN CAST((img + cat) % 12 AS DOUBLE)
                    ELSE CAST(5 + (img*3 + cat) % 25 AS DOUBLE) END AS s,
               w, h
             FROM geo, (VALUES (0),(1)) d(which)),
           iou AS (
             SELECT img, cat, det_id, score, w*h AS area,
               CASE WHEN w - s > 0 THEN (w - s) * h / (w*h + w*h - (w - s)*h)
                    ELSE 0.0 END AS iou
             FROM det),
           mall AS (
             SELECT i.cat, i.img, i.iou,
               row_number() OVER (PARTITION BY i.img, i.cat
                 ORDER BY i.score DESC, i.det_id) AS rk,
               CASE WHEN i.iou >= 0.5 AND row_number() OVER (
                   PARTITION BY i.img, i.cat, (i.iou >= 0.5)
                   ORDER BY i.score DESC, i.det_id) = 1
                 THEN 1 ELSE 0 END AS tp
             FROM iou i),
           ar AS (
             SELECT cat,
               CAST(sum(CASE WHEN rk = 1 AND iou >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(200 AS DOUBLE) AS ar1,
               CAST(sum(tp) AS DOUBLE) / CAST(200 AS DOUBLE) AS ar100
             FROM mall GROUP BY cat),
           gs AS (SELECT cat, count(*) AS ng FROM geo WHERE w*h < 550 GROUP BY cat),
           ms AS (
             SELECT i.cat, i.det_id, i.score,
               CASE WHEN i.iou >= 0.5 AND row_number() OVER (
                   PARTITION BY i.img, i.cat, (i.iou >= 0.5)
                   ORDER BY i.score DESC, i.det_id) = 1
                 THEN 1 ELSE 0 END AS tp
             FROM iou i WHERE i.area < 550),
           rs AS (
             SELECT cat, det_id, score, tp,
               row_number() OVER (PARTITION BY cat ORDER BY score DESC, det_id) AS rn,
               sum(tp) OVER (PARTITION BY cat ORDER BY score DESC, det_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtp
             FROM ms),
           ps AS (
             SELECT cat, rn, cumtp,
               max(CAST(cumtp AS DOUBLE) / rn) OVER (PARTITION BY cat
                 ORDER BY score DESC, det_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pmax,
               coalesce(lag(cumtp) OVER (PARTITION BY cat
                 ORDER BY score DESC, det_id), 0) AS prev_cumtp
             FROM rs),
           aps AS (
             SELECT p.cat,
               round(sum(p.pmax * (((p.cumtp*100) // g.ng) - ((p.prev_cumtp*100) // g.ng) +
                 CASE WHEN p.rn = 1 THEN 1 ELSE 0 END)) / 101.0, 6) AS ap_small
             FROM ps p JOIN gs g ON p.cat = g.cat GROUP BY p.cat)
           SELECT g.cat, CAST(0.5 AS DOUBLE) AS thr, CAST(g.ng AS BIGINT) AS n_gt_small,
             a.ap_small, round(r.ar1, 6) AS ar_at_1, round(r.ar100, 6) AS ar_at_100
           FROM gs g JOIN aps a ON g.cat = a.cat JOIN ar r ON g.cat = r.cat
           ORDER BY g.cat""",

      "q_eval_run" ->
        s"""$cte SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_joined,
            CAST(sum(CASE WHEN turn_idx % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_text_match,
            CAST(sum(CASE WHEN turn_idx % 5 <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_match,
            round(CAST(sum(CASE WHEN turn_idx % 7 <> 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS text_accuracy,
            round(CAST(sum(CASE WHEN turn_idx % 5 <> 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS lang_accuracy
            FROM turns""",

      "q_dedup_minhash" ->
        """WITH d AS (
             SELECT doc_id, text FROM documents WHERE doc_id < 200
             UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200
           ),
           sh AS (
             SELECT doc_id AS id, list_distinct(list_transform(
               range(1, greatest(length(lower(regexp_replace(text, '\s+', ' ', 'g'))) - 2, 1) + 1),
               i -> substring(lower(regexp_replace(text, '\s+', ' ', 'g')), i, 3))) AS s
             FROM d)
           SELECT a.id AS id_a, b.id AS id_b,
                  round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
                        length(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
           FROM sh a JOIN sh b ON a.id < b.id
           WHERE CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
                 length(list_distinct(list_concat(a.s, b.s))) >= 0.95
           ORDER BY id_a, id_b""",

      // connected components as a recursive transitive closure — an
      // INDEPENDENT algorithm from the Spark side's label propagation
      "q_dedup_components" ->
        s"""WITH RECURSIVE $ClosureCte
           SELECT node AS id, CAST(min(lab) AS BIGINT) AS label
           FROM reach GROUP BY node ORDER BY id""",

      // identical closure oracle for the large-star/small-star path —
      // an independent THIRD derivation of the same cluster labels
      "q_dedup_components_lss" ->
        s"""WITH RECURSIVE $ClosureCte
           SELECT node AS id, CAST(min(lab) AS BIGINT) AS label
           FROM reach GROUP BY node ORDER BY id""",

      // UNBLOCKED all-pairs oracle — the Spark side's log-size blocking
      // must lose nothing (round 1's oracle replicated the blocking, so
      // green did not mean complete)
      "q_dedup_ngram" ->
        """WITH base AS (
             SELECT doc_id AS id,
               list_distinct(list_transform(
                 range(1, greatest(length(lower(regexp_replace(text, '\s+', ' ', 'g'))) - 2, 1) + 1),
                 i -> substring(lower(regexp_replace(text, '\s+', ' ', 'g')), i, 3))) AS s
             FROM documents WHERE doc_id < 150)
           SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
             SELECT a.id AS id_a, b.id AS id_b,
               CAST(length(list_intersect(a.s, b.s)) AS DOUBLE) /
               length(list_distinct(list_concat(a.s, b.s))) AS j
             FROM base a JOIN base b ON a.id < b.id)
           WHERE j >= 0.5 ORDER BY id_a, id_b""",

      // UNBLOCKED oracle: pairs with equal lowercase token multiset —
      // the exact predicate simhashExactPairs verifies after its
      // (lossless for this predicate) simhash-band blocking
      "q_dedup_simhash" ->
        """WITH d AS (
             SELECT doc_id, text FROM documents WHERE doc_id < 200
             UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200),
           b AS (
             SELECT doc_id AS id,
               array_to_string(list_sort(string_split(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), ' ') AS bag
             FROM d)
           SELECT a.id AS id_a, b2.id AS id_b
           FROM b a JOIN b b2 ON a.bag = b2.bag AND a.id < b2.id
           ORDER BY id_a, id_b""",

      "q_ann_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                      FROM embeddings WHERE vec_id < 10),
           scored AS (
             SELECT q.query_id, e.vec_id AS corpus_id,
                    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
             FROM embeddings e, q WHERE q.query_id <> e.vec_id),
           ranked AS (
             SELECT query_id, corpus_id, cos,
                    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS INT) AS rank
             FROM scored)
           SELECT query_id, rank, corpus_id, round(cos, 4) AS cos
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

      // UNBLOCKED brute-force oracle for the multi-table LSH ANN: the
      // planted neighbors (cos ≥ 0.99) are exactly the true top-5
      "q_ann_lsh" ->
        s"""WITH ${plantedCorpusSql(20, 5, 1000)},
           q AS (SELECT vec_id AS query_id, v AS qv FROM src WHERE vec_id < 20),
           scored AS (
             SELECT q.query_id, c.vec_id AS corpus_id,
                    list_cosine_similarity(q.qv, c.v) AS cos
             FROM corpus c, q WHERE q.query_id <> c.vec_id),
           ranked AS (
             SELECT query_id, corpus_id, cos,
                    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS INT) AS rank
             FROM scored)
           SELECT query_id, rank, corpus_id, round(cos, 4) AS cos
           FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

      // threshold assertion: LSH recall@5 vs the brute-force twin must
      // be 100/100 on the planted data (expected values are constants)
      "q_ann_lsh_recall" ->
        """SELECT CAST(100 AS BIGINT) AS n_true, CAST(100 AS BIGINT) AS n_hit,
                  TRUE AS recall_ok""",

      "q_ann_ivf_recall" ->
        """SELECT CAST(100 AS BIGINT) AS n_true, CAST(100 AS BIGINT) AS n_hit,
                  TRUE AS recall_ok""",

      // UNBLOCKED all-pairs oracle over corpus ∪ planted near-dups
      "q_embed_neardup" ->
        s"""WITH ${plantedCorpusSql(500, 1, 10000)},
           pairs AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    list_cosine_similarity(a.v, b.v) AS cos
             FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
           SELECT id_a, id_b, round(cos, 4) AS cos
           FROM pairs WHERE cos >= 0.8 ORDER BY id_a, id_b""",

      "q_zip_join" ->
        """WITH o AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders),
                c AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer)
           SELECT o.rn AS rn, o_orderkey, c_custkey FROM o JOIN c ON o.rn = c.rn""",

      "q_batch" ->
        """SELECT batch_id, count(*) AS n, round(sum(l_quantity), 2) AS qty FROM (
             SELECT l_quantity, CAST(floor((row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) / 1000) AS INT) AS batch_id
             FROM lineitem)
           GROUP BY batch_id""",

      "q_repeat" ->
        """SELECT lang, count(*) AS n FROM (
             SELECT lang FROM documents UNION ALL SELECT lang FROM documents
             UNION ALL SELECT lang FROM documents) GROUP BY lang""",

      "q_limit_sample" ->
        """SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id % 10 < 3 ORDER BY doc_id LIMIT 50""",

      "q_mapcomponent" ->
        """SELECT c_custkey, upper(c_name) AS name_upper,
                  CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents FROM customer""",

      "q_rollup" ->
        """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
                  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
           FROM documents GROUP BY ROLLUP (lang, source)""",

      // each event belongs to the two 10-minute windows whose starts are
      // the two preceding 5-minute marks (epoch-aligned, like Spark's)
      "q_window_sliding" ->
        """SELECT w, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           FROM (
             SELECT time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS w,
                    event_type, value
             FROM events, (VALUES (0), (1)) k(k))
           GROUP BY w, event_type""",

      "q_window_agg" ->
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS w, event_type,
                  count(*) AS n, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2""",

      "q_sessionize" ->
        """WITH e AS (
             SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
             FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           s AS (
             SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM e)
           SELECT user_id, CAST(session_idx AS INT) AS session_idx,
                  min(ts) AS session_start, max(ts) AS session_end,
                  count(*) AS n_events, round(sum(value), 2) AS sum_value
           FROM s GROUP BY user_id, session_idx""",

      // tpl 4: relabeling one of 11 nodes → 10/11; tpl 11's two tables
      // contain no '<td>lang</td>' so the corruption is a no-op → 1.0
      "q_eval_teds" ->
        s"""$cte SELECT conv_id, turn_idx, round(CAST(10 AS DOUBLE) / 11, 6) AS teds
            FROM turns WHERE doc_id % 12 = 4
            UNION ALL
            SELECT conv_id, turn_idx, CAST(1.0 AS DOUBLE)
            FROM turns WHERE doc_id % 12 = 11
            UNION ALL
            SELECT conv_id, turn_idx, CAST(1.0 AS DOUBLE)
            FROM turns WHERE doc_id % 12 = 11""",

      "q_coco_prejoin" ->
        """WITH imgs AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
           anns AS (
             SELECT doc_id*10 + k AS ann_id, doc_id AS image_id
             FROM documents, range(0, 3) t(k)
             WHERE doc_id < 100 AND k < doc_id % 3)
           SELECT i.id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_anns,
                  CAST(coalesce(a.first_id, -1) AS BIGINT) AS first_ann_id,
                  coalesce(a.first_label, 'none') AS first_label
           FROM imgs i LEFT JOIN (
             SELECT image_id, count(*) AS n, min(ann_id) AS first_id,
               CASE 1 + image_id % 5 WHEN 1 THEN 'text' WHEN 2 THEN 'title'
                 WHEN 3 THEN 'list' WHEN 4 THEN 'table' ELSE 'figure' END AS first_label
             FROM anns GROUP BY image_id) a ON i.id = a.image_id""",

      // DuckDB nfc_normalize + newline replace = the kernel's
      // normalization; the remapped raw span of "Café" is closed-form
      "q_normalize_remap" ->
        """WITH r AS (
             SELECT doc_id,
               'Cafe' || chr(769) || ' of' || chr(13) || chr(10) || text AS raw
             FROM documents)
           SELECT doc_id,
             nfc_normalize(replace(raw, chr(13) || chr(10), chr(10))) AS norm,
             CAST(length(raw) AS INT) AS raw_len,
             CAST(length(nfc_normalize(replace(raw, chr(13) || chr(10), chr(10)))) AS INT) AS norm_len,
             CAST(0 AS INT) AS raw_begin, CAST(5 AS INT) AS raw_end
           FROM r""",

      // the kept-block word multiset == the expected extracted text
      // split on whitespace (block texts are space-joined words,
      // blocks newline-joined), so the class histogram is stated
      // independently from the generator
      "q_token_class" ->
        s"""$cte SELECT token_class, count(*) AS n FROM (
              SELECT ${graft.operators.Lm.heuristicTokenClassSql("w")} AS token_class FROM (
                SELECT unnest(string_split(replace(${Turns.ExpectedExtractedSql}, chr(10), ' '), ' ')) AS w
                FROM turns))
            GROUP BY token_class ORDER BY token_class""",

      // tpl 7's blocks have pinned geometry: B(0,0,88,20)
      // A(0,200,72,220) Bm(340,210,404,230) C(680,220,768,240) in the
      // 1000×1000 frame; 90° CW maps (ulx,uly,lrx,lry) →
      // (1000−lry, ulx, 1000−uly, lrx)
      "x9_rotate" ->
        s"""$cte, t7 AS (SELECT conv_id, turn_idx FROM turns WHERE doc_id % 12 = 7)
           SELECT conv_id, turn_idx, CAST(1 AS INT) AS reading_order,
                  'Banner head' AS text, CAST(980 AS INT) AS ulx, CAST(0 AS INT) AS uly,
                  CAST(1000 AS INT) AS lrx, CAST(88 AS INT) AS lry FROM t7
           UNION ALL SELECT conv_id, turn_idx, CAST(2 AS INT), 'alpha one',
                  CAST(780 AS INT), CAST(0 AS INT), CAST(800 AS INT), CAST(72 AS INT) FROM t7
           UNION ALL SELECT conv_id, turn_idx, CAST(3 AS INT), 'beta two',
                  CAST(770 AS INT), CAST(340 AS INT), CAST(790 AS INT), CAST(404 AS INT) FROM t7
           UNION ALL SELECT conv_id, turn_idx, CAST(4 AS INT), 'gamma three',
                  CAST(760 AS INT), CAST(680 AS INT), CAST(780 AS INT), CAST(768 AS INT) FROM t7""",

      // fixed payload → the caption's nearest text parent is always
      // the adjacent 'alpha para' block (the far-away body is 400px+
      // below); stated as constants per input doc
      "q_layout_link" ->
        """SELECT concat('link-', doc_id) AS conv_id, 'cap text' AS caption_text,
                  'alpha para' AS linked_text
           FROM documents WHERE doc_id < 100""",

      // the PDF kernel's extracted text stated from doc_id alone —
      // every decode variant (plain/Flate/CID/RC4/AESV2/AESV3-R6)
      // must produce the identical strings
      "q_pdf_split" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(p.p AS INT) AS page_no,
                  concat(CASE p.p WHEN 1 THEN 'alpha page of doc ' ELSE 'beta page of doc ' END,
                         CAST(doc_id AS BIGINT)) AS text
           FROM documents, (VALUES (1), (2)) p(p)
           WHERE doc_id < 200 ORDER BY doc_id, page_no""",

      // emitted standalone pages re-parse to the SAME closed-form
      // text as the source document's pages (q_pdf_split's oracle)
      "q_pdf_emit" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(p.p AS INT) AS page_no,
                  concat(CASE p.p WHEN 1 THEN 'alpha page of doc ' ELSE 'beta page of doc ' END,
                         CAST(doc_id AS BIGINT)) AS text
           FROM documents, (VALUES (1), (2)) p(p)
           WHERE doc_id < 200 ORDER BY doc_id, page_no""",

      // word boxes re-derived from the fixture's layout arithmetic:
      // per-char advance (400 + ascii%5·50)·12 millipoints, TJ gaps
      // 3600, line 0 baseline 700 / line 1 684 (TL 16) / footer Tm at
      // 100; top = (792 − baseline − 12)·1000, bottom = (792 −
      // baseline)·1000 — fully independent of the Scala walker
      "q_pdf_words" ->
        """WITH w(word_no, line_no, idx_in_line, base) AS (VALUES
             (0, 0, 0, 'lorem'), (1, 0, 1, 'ipsum#'), (2, 0, 2, 'dolor'),
             (3, 1, 0, 'sit'),   (4, 1, 1, 'amet#'),  (5, 1, 2, 'word'),
             (6, 2, 0, 'fin#')),
           words AS (
             SELECT d.doc_id, w.word_no, w.line_no, w.idx_in_line,
                    replace(w.base, '#', CAST(CAST(d.doc_id AS BIGINT) AS VARCHAR)) AS text
             FROM documents d, w WHERE d.doc_id < 200),
           adv AS (
             SELECT *, CAST(list_sum(list_transform(regexp_extract_all(text, '.'),
                    c -> (400 + (ascii(c) % 5) * 50) * 12)) AS BIGINT) AS advance
             FROM words),
           pos AS (
             SELECT *, 50000 + CAST(COALESCE(SUM(advance + 3600) OVER (
                    PARTITION BY doc_id, line_no ORDER BY idx_in_line
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS x0_mil
             FROM adv)
           SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(1 AS INT) AS page_no,
                  CAST(word_no AS INT) AS word_no, text,
                  CAST(x0_mil AS BIGINT) AS x0_mil,
                  CAST(CASE line_no WHEN 0 THEN 80000 WHEN 1 THEN 96000 ELSE 680000 END AS BIGINT) AS top_mil,
                  CAST(x0_mil + advance AS BIGINT) AS x1_mil,
                  CAST(CASE line_no WHEN 0 THEN 92000 WHEN 1 THEN 108000 ELSE 692000 END AS BIGINT) AS bot_mil
           FROM pos ORDER BY doc_id, word_no""",

      // reading order stated closed-form: the two-column fixture must
      // read the left column fully (top to bottom) before the right;
      // line_no carries group_words_into_lines' reference-inverted
      // numbering (top row = numberRows = 3)
      "q_pdf_reading_order" ->
        """WITH w(ord, line_no, base) AS (VALUES
             (1, 3, 'alpha'), (2, 2, 'beta#'), (3, 1, 'gamma'),
             (4, 3, 'delta'), (5, 2, 'eps#'),  (6, 1, 'zeta'))
           SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                  CAST(w.ord AS INT) AS reading_order,
                  CAST(w.line_no AS INT) AS line_no,
                  replace(w.base, '#', CAST(CAST(d.doc_id AS BIGINT) AS VARCHAR)) AS text
           FROM documents d, w WHERE d.doc_id < 200
           ORDER BY doc_id, reading_order""",

      // image dims stated closed-form: the JPEG round-trip (ImageIO
      // encode in the generator, kernel DCT decode in extraction)
      // must preserve the exact pixel dimensions and channel count;
      // variant doc_id%6 = Flate / JPEG / CCITT-G4 / RunLength /
      // inline BI / inline JPEG without /L — only G4 (v2) is bitonal,
      // the two DCT variants (v1, v5) report 'jpeg'
      "q_pdf_images" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(8 + doc_id % 5 AS INT) AS width,
                  CAST(6 + doc_id % 3 AS INT) AS height,
                  CAST(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 3 END AS INT) AS channels,
                  CAST(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 8 END AS INT) AS bpc,
                  CASE WHEN doc_id % 6 IN (1, 5) THEN 'jpeg' ELSE 'raw' END AS format
           FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

      // the estimator's recovered angle equals the planted one (the
      // generator constants), stated by DuckDB without running any
      // estimation — TransformSpec pins the ≤0.4° error bound that
      // makes integer rounding exact
      "q_deskew" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) * (3 + doc_id % 7) AS BIGINT) AS angle_deg
           FROM documents WHERE doc_id < 120 ORDER BY doc_id""",

      // the checkpointed run must reproduce the direct per-turn
      // expectations in aggregate (zero parse failures by construction)
      "q_checkpoint" ->
        s"""$cte SELECT CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(${Turns.ExpectedWordCountSql}) AS BIGINT) AS n_words,
               CAST(0 AS BIGINT) AS n_failed
            FROM turns WHERE turn_idx < 24""",

      // doc_class derived independently from the expected extracted
      // text expression (same lock-step-by-construction design as
      // q_token_class)
      "q_seq_class" ->
        s"""$cte SELECT ${graft.operators.Lm.heuristicSeqClassSql(
               s"(${Turns.ExpectedExtractedSql})")} AS doc_class,
               count(*) AS n
            FROM turns GROUP BY doc_class ORDER BY doc_class""",

      // per pinned turn: 2 list-item lines parent onto their own list
      // blocks, the paragraph line stays free
      "q_line_match" ->
        """SELECT CAST(2 * count(*) AS BIGINT) AS n_matched,
                  CAST(2 * count(*) AS BIGINT) AS n_own,
                  CAST(count(*) AS BIGINT) AS n_free
           FROM documents WHERE doc_id < 150""",

      // class/tag distribution stated independently: 'other' entities
      // yield nw O-words, everything else 1 B + (nw-1) I
      "q_funsd_tokens" ->
        """WITH d AS (
             SELECT doc_id, least(3, len(string_split(text, ' '))) AS nw,
               CASE doc_id % 4 WHEN 0 THEN 'other' WHEN 1 THEN 'question'
                 WHEN 2 THEN 'answer' ELSE 'header' END AS label
             FROM documents WHERE doc_id < 200)
           SELECT label AS token_class, tag, CAST(sum(n) AS BIGINT) AS n FROM (
             SELECT label, 'O' AS tag, nw AS n FROM d WHERE label = 'other'
             UNION ALL SELECT label, 'B', 1 FROM d WHERE label <> 'other'
             UNION ALL SELECT label, 'I', nw - 1 FROM d WHERE label <> 'other' AND nw > 1)
           GROUP BY 1, 2 ORDER BY 1, 2""",

      "q_multimodal_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                  CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
                  CAST(1 + octet_length(encode(text)) % 48 AS INT) AS height,
                  CAST(3 AS INT) AS channels
           FROM documents""",
      "q_multimodal_decode" ->
        """SELECT doc_id, CAST(doc_id % 7 + 1 AS INT) AS width,
                  CAST(doc_id % 5 + 2 AS INT) AS height,
                  CAST(3 AS INT) AS channels
           FROM documents WHERE doc_id < 64""",

      // pixel kernel sums restated closed-form: the pattern pixel at
      // source (sx, sy) is ((sx*7+sy*13)%256, (sx*3+sy*5)%256,
      // (sx*11+sy)%256); nearest-neighbor source mapping
      // sx=(x*w)//8, sy=(y*h)//6; cell = (y//3)*2 + x//4
      "q_multimodal_pixels" ->
        """SELECT doc_id, CAST(cell AS INT) AS cell,
                  CAST(SUM(r) AS BIGINT) AS sum_r,
                  CAST(SUM(g) AS BIGINT) AS sum_g,
                  CAST(SUM(b) AS BIGINT) AS sum_b,
                  CAST(count(*) AS INT) AS n_px
           FROM (
             SELECT d.doc_id,
               (y//3)*2 + (x//4) AS cell,
               (((x*(16+d.doc_id%5))//8)*7  + ((y*(12+d.doc_id%3))//6)*13) % 256 AS r,
               (((x*(16+d.doc_id%5))//8)*3  + ((y*(12+d.doc_id%3))//6)*5)  % 256 AS g,
               (((x*(16+d.doc_id%5))//8)*11 + ((y*(12+d.doc_id%3))//6))    % 256 AS b
             FROM documents d, range(0, 8) tx(x), range(0, 6) ty(y)
             WHERE d.doc_id < 200)
           GROUP BY doc_id, cell ORDER BY doc_id, cell"""
    )
  }
}
