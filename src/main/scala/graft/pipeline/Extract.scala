package graft.pipeline

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.kernels.{Lines, Match, Nms, Order, Segment}

/** Pipeline configuration — mirrors the reference's
  * `conf_dd_one.yaml:145-186` knobs (tolerances, matching rule) plus
  * the DOM-heuristic thresholds of the segmenter.
  */
final case class ExtractConfig(
    startingPointTolerance: Double = 0.005,
    brokenLineTolerance: Double = 0.003,
    heightTolerance: Double = 2.0,
    paragraphBreak: Double = 0.035,
    matchRule: String = "ioa",
    matchThreshold: Double = 0.3,
    maxParentOnly: Boolean = true,
    nmsThreshold: Double = 0.9,
    maxLinkDensity: Double = 0.4,
    /** turns per salt bucket for skewed long conversations (north
      * rule). A fine grain gives the exchange many keys, so even a small
      * table spreads its work evenly over the partitions (SCALE.md). */
    saltChunkSize: Int = 16,
    /** reference `include_residual_text_container` (pipe/order.py:737,
      * factory default True): words matched to no block become
      * synthetic LINE blocks that join the floating-text ordering */
    includeResidualTextContainer: Boolean = true,
    /** DetectResultGenerator (pipe/sub_layout.py:41-48): kinds that
      * must ALWAYS yield at least one detection — any listed kind with
      * no block after NMS gets a placeholder block covering the whole
      * page (the reference generates a DetectResult with the image's
      * dimensions). Empty = off (default). */
    backfillKinds: Seq[String] = Nil,
    /** LAYOUT_LINK service (factory.py:1784 USE_LAYOUT_LINK →
      * MatchingService with NeighbourMatcher, pipe/common.py:182):
      * each block whose kind is in `layoutLinkChildren` links to the
      * NEAREST block (center distance) whose kind is in
      * `layoutLinkParents`. Off when either set is empty (the
      * reference's config gate).
      */
    layoutLinkParents: Set[String] = Set.empty,
    layoutLinkChildren: Set[String] = Set.empty,
    /** LMTokenClassifierService slot (pipe/lm.py:40, serve :175): a
      * word→class function applied inside the kernel and stored as
      * `Word.tokenClass` (the reference's TOKEN_CLASS sub-category).
      * None (default) leaves the reference's OTHER default
      * (lm.py:215-233); plug `Lm.heuristicTokenClass` or any model
      * callable.
      */
    tokenClassifier: Option[String => String] = None,
    /** LMSequenceClassifierService slot (pipe/lm.py:289, gated by
      * USE_LM_SEQUENCE_CLASS, factory.py:1795): a pageText→class
      * function applied to the assembled extracted text and stored as
      * `ExtractedTurn.docClass` — the page-level twin of
      * [[tokenClassifier]]. None (default) = service off = "" class.
      * Plug `Lm.heuristicSeqClass` or any model callable.
      */
    sequenceClassifier: Option[String => String] = None,
    /** USE_LINE_MATCHER service (factory.py:1787 →
      * `build_line_matching_service` :1135): a second MatchingService
      * pass that parents LINE annotations onto list-family blocks with
      * the SAME WORD_MATCHING knobs (rule/threshold/max_parent_only —
      * the reference reuses them verbatim, :1121-1132). Off by default
      * (conf_dd_one.yaml:177 `USE_LINE_MATCHER: false`). Its parents are
      * the LIST_ITEM blocks.
      */
    useLineMatcher: Boolean = false,
    /** SimpleTransformService analogue (pipe/transform.py:32-96):
      * NFC + newline canonicalization applied to the payload BEFORE
      * segmentation, so every emitted span indexes the normalized
      * text; kernels.Normalize.nfcWithMap carries the raw-offset
      * lineage. Default false — raw-offset semantics (round-1 goldens)
      * stay the default. */
    normalizeText: Boolean = false
)

/** The extraction pipeline: `Dataset[Turn] → Dataset[ExtractedTurn]`.
  *
  * Reference lifecycle analogue (SURVEY §3.1): every pipeline component
  * is a pure function `Turn → Turn`-ish, chained inside ONE
  * `mapPartitions` stage — segmentation → NMS → word↔block matching →
  * reading order → main-content classification → projection. All state
  * is row-local, so there is no shuffle between components; the only
  * exchange in the whole job is the explicit salted repartition before
  * the kernel (and whatever the sink needs).
  */
object Extract {

  /** Pure per-turn kernel. Never throws: a row whose extraction fails —
    * by any non-fatal error or by a stack overflow on hostile input —
    * quarantines into a row with `metrics.parseFailed = true`
    * (reference: `MappingContextManager`, dd_core/mapper/maputils.py:41)
    * instead of failing the task.
    */
  def extractTurn(t: Turn, cfg: ExtractConfig = ExtractConfig()): ExtractedTurn = {
    val turnId = Ids.turnId(t.conv_id, t.turn_idx)
    try extractTurnUnsafe(t, turnId, cfg)
    catch {
      case NonFatal(_) | _: StackOverflowError =>
        ExtractedTurn(t.conv_id, t.turn_idx, turnId, t.role, t.ts, "", "", "und", "",
          Array.empty, Array.empty, Array.empty, Array.empty,
          TurnMetrics(0, 0, 0, 0, parseFailed = true))
    }
  }

  /** The line matcher's parent category: the reference's FamilyCompound
    * parent is `LayoutLabel.LIST`, and this renderer's list family is the
    * per-item block, so LIST_ITEM stands for it.
    */
  private val LineMatchParent = LayoutLabel.LIST_ITEM

  /** Residual words' synthetic LINE block. */
  private final case class ResLine(id: String, box: BBox, members: Array[Int],
      text: String, begin: Int, end: Int)

  private def extractTurnUnsafe(t: Turn, turnId: String, cfg: ExtractConfig): ExtractedTurn = {
    val payload0 = if (t.text != null && t.text.nonEmpty) t.text
                   else if (t.tool != null) t.tool else ""
    val payload =
      if (cfg.normalizeText) graft.kernels.Normalize.nfcCanonical(payload0)
      else payload0
    val seg = Segment.segment(payload)

    // ---- NMS over block candidates (AnnotationNmsService analogue,
    // pipe/common.py:458; no-op for non-overlapping renders) ----
    val segBlocks = seg.blocks
    val surviving = Nms.survivors(ArraySeq.unsafeWrapArray(segBlocks.map(_.box)),
      Array.fill(segBlocks.length)(1.0), cfg.nmsThreshold)
    java.util.Arrays.sort(surviving)
    val blocksNms = surviving.map(segBlocks(_))
    // DetectResultGenerator back-fill (pipe/sub_layout.py:41-48): any
    // configured kind with no detection gets a whole-page placeholder
    val blocks0 =
      if (cfg.backfillKinds.isEmpty) blocksNms
      else {
        val present = blocksNms.map(_.kind).toSet
        blocksNms ++ cfg.backfillKinds.filterNot(present).map(k =>
          Segment.SegBlock(k, 0, 0,
            BBox(0, 0, seg.pageWidth, seg.pageHeight, absCoords = true),
            Array.empty, chrome = false, dropped = false, tagDepth = 0,
            linkDensity = 0.0, textDensity = 0.0, lineCount = 0))
      }
    val nBlocks = blocks0.length

    // block ids (deterministic, content-derived)
    val annIds = new Ids.AnnIdBuilder(turnId) // one digest per turn, not per annotation
    val blockIds = blocks0.map(b => annIds.annId(b.kind, b.begin, b.end))

    // ---- words + word↔block assignment via the IoA matching kernel
    // (MatchingService analogue, pipe/common.py:271) ----
    val allWords = blocks0.flatMap(_.words)
    val nWords = allWords.length
    // LMTokenClassifierService slot: per-word class via the configured
    // classifier (reference default OTHER when none)
    val tokenClassifier = cfg.tokenClassifier.orNull
    def tokenClassOf(text: String): String =
      if (tokenClassifier == null) LayoutLabel.TOKEN_OTHER else tokenClassifier(text)
    val wordIds = allWords.map(w => annIds.annId(LayoutLabel.WORD, w.begin, w.end))
    val parentBoxes = ArraySeq.unsafeWrapArray(blocks0.map(_.box))
    val childBoxes = ArraySeq.unsafeWrapArray(allWords.map(_.box))
    val parentOf = Array.fill(nWords)(-1)
    // backfilled whole-page placeholders (indices >= realBlockCount)
    // must NOT act as match parents: their page-covering box gives
    // every word IoA = 1.0, which would steal residual words from the
    // residual-LINE path and silently drop their text (placeholders are
    // schema completeness, not content containers)
    val realBlockCount = blocksNms.length
    Match.forEachMatch(parentBoxes, childBoxes, cfg.matchRule, cfg.matchThreshold,
      useWeightedIntersections = false, maxParentOnly = cfg.maxParentOnly) { (c, p) =>
      if (p < realBlockCount) parentOf(c) = p
    }

    // ---- per-block word ordering (TextOrderService level (a):
    // group_words_into_lines, pipe/order.py:71) ----
    val wordsByBlock: Array[Array[Int]] = {
      val count = new Array[Int](nBlocks)
      parentOf.foreach(p => if (p >= 0) count(p) += 1)
      val byBlock = count.map(new Array[Int](_))
      java.util.Arrays.fill(count, 0)
      var wi = 0
      while (wi < nWords) {
        val p = parentOf(wi)
        if (p >= 0) { byBlock(p)(count(p)) = wi; count(p) += 1 }
        wi += 1
      }
      byBlock
    }

    val orderedWords = new Array[Word](nWords)
    // places `members` (word indices) under `parentId` in the reading
    // order `wl`; returns their text, space-joined in that order
    def placeWords(members: Array[Int], wl: Order.WordLines, parentId: String): String = {
      var len = members.length
      for (wi <- members) len += allWords(wi).text.length
      val sb = new StringBuilder(len)
      var p = 0
      while (p < members.length) {
        val wi = members(wl.word(p))
        val w = allWords(wi)
        orderedWords(wi) = Word(wordIds(wi), w.text, w.begin, w.end, w.box,
          parentId, p + 1, wl.line(p), tokenClassOf(w.text))
        if (sb.nonEmpty) sb.append(' ')
        sb.append(w.text)
        p += 1
      }
      sb.toString
    }
    def spanBegin(ws: Array[Int]): Int = {
      var b = Int.MaxValue
      var k = 0
      while (k < ws.length) { b = math.min(b, allWords(ws(k)).begin); k += 1 }
      b
    }
    def spanEnd(ws: Array[Int]): Int = {
      var e = Int.MinValue
      var k = 0
      while (k < ws.length) { e = math.max(e, allWords(ws(k)).end); k += 1 }
      e
    }

    val blockTexts = Array.fill(nBlocks)("")
    val linesBuf = mutable.ArrayBuffer.empty[LineOut]
    // geometry rides alongside each emitted line for the line matcher
    val lineBoxesBuf = mutable.ArrayBuffer.empty[BBox]
    val lineRes = mutable.ArrayBuffer.empty[Lines.LineIdxResult]
    var bi = 0
    while (bi < nBlocks) {
      val wis = wordsByBlock(bi)
      if (wis.nonEmpty) {
        val wl = Order.wordLines(childBoxes, wis, wis.length)
        blockTexts(bi) = placeWords(wis, wl, blockIds(bi))

        // ---- synthetic text lines (TextLineService analogue,
        // pipe/order.py:581): rows split at paragraph breaks ----
        lineRes.clear()
        Lines.linesOf(childBoxes, wis, wis.length, wl, seg.pageWidth,
          makeSubLines = true, cfg.paragraphBreak, lineRes)
        var li = 0
        while (li < lineRes.length) {
          val lr = lineRes(li)
          val b = spanBegin(lr.words)
          val e = spanEnd(lr.words)
          linesBuf += LineOut(annIds.annId(LayoutLabel.LINE, b, e), blockIds(bi), b, e, lr.words.length)
          lineBoxesBuf += lr.box
          li += 1
        }
      }
      bi += 1
    }
    // unassigned words (no parent above threshold) stay residual
    val residual = Array.range(0, nWords).filter(parentOf(_) == -1)
    for (wi <- residual) {
      val w = allWords(wi)
      orderedWords(wi) = Word(wordIds(wi), w.text, w.begin, w.end, w.box, "", -1, -1,
        tokenClassOf(w.text))
    }
    // ---- residual words → synthetic LINE blocks (TextOrderService
    // include_residual_text_container, pipe/order.py:737-748) ----
    val residualLines: Array[ResLine] =
      if (cfg.includeResidualTextContainer && residual.nonEmpty) {
        lineRes.clear()
        Lines.linesOf(childBoxes, residual, residual.length,
          Order.wordLines(childBoxes, residual, residual.length), seg.pageWidth,
          makeSubLines = true, cfg.paragraphBreak, lineRes)
        lineRes.map { lr =>
          val members = lr.words
          val b = spanBegin(members)
          val e = spanEnd(members)
          // order words within the synthetic line + assemble its text
          val wl = Order.wordLines(childBoxes, members, members.length)
          val lineId = annIds.annId(LayoutLabel.LINE, b, e)
          ResLine(lineId, lr.box, members, placeWords(members, wl, lineId), b, e)
        }.toArray
      } else Array.empty[ResLine]
    for (rl <- residualLines) {
      linesBuf += LineOut(rl.id, "", rl.begin, rl.end, rl.members.length)
      lineBoxesBuf += rl.box
    }
    // ---- line matcher (USE_LINE_MATCHER, factory.py:1787): LINE
    // annotations parented onto list-family blocks via the SAME
    // intersection kernel + WORD_MATCHING knobs as word↔block ----
    if (cfg.useLineMatcher && linesBuf.nonEmpty) {
      // backfilled whole-page placeholders are excluded for the same
      // reason as in word matching: a page-covering box out-scores
      // every real parent
      val pIdx = (0 until realBlockCount).filter(i => blocks0(i).kind == LineMatchParent)
      if (pIdx.nonEmpty) {
        Match.matchByIntersection(
          pIdx.map(blocks0(_).box).toIndexedSeq, lineBoxesBuf.toIndexedSeq,
          cfg.matchRule, cfg.matchThreshold, maxParentOnly = cfg.maxParentOnly
        ).foreach { case (c, p) =>
          linesBuf(c) = linesBuf(c).copy(listId = blockIds(pIdx(p)))
        }
      }
    }
    val lines: Array[LineOut] = linesBuf.toArray

    // ---- main-content classification + block-level reading order
    // (TextOrderService level (b): order_blocks over floating blocks +
    // residual lines, pipe/order.py:201/:752) ----
    val keptIdx = Array.range(0, nBlocks).filter(i => Segment.isMainContent(blocks0(i), cfg.maxLinkDensity))
    val candidateBoxes = keptIdx.map(blocks0(_).box) ++ residualLines.map(_.box)
    val ordered = Order.readingOrder(ArraySeq.unsafeWrapArray(candidateBoxes),
      seg.pageWidth, seg.pageHeight,
      cfg.startingPointTolerance, cfg.brokenLineTolerance, cfg.heightTolerance)
    // 1-based reading order per block / residual line, -1 when unread
    val blockOrder = Array.fill(nBlocks)(-1)
    val lineOrder = Array.fill(residualLines.length)(-1)
    for (j <- ordered.indices) {
      val c = ordered(j)
      if (c < keptIdx.length) blockOrder(keptIdx(c)) = j + 1
      else lineOrder(c - keptIdx.length) = j + 1
    }

    // ---- layout-link (factory.py USE_LAYOUT_LINK): nearest-parent
    // links for configured kinds, e.g. caption → figure/table ----
    val layoutLink: Map[Int, Int] =
      if (cfg.layoutLinkParents.isEmpty || cfg.layoutLinkChildren.isEmpty) Map.empty
      else {
        val pIdx = blocks0.indices.filter(i => cfg.layoutLinkParents.contains(blocks0(i).kind))
        val cIdx = blocks0.indices.filter(i => cfg.layoutLinkChildren.contains(blocks0(i).kind))
        // when a kind is in BOTH sets a block is its own distance-0
        // nearest neighbour — exclude self, link to the nearest OTHER
        Match.matchByDistance(
            pIdx.map(blocks0(_).box).toIndexedSeq, cIdx.map(blocks0(_).box).toIndexedSeq,
            exclude = (c, p) => pIdx(p) == cIdx(c))
          .map { case (c, p) => cIdx(c) -> pIdx(p) }.toMap
      }

    val blocks = new Array[Block](nBlocks + residualLines.length)
    for (i <- 0 until nBlocks) {
      val b = blocks0(i)
      blocks(i) = Block(blockIds(i), b.kind, b.begin, b.end, b.box, 1.0,
        blockOrder(i), kept = blockOrder(i) > 0,
        b.textDensity, b.linkDensity, b.tagDepth, blockTexts(i),
        linkedBlockId = layoutLink.get(i).map(blockIds(_)).getOrElse(""))
    }
    for (j <- residualLines.indices) {
      val rl = residualLines(j)
      blocks(nBlocks + j) = Block(rl.id, LayoutLabel.LINE, rl.begin, rl.end, rl.box, 1.0,
        lineOrder(j), kept = lineOrder(j) > 0, 0.0, 0.0, 0, rl.text)
    }

    // ---- table reconstruction (TableSegmentationService analogue,
    // pipe/segment.py:840) — only when markup contains a table ----
    val tables: Array[TableData] =
      if (payload.contains("<table")) {
        graft.kernels.Table.parseTables(payload).map { tr =>
          TableData(annIds.annId(LayoutLabel.TABLE, tr.begin, tr.end),
            tr.begin, tr.end, tr.nRows, tr.nCols, tr.html,
            tr.cells.map(c => TableCellOut(c.row, c.col, c.rowSpan, c.colSpan,
              c.text, c.begin, c.end, c.header)))
        }.toArray
      } else Array.empty[TableData]

    // ---- projection (`Page.text` analogue, view.py:1318-1336):
    // kept blocks by reading order, '\n'-joined; the kept blocks hold
    // the orders 1..ordered.length, each once ----
    val textByOrder = new Array[String](ordered.length)
    var textLen = ordered.length
    for (b <- blocks) if (b.kept) { textByOrder(b.readingOrder - 1) = b.text; textLen += b.text.length }
    val extractedText = textByOrder.addString(new StringBuilder(textLen), "\n").result()

    // tool payload (JSON) values — extracted alongside, not instead of,
    // the text payload (north star: "text/tool payload is tokenized")
    val toolText =
      if (t.tool != null && t.tool.nonEmpty && (t.tool ne payload))
        graft.kernels.Json.toolText(t.tool)
      else ""

    val kept = ordered.length
    ExtractedTurn(t.conv_id, t.turn_idx, turnId, t.role, t.ts, extractedText, toolText,
      graft.operators.TextStats.langIdScala(extractedText),
      // LMSequenceClassifierService slot: page-level class over the
      // assembled text (the token-level twin runs inside the word loop)
      cfg.sequenceClassifier.fold("")(f => f(extractedText)),
      blocks, orderedWords, lines, tables,
      TurnMetrics(kept, blocks.length - kept, orderedWords.length,
        orderedWords.count(_.readingOrder > 0), parseFailed = false))
  }

  /** `Image.remove` analogue (dd_core/datapoint/image.py:994), IN
    * PLACE on the extracted view rather than recompute-from-lineage:
    * blocks/words/lines/tables with the given annotation ids are
    * dropped, words of removed blocks are detached (blockId cleared,
    * order -1 — the reference's orphan state), the block reading order
    * is compacted over the survivors (relative order preserved), and
    * extractedText / lang / metrics are recomputed. Row-local — safe
    * inside map() at any scale.
    */
  def removeAnnotations(et: ExtractedTurn, ids: Set[String]): ExtractedTurn = {
    val keptBlocks = et.blocks.filterNot(b => ids.contains(b.id))
    val orderMap = keptBlocks.filter(_.kept).sortBy(_.readingOrder)
      .zipWithIndex.map { case (b, i) => b.id -> (i + 1) }.toMap
    val blocks = keptBlocks.map(b =>
      b.copy(readingOrder = orderMap.getOrElse(b.id, -1), kept = orderMap.contains(b.id),
        // a layout link to a removed block is dangling — clear it
        linkedBlockId = if (ids.contains(b.linkedBlockId)) "" else b.linkedBlockId))
    val words = et.words
      .filterNot(w => ids.contains(w.id))
      .map(w => if (w.blockId.nonEmpty && ids.contains(w.blockId))
        w.copy(blockId = "", readingOrder = -1, lineNo = -1) else w)
    val lines = et.lines.filterNot(l => ids.contains(l.id) ||
        (l.blockId.nonEmpty && ids.contains(l.blockId)))
      // a line-matcher link to a removed list block is dangling too
      .map(l => if (l.listId.nonEmpty && ids.contains(l.listId)) l.copy(listId = "") else l)
    val tables = et.tables.filterNot(tb => ids.contains(tb.id))
    val text = blocks.filter(_.kept).sortBy(_.readingOrder).map(_.text).mkString("\n")
    val kept = blocks.count(_.kept)
    et.copy(
      extractedText = text,
      lang = graft.operators.TextStats.langIdScala(text),
      blocks = blocks, words = words, lines = lines, tables = tables,
      metrics = TurnMetrics(kept, blocks.length - kept, words.length,
        words.count(_.readingOrder > 0), et.metrics.parseFailed))
  }

  /** Distributed runner: explicit salted repartition on
    * `hash(conv_id, turn_idx / saltChunkSize)` so a single monster
    * conversation spreads over many partitions (north rule: skew), then
    * one fused mapPartitions kernel. Only one exchange in the job.
    */
  /** Prefix under which [[run]] registers observed metrics — read them
    * from `QueryExecution.observedMetrics` (or a
    * `QueryExecutionListener`) after any action on the result. Each
    * run() gets a unique suffix: Spark requires observation names to
    * be unique within a query, and one query may contain several
    * extraction runs (e.g. Evaluator joins golden vs re-extracted).
    */
  val MetricsName = "graft_extract"
  private val metricsSeq = new java.util.concurrent.atomic.AtomicLong()

  def run(ds: Dataset[Turn], cfg: ExtractConfig = ExtractConfig(),
          numPartitions: Option[Int] = None): Dataset[ExtractedTurn] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val parts = numPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    ds.repartition(parts, hash(col("conv_id"), floor(col("turn_idx") / cfg.saltChunkSize)))
      .mapPartitions(_.map(t => extractTurn(t, cfg)))
      // north rule: extraction metrics ride every action (reference
      // `Extras` side-channel, image.py:186 — here observe(), so they
      // reach listeners/snapshot summaries without a second pass)
      .observe(s"${MetricsName}_${metricsSeq.incrementAndGet()}",
        count(lit(1)).as("turns"),
        sum(col("metrics.wordCount")).as("words"),
        sum(col("metrics.blocksKept")).as("blocks_kept"),
        sum(col("metrics.blocksDropped")).as("blocks_dropped"),
        sum(when(col("metrics.parseFailed"), 1).otherwise(0)).as("parse_failures"))
  }

  /** Chunk-level exploded output (the reference's `Page.chunks`,
    * view.py:1409-1441): one row per kept block in reading order.
    */
  def chunks(ds: Dataset[ExtractedTurn]): Dataset[Chunk] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { et =>
      et.blocks.filter(_.kept).sortBy(_.readingOrder).map { b =>
        Chunk(et.conv_id, et.turn_id, et.turn_idx, b.id, b.readingOrder, b.kind,
          b.text, b.begin, b.end)
      }
    }
  }

  /** `Page.get_layout_context` (view.py:1383-1406): the blocks within
    * ±`k` reading-order positions of `blockId` among the turn's kept
    * floating-text blocks (the LM context-assembly window). Like the
    * reference, a block that is not a kept floating-text element is an
    * error, not an empty window.
    */
  def layoutContext(et: ExtractedTurn, blockId: String, k: Int): Seq[Block] = {
    val ordered = et.blocks.filter(b => b.kept && b.readingOrder > 0)
      .sortBy(_.readingOrder).toSeq
    val pos = ordered.indexWhere(_.id == blockId)
    require(pos >= 0,
      s"cannot get context: $blockId is not a kept floating-text block of ${et.turn_id}")
    ordered.slice(math.max(0, pos - k), math.min(pos + k + 1, ordered.length))
  }

  /** Dataset-level projection of [[layoutContext]]: one row per kept
    * block carrying its window's size and reading-order bounds — pure
    * narrow map, no shuffle.
    */
  def layoutContexts(ds: Dataset[ExtractedTurn], k: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { et =>
      // one sort per turn (layoutContext per block would re-sort B times;
      // B is small but there's no reason to pay it)
      val ordered = et.blocks.filter(b => b.kept && b.readingOrder > 0)
        .sortBy(_.readingOrder)
      ordered.zipWithIndex.map { case (b, pos) =>
        val lo = math.max(0, pos - k)
        val hi = math.min(pos + k + 1, ordered.length)
        (et.conv_id, et.turn_idx, b.readingOrder, hi - lo,
          ordered(lo).readingOrder, ordered(hi - 1).readingOrder)
      }
    }.toDF("conv_id", "turn_idx", "reading_order", "ctx_size", "ctx_first", "ctx_last")
  }
}
