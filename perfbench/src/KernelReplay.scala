package perfbench

import graft.kernels.{Json, Lines, Match, Nms, Order, Segment, Table}
import graft.model.{BBox, Ids, LayoutLabel, Turn}
import graft.operators.TextStats
import graft.pipeline.{Extract, ExtractConfig}

/** Single-thread replay of the extraction kernel on a fixed sample of
  * turns. The whole kernel (`Extract.extractTurn`) is timed, and then
  * each stage alone through its public function, on inputs prepared
  * outside the clock from the previous stage's output. Whatever the
  * kernel does between those calls is not attributed to any stage and
  * is reported as `pipeline.unattributed_us`.
  */
object KernelReplay {
  private val cfg = ExtractConfig()

  /** Every input a stage call needs, for one turn. */
  private final class Prepared(val turn: Turn) {
    val payload: String =
      if (turn.text != null && turn.text.nonEmpty) turn.text
      else if (turn.tool != null) turn.tool else ""
    val seg: Segment.SegResult = Segment.segment(payload)
    val candidates: IndexedSeq[Nms.Candidate] = seg.blocks.toIndexedSeq.zipWithIndex.map {
      case (b, i) => Nms.Candidate(i.toString, b.box, 1.0, b.kind)
    }
    private val surviving = Nms.suppress(candidates, cfg.nmsThreshold).map(_.toInt).toSet
    val blocks: Array[Segment.SegBlock] =
      seg.blocks.zipWithIndex.collect { case (b, i) if surviving(i) => b }
    private val words = blocks.flatMap(_.words)
    val parentBoxes: IndexedSeq[BBox] = blocks.map(_.box).toIndexedSeq
    val childBoxes: IndexedSeq[BBox] = words.map(_.box).toIndexedSeq
    private val parentOf = {
      val p = Array.fill(words.length)(-1)
      Match.matchByIntersection(parentBoxes, childBoxes, cfg.matchRule, cfg.matchThreshold,
        maxParentOnly = cfg.maxParentOnly).foreach { case (c, b) => p(c) = b }
      p
    }
    /** Word boxes of each block, in word order. */
    val blockWordBoxes: Array[IndexedSeq[BBox]] =
      blocks.indices.map(b => words.indices.filter(parentOf(_) == b).map(childBoxes)).toArray
    val blockTriples: Array[List[(Int, Int, Int)]] =
      blockWordBoxes.map(bs => if (bs.isEmpty) Nil else Order.groupWordsIntoLinesIdx(bs))
    val residualBoxes: IndexedSeq[BBox] = words.indices.filter(parentOf(_) == -1).map(childBoxes)
    private val residualLines =
      if (residualBoxes.isEmpty) Nil
      else Lines.createLinesIdx(residualBoxes, seg.pageWidth, seg.pageHeight,
        makeSubLines = true, cfg.paragraphBreak)
    val residualLineBoxes: List[IndexedSeq[BBox]] = residualLines.map(_.childIdx.map(residualBoxes).toIndexedSeq)
    val orderCandidates: Seq[(String, BBox)] =
      blocks.indices.filter(i => Segment.isMainContent(blocks(i), cfg.maxLinkDensity))
        .map(i => ("b" + i, blocks(i).box)) ++
        residualLines.zipWithIndex.map { case (l, j) => ("l" + j, l.box) }
    val extracted = Extract.extractTurn(turn, cfg)
    val wordCount: Int = words.length
  }

  /** Stage name → the public call(s) it makes for one turn. */
  private val stages: Seq[(String, Prepared => Int)] = Seq(
    "kernels.segment_us" -> (p => Segment.segment(p.payload).blocks.length),
    "kernels.nms_us" -> (p => Nms.suppress(p.candidates, cfg.nmsThreshold).length),
    "kernels.match_us" -> (p => Match.matchByIntersection(p.parentBoxes, p.childBoxes,
      cfg.matchRule, cfg.matchThreshold, maxParentOnly = cfg.maxParentOnly).length),
    "kernels.order_us" -> { p =>
      var n = 0
      p.blockWordBoxes.foreach(bs => if (bs.nonEmpty) n += Order.groupWordsIntoLinesIdx(bs).length)
      p.residualLineBoxes.foreach(bs => n += Order.groupWordsIntoLinesIdx(bs).length)
      n + Order.orderBlocks(p.orderCandidates, p.seg.pageWidth, p.seg.pageHeight,
        cfg.startingPointTolerance, cfg.brokenLineTolerance, cfg.heightTolerance).length
    },
    "kernels.lines_us" -> { p =>
      var n = 0
      var b = 0
      while (b < p.blockWordBoxes.length) {
        if (p.blockWordBoxes(b).nonEmpty)
          n += Lines.createLinesIdx(p.blockWordBoxes(b), p.seg.pageWidth, p.seg.pageHeight,
            makeSubLines = true, cfg.paragraphBreak, precomputedOrder = p.blockTriples(b)).length
        b += 1
      }
      if (p.residualBoxes.nonEmpty)
        n += Lines.createLinesIdx(p.residualBoxes, p.seg.pageWidth, p.seg.pageHeight,
          makeSubLines = true, cfg.paragraphBreak).length
      n
    },
    "kernels.table_us" -> (p =>
      if (p.payload.contains("<table")) Table.parseTables(p.payload).length else 0),
    "kernels.json_us" -> { p =>
      val tool = p.turn.tool
      if (tool != null && tool.nonEmpty && (tool ne p.payload)) Json.toolText(tool).length else 0
    },
    "model.ids_us" -> { p =>
      val et = p.extracted
      val ids = new Ids.AnnIdBuilder(Ids.turnId(p.turn.conv_id, p.turn.turn_idx))
      var n = 0
      et.blocks.foreach(b => n += ids.annId(b.kind, b.begin, b.end).length)
      et.words.foreach(w => n += ids.annId(LayoutLabel.WORD, w.begin, w.end).length)
      et.lines.foreach(l => if (l.blockId.nonEmpty) n += ids.annId(LayoutLabel.LINE, l.begin, l.end).length)
      et.tables.foreach(t => n += ids.annId(LayoutLabel.TABLE, t.begin, t.end).length)
      n
    },
    "operators.langid_us" -> (p => TextStats.langIdScala(p.extracted.extractedText).length)
  )

  @volatile private var sink = 0L

  /** Mean µs per turn of `f` over the sample. */
  private def perTurnUs(sample: Array[Prepared], f: Prepared => Int): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0
    while (i < sample.length) { acc += f(sample(i)); i += 1 }
    val us = (System.nanoTime() - t0) / 1e3 / sample.length
    sink += acc
    us
  }

  /** Per-layer kernel metrics: medians of `rounds` timed rounds, after
    * `warmRounds` untimed ones. Each round times the whole kernel and
    * then every stage, in the same order. */
  def run(turns: Array[Turn], warmRounds: Int = 2, rounds: Int = 5): Map[String, Double] = {
    val sample = turns.map(new Prepared(_))
    val whole: Prepared => Int = p => Extract.extractTurn(p.turn, cfg).words.length
    val all = ("pipeline.extract_turn_us" -> whole) +: stages
    for (_ <- 1 to warmRounds; (_, f) <- all) perTurnUs(sample, f)
    val samples = all.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (_ <- 1 to rounds; (name, f) <- all) samples(name) += perTurnUs(sample, f)
    val med = samples.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val attributed = stages.map { case (k, _) => med(k) }.sum
    med ++ Map(
      "pipeline.unattributed_us" -> (med("pipeline.extract_turn_us") - attributed),
      "kernels.blocks_per_turn" -> sample.map(_.seg.blocks.length).sum.toDouble / sample.length,
      "kernels.words_per_turn" -> sample.map(_.wordCount).sum.toDouble / sample.length)
  }
}
