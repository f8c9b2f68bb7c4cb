package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TrainFormat}

/** Training-sample formatting (chat-template rendering, greedy
  * packing) and incremental history dedup. The driver oracle
  * (q_chat_render / q_pack_samples / q_dedup_incremental) proves
  * engine parity; these specs pin the kernel semantics on handcrafted
  * fixtures and the invariants the relational oracle can't state:
  * code-point (not UTF-16) offset arithmetic, partition-count
  * invariance of the streaming packing walk, and the Bloom prefilter's
  * no-false-negative superset property.
  */
class TrainFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cp(s: String): Long = s.codePointCount(0, s.length).toLong

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Local twin of the rendering: rendered string + per-turn
    * (t_begin, t_end, mask) in CODE POINTS.
    */
  private def renderLocal(turns: Seq[(Int, String, String)])
      : (String, Seq[(Int, Long, Long, Int)]) = {
    val sb = new StringBuilder
    var at = 0L
    val spans = turns.sortBy(_._1).map { case (i, role, text) =>
      val hdr = s"<|$role|>\n"
      sb.append(hdr).append(text).append("\n")
      val b = at + cp(hdr)
      val e = b + cp(text)
      at = e + 1
      (i, b, e, if (role == "assistant") 1 else 0)
    }
    (sb.toString, spans)
  }

  test("renderChat matches the local rendering on a hand fixture") {
    import spark.implicits._
    val convA = Seq((0, "user", "hi there"), (1, "assistant", "hello"), (2, "tool", "x"))
    val convB = Seq((0, "assistant", "solo"))
    val df = (convA.map(t => ("a", t._1, t._2, t._3)) ++
        convB.map(t => ("b", t._1, t._2, t._3)))
      .toDF("conv_id", "turn_idx", "role", "text")
    val got = TrainFormat.renderChat(df)
      .select("conv_id", "turn_idx", "role", "t_begin", "t_end", "mask", "conv_md5")
      .as[(String, Int, String, Long, Long, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    for ((conv, turns) <- Seq("a" -> convA, "b" -> convB)) {
      val (rendered, spans) = renderLocal(turns)
      val rows = got.filter(_._1 == conv)
      assert(rows.map(r => (r._2, r._4, r._5, r._6)).toSeq == spans)
      assert(rows.forall(_._7 == md5hex(rendered)))
      // the span really is the text region (all-BMP fixture, so
      // String.substring indexes == code points)
      for ((r, t) <- rows.zip(turns.sortBy(_._1)))
        assert(rendered.substring(r._4.toInt, r._5.toInt) == t._3)
    }
  }

  test("renderChat offsets count code points, not UTF-16 units") {
    import spark.implicits._
    // U+1F600 (non-BMP, 2 UTF-16 units, 1 code point) + combining é
    val turns = Seq((0, "user", "😀 ok"), (1, "assistant", "éclair"))
    val df = turns.map(t => ("c", t._1, t._2, t._3)).toDF("conv_id", "turn_idx", "role", "text")
    val got = TrainFormat.renderChat(df)
      .select("turn_idx", "t_begin", "t_end", "mask", "conv_md5")
      .as[(Int, Long, Long, Int, String)].collect().sortBy(_._1)
    val (rendered, spans) = renderLocal(turns)
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq == spans)
    // a UTF-16 implementation would report t_end = t_begin + 5 for the
    // emoji turn; code points say 4
    assert(got(0)._3 - got(0)._2 == 4)
    assert(got.forall(_._5 == md5hex(rendered)))
  }

  test("packSamples: inclusive budget boundary and oversize turns") {
    import spark.implicits._
    def text(k: Int) = Seq.fill(k)("w").mkString(" ")
    // conv a tokens [3,3,4] budget 6: 3+3 == 6 fits, the 4 overflows
    // conv b tokens [10,2]: the oversize turn keeps its own sample
    val df = Seq(
      ("a", 0, text(3)), ("a", 1, text(3)), ("a", 2, text(4)),
      ("b", 0, text(10)), ("b", 1, text(2)))
      .toDF("conv_id", "turn_idx", "text")
    val got = TrainFormat.packSamples(df, budget = 6)
      .as[(String, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      ("a", 0, 0, 3), ("a", 1, 0, 3), ("a", 2, 1, 4),
      ("b", 0, 0, 10), ("b", 1, 1, 2)))
  }

  test("packSamples is partition-count invariant and matches the naive walk") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for {
      c <- 0 until 9
      t <- 0 until (3 + rnd.nextInt(20))
    } yield (s"conv-$c", t, Seq.fill(1 + rnd.nextInt(12))("w").mkString(" "))
    val budget = 18
    val naive: Map[(String, Int), Int] = rows.groupBy(_._1).flatMap {
      case (c, ts) =>
        var acc = 0L; var s = 0; var first = true
        ts.sortBy(_._2).map { case (_, t, text) =>
          val tok = text.split(" ", -1).length
          if (first) { first = false; s = 0; acc = tok.toLong }
          else if (acc + tok > budget) { s += 1; acc = tok.toLong }
          else acc += tok
          ((c, t), s)
        }
    }.toMap
    for (nPart <- Seq(1, 7)) {
      val df = rows.toDF("conv_id", "turn_idx", "text").repartition(nPart)
      val got = TrainFormat.packSamples(df, budget)
        .as[(String, Int, Int, Int)].collect()
      assert(got.length == rows.length)
      assert(got.forall(r => naive((r._1, r._2)) == r._3), s"nPart=$nPart")
    }
  }

  test("renderChat matches the local render on random adversarial corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = Array("a", "b c", "\n", "é", "😀", "|>", "<|", "", "\t x")
    val rows = for {
      c <- 0 until 7
      t <- 0 until (1 + rnd.nextInt(9))
    } yield (s"c$c", t,
      if (rnd.nextBoolean()) "assistant" else "user",
      Seq.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val got = TrainFormat.renderChat(
      rows.toDF("conv_id", "turn_idx", "role", "text").repartition(5))
      .select("conv_id", "turn_idx", "role", "t_begin", "t_end", "mask", "conv_md5")
      .as[(String, Int, String, Long, Long, Int, String)]
      .collect().groupBy(_._1)
    for ((conv, turns) <- rows.groupBy(_._1)) {
      val (rendered, spans) = renderLocal(turns.map(t => (t._2, t._3, t._4)))
      val rs = got(conv).sortBy(_._2)
      assert(rs.map(r => (r._2, r._4, r._5, if (r._3 == "assistant") 1 else 0))
        .toSeq == spans.map(s => (s._1, s._2, s._3, s._4)))
      assert(rs.forall(_._7 == md5hex(rendered)))
      assert(rs.forall(r => r._6 == (if (r._3 == "assistant") 1 else 0)))
    }
  }

  test("packSamples invariants: coverage, monotone ids, fit, greedy maximality") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val budget = 15
    val rows = for {
      c <- 0 until 11
      t <- 0 until (1 + rnd.nextInt(25))
    } yield (s"c$c", t, Seq.fill(1 + rnd.nextInt(24))("w").mkString(" "))
    val got = TrainFormat.packSamples(
      rows.toDF("conv_id", "turn_idx", "text").repartition(4), budget)
      .as[(String, Int, Int, Int)].collect()
    assert(got.length == rows.length)
    for ((conv, rs0) <- got.groupBy(_._1)) {
      val rs = rs0.sortBy(_._2)
      // sample ids start at 0 and advance by at most 1, never backward
      assert(rs.head._3 == 0)
      assert(rs.zip(rs.tail).forall { case (a, b) =>
        b._3 == a._3 || b._3 == a._3 + 1 })
      val bySample = rs.groupBy(_._3).toSeq.sortBy(_._1)
      for ((_, sTurns) <- bySample)
        // a sample fits the budget unless it is one oversize turn
        assert(sTurns.map(_._4).sum <= budget || sTurns.length == 1)
      for (((_, prev), (_, cur)) <- bySample.zip(bySample.tail))
        // greedy maximality: the turn that opened this sample would
        // have overflowed the previous one
        assert(prev.map(_._4).sum + cur.head._4 > budget)
    }
  }

  test("contextTrim keeps exactly the newest suffix that fits") {
    import spark.implicits._
    def text(k: Int) = Seq.fill(k)("w").mkString(" ")
    // conv a tokens [50, 40, 30, 20]: suffixes 140/90/50/20, budget 90
    // → turns 1..3 kept (inclusive boundary at 90)
    // conv b tokens [200, 10]: newest fits alone, oldest never does
    // conv c tokens [300]: single oversize turn → nothing kept
    val df = Seq(
      ("a", 0, text(50)), ("a", 1, text(40)), ("a", 2, text(30)), ("a", 3, text(20)),
      ("b", 0, text(200)), ("b", 1, text(10)),
      ("c", 0, text(300)),
      // duplicate index: RANGE frame gives both tie rows the SAME
      // suffix total (a ROWS frame would split it by shuffle order)
      ("d", 0, text(85)), ("d", 1, text(3)), ("d", 1, text(2)))
      .toDF("conv_id", "turn_idx", "text")
    val got = TrainFormat.contextTrim(df, budget = 90)
      .as[(String, Int, Int, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2, r._3))
    assert(got.toSeq == Seq(
      ("a", 0, 50, 140L, false), ("a", 1, 40, 90L, true),
      ("a", 2, 30, 50L, true), ("a", 3, 20, 20L, true),
      ("b", 0, 200, 210L, false), ("b", 1, 10, 10L, true),
      ("c", 0, 300, 300L, false),
      ("d", 0, 85, 90L, true), ("d", 1, 2, 5L, true), ("d", 1, 3, 5L, true)))
    // invariant: the kept set is a contiguous suffix per conversation
    for ((_, rows) <- got.groupBy(_._1)) {
      val keptFlags = rows.sortBy(_._2).map(_._5)
      assert(!keptFlags.zip(keptFlags.tail).exists { case (k, n) => k && !n })
    }
  }

  test("contextTrim and lintConversations match local twins on random pathological corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val roles = Array("user", "assistant", "tool", "system")
    // random conversations WITH gaps, duplicate indices, empty texts,
    // and misplaced tool payloads
    val rows = for {
      c <- 0 until 13
      t <- 0 until (1 + rnd.nextInt(12))
    } yield (s"c$c",
      t + (if (rnd.nextInt(5) == 0) 1 else 0) + (if (c % 4 == 0) 0 else rnd.nextInt(2)),
      roles(rnd.nextInt(4)),
      if (rnd.nextInt(7) == 0) "" else Seq.fill(1 + rnd.nextInt(9))("w").mkString(" "),
      if (rnd.nextInt(6) == 0) "{\"p\":1}" else "")
    val df = rows.toDF("conv_id", "turn_idx", "role", "text", "tool").repartition(5)

    val trim = TrainFormat.contextTrim(df, budget = 20)
      .as[(String, Int, Int, Long, Boolean)].collect()
    for ((conv, t, _, suffix, kept) <- trim) {
      // suffix total is by VALUE: sum of toks at index >= t, shared by
      // duplicate-index rows
      val expectSuffix = rows.filter(r => r._1 == conv && r._2 >= t)
        .map(r => r._4.split(" ", -1).length.toLong).sum
      assert(suffix == expectSuffix, s"($conv,$t)")
      assert(kept == (suffix <= 20))
    }

    val lint = TrainFormat.lintConversations(df)
      .as[(String, Int, Boolean, Boolean, Boolean, Boolean, Int, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    for ((conv, ts) <- rows.groupBy(_._1)) {
      val idxs = ts.map(_._2)
      val minIdxRoles = ts.filter(_._2 == idxs.min).map(_._3).distinct
      val aset = ts.filter(_._3 == "assistant").map(_._2).toSet
      val got = lint(conv)
      assert(got._2 == ts.length)
      // first-turn pick is only asserted when unambiguous
      if (minIdxRoles.length == 1)
        assert(got._3 == Set("user", "system").contains(minIdxRoles.head))
      assert(got._4 == (idxs.min == 0 && idxs.max == ts.length - 1 &&
        idxs.distinct.length == ts.length))
      assert(got._5 == ts.forall(_._4.nonEmpty))
      assert(got._6 == ts.forall(t => t._5 == "" || t._3 == "tool"))
      assert(got._7 == aset.count(i => aset.contains(i + 1)), s"$conv")
    }
  }

  test("lintConversations flags each pathology exactly once") {
    import spark.implicits._
    val df = Seq(
      // clean: user→assistant→assistant(adjacent run)→tool w/ payload
      ("ok", 0, "user", "hi", ""), ("ok", 1, "assistant", "a", ""),
      ("ok", 2, "assistant", "b", ""), ("ok", 3, "tool", "r", "{\"x\":1}"),
      // starts with assistant
      ("headless", 0, "assistant", "reply", ""),
      // gap: run NOT counted across the gap (adjacency is by value)
      ("gapped", 0, "assistant", "a", ""), ("gapped", 2, "assistant", "b", ""),
      // duplicate turn_idx
      ("dup", 1, "user", "x", ""), ("dup", 1, "user", "y", ""),
      // does not start at zero
      ("offset", 1, "user", "x", ""), ("offset", 2, "assistant", "y", ""),
      // duplicate assistant indices: existence semantics count the
      // 0→1 adjacency ONCE (a pair-multiplicity join would say 2, a
      // lag window would depend on shuffle tie order)
      ("dupasst", 0, "assistant", "a", ""), ("dupasst", 1, "assistant", "b", ""),
      ("dupasst", 1, "assistant", "c", ""),
      // empty text / tool payload on a user turn
      ("empty", 0, "user", "", ""),
      ("badtool", 0, "user", "q", "{\"t\":1}"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    val got = TrainFormat.lintConversations(df)
      .as[(String, Int, Boolean, Boolean, Boolean, Boolean, Int, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("ok") == (("ok", 4, true, true, true, true, 1, true)))
    assert(got("headless") == (("headless", 1, false, true, true, true, 0, false)))
    assert(got("gapped") == (("gapped", 2, false, false, true, true, 0, false)))
    assert(got("dup") == (("dup", 2, true, false, true, true, 0, false)))
    assert(got("offset") == (("offset", 2, true, false, true, true, 0, false)))
    assert(got("dupasst") == (("dupasst", 3, false, false, true, true, 1, false)))
    assert(got("empty") == (("empty", 1, true, true, false, true, 0, false)))
    assert(got("badtool") == (("badtool", 1, true, true, true, false, 0, false)))
  }

  test("null text counts as one empty token in contextTrim and packSamples") {
    import spark.implicits._
    // the budgetPrefix convention: null text ≡ "" ≡ ONE token. Without
    // the coalesce, contextTrim's window sum silently skipped the null
    // tok (undercounting every suffix above it) and packSamples crashed
    // the task (null in a non-nullable Int encoder field).
    val df = Seq(
      ("c", 0, Some("a b")), ("c", 1, None: Option[String]), ("c", 2, Some("x")))
      .toDF("conv_id", "turn_idx", "text")
    val trim = TrainFormat.contextTrim(df, 2)
      .orderBy("turn_idx")
      .select("turn_idx", "suffix_tokens", "kept")
      .as[(Int, Long, Boolean)].collect().toSeq
    // suffix sums: turn2=1, turn1=1+1(null→one token)=2, turn0=4
    assert(trim == Seq((0, 4L, false), (1, 2L, true), (2, 1L, true)))
    val pack = TrainFormat.packSamples(df, 2)
      .orderBy("turn_idx")
      .select("turn_idx", "sample_idx", "tok")
      .as[(Int, Int, Int)].collect().toSeq
    // toks 2,1,1 → sample 0 holds turn0 (acc 2), turn1 overflows → sample 1
    assert(pack == Seq((0, 0, 2), (1, 1, 1), (2, 1, 1)))
  }

  test("a real tokenizer threads through contextTrim and packSamples budgets") {
    import spark.implicits._
    // merged-BPE counts (committed merge table, Python-anchored):
    // "the and" = 1 + 2 = 3, "thing" = 2, "nation" = 4 — the budgets
    // below split differently than the whitespace counts (2, 1, 1)
    // would, proving the counter is live and not the approximation
    val df = Seq(("c", 0, "the and"), ("c", 1, "thing"), ("c", 2, "nation"))
      .toDF("conv_id", "turn_idx", "text")
    val bpe = Some(graft.functions.Bpe.countTokens _)
    val trim = TrainFormat.contextTrim(df, 6, tokenCounter = bpe)
      .orderBy("turn_idx").select("turn_idx", "suffix_tokens", "kept")
      .as[(Int, Long, Boolean)].collect().toSeq
    // suffix sums in MERGED tokens: turn2=4, turn1=6, turn0=9
    assert(trim == Seq((0, 9L, false), (1, 6L, true), (2, 4L, true)))
    val pack = TrainFormat.packSamples(df, 5, tokenCounter = bpe)
      .orderBy("turn_idx").select("turn_idx", "sample_idx", "tok")
      .as[(Int, Int, Int)].collect().toSeq
    // toks 3,2,4: turn1 fits (3+2=5 ≤ 5), turn2 overflows → sample 1
    assert(pack == Seq((0, 0, 3), (1, 0, 2), (2, 1, 4)))
  }

  test("plan shape: one conv_id exchange each, no global funnel") {
    import spark.implicits._
    val df = (0 until 40)
      .map(i => (s"c${i % 5}", i / 5, if (i % 2 == 0) "user" else "assistant", s"text $i"))
      .toDF("conv_id", "turn_idx", "role", "text")
    // renderChat: the typed kernel shuffles the payload ONCE (the
    // window+aggregate alternative shuffles it twice — see Scaladoc)
    val render = TrainFormat.renderChat(df)
      .queryExecution.executedPlan.toString
    assert(!render.contains("SinglePartition"), render)
    assert("Exchange hashpartitioning\\(".r
      .findAllIn(render).length == 1, render)
    // packSamples: one repartition exchange feeding the streaming walk
    val pack = TrainFormat.packSamples(df, 10)
      .queryExecution.executedPlan.toString
    assert(!pack.contains("SinglePartition"), pack)
    assert("Exchange hashpartitioning\\(".r
      .findAllIn(pack).length == 1, pack)
    // contextTrim: one window exchange, no join (the self-join lives
    // only in the oracle), and the frame must be the incremental
    // unbounded-PRECEDING range sum — an unbounded-FOLLOWING frame is
    // recomputed from scratch per row, O(n²) in the giant conversation
    val trim = TrainFormat.contextTrim(df, 10)
      .queryExecution.executedPlan.toString
    assert(!trim.contains("SinglePartition"), trim)
    assert("Exchange hashpartitioning\\(".r
      .findAllIn(trim).length == 1, trim)
    assert(!trim.contains("Join"), trim)
    assert(!trim.contains("unboundedfollowing"), trim)
    // lintConversations: a single pure groupBy — one exchange (no
    // window, no distinct-aggregate expand adding a second one)
    val lint = TrainFormat.lintConversations(
      df.withColumn("tool", lit("")))
      .queryExecution.executedPlan.toString
    assert(!lint.contains("SinglePartition"), lint)
    assert("Exchange hashpartitioning\\(".r
      .findAllIn(lint).length == 1, lint)
  }

  test("incrementalDedup: exact flags, Bloom superset, empty history") {
    import spark.implicits._
    val batch = (0L until 300L).map(i => (i, s"doc text number ${i % 120}"))
      .toDF("doc_id", "text")
    val history = (0L until 120L).filter(_ % 3 == 0)
      .map(i => s"doc text number $i").toDF("text")
    val got = Dedup.incrementalDedupWithHandles(batch, history, "doc_id", "text", fpp = 0.2)._1
      .select("doc_id", "bloom_hit", "is_dup")
      .as[(Long, Boolean, Boolean)].collect()
    assert(got.length == 300)
    val histSet = (0L until 120L).filter(_ % 3 == 0)
      .map(i => s"doc text number $i").toSet
    for ((id, hit, dup) <- got) {
      assert(dup == histSet.contains(s"doc text number ${id % 120}"), s"id=$id")
      assert(!dup || hit, s"Bloom false negative at id=$id")
    }
    // empty history: everything is new, nothing crashes on the
    // degenerate filter
    val none = Dedup.incrementalDedupWithHandles(batch, history.limit(0), "doc_id", "text")._1
      .select("is_dup").as[Boolean].collect()
    assert(none.length == 300 && none.forall(_ == false))
    // null text: definitively new (null-safe probe), never an NPE
    val withNull = batch.unionByName(
      Seq((300L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val nullRow = Dedup.incrementalDedupWithHandles(withNull, history, "doc_id", "text")._1
      .filter(col("doc_id") === 300L)
      .select("bloom_hit", "is_dup").as[(Boolean, Boolean)].collect()
    assert(nullRow.toSeq == Seq((false, false)))
  }
}
