package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM generates the inputs, warms up, and
  * then either measures the workload end to end (`--trace 0`) or times
  * each layer from outside (`--trace 1`). The last stdout line is the
  * result object.
  *
  * {{{
  * perfbench.Main --workload extract --seed 1 --seconds 25 --trace 0 \
  *   --work <work dir> --nproc 4
  * }}}
  */
object Main {

  /** Least time the full-input warm-ups at width nproc take. */
  private val FullWarmS = 5.0

  /** One timed operation as the run saw it. */
  private final case class Sample(width: Int, r: OpResult, fromMs: Long, toMs: Long, gcS: Double)

  private final class Run(val w: Workload, val nproc: Int) {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var extraAttempted = 0
    var extraFailed = 0

    /** One timed operation at `width` task slots, after a full
      * collection outside the clock. */
    def timed(spark: SparkSession, width: Int): Sample = {
      val from = Jvm.uptimeMs
      System.gc()
      val gc0 = Jvm.gcMillis
      val r = Width.limit(spark, nproc, width)(w.op(spark, full = true))
      val s = Sample(width, r, from, Jvm.uptimeMs, (Jvm.gcMillis - gc0) / 1e3)
      samples += s
      Log(f"${w.name} width=$width op=${r.seconds}%.3fs ok=${r.ok}")
      s
    }

    /** Two untimed operations on the warm-up input at `width`. */
    def warm(spark: SparkSession, width: Int): Unit =
      for (_ <- 1 to 2) {
        val r = Width.limit(spark, nproc, width)(w.op(spark, full = false))
        Log(f"${w.name} warm-up width=$width ${r.seconds}%.3fs")
      }

    /** The set-up's warm-ups. At width nproc one operation on the
      * warm-up input pays the cold start; then, when `width1`, two at
      * width 1 (which leave cores free for the JIT compiler threads);
      * then the whole-output check runs the operation on the full
      * input, and more full-input operations follow until those have
      * taken `FullWarmS`, so that short operations reach steady
      * compiled code before the window opens. */
    def warmAndVerify(spark: SparkSession, width1: Boolean): Unit = {
      w.op(spark, full = false)
      if (width1) warm(spark, 1)
      val (ok, verifyS) = Stats.time(w.verify(spark))
      check(ok)
      Log(f"${w.name} verified ok=$ok in $verifyS%.3fs")
      var spent = verifyS
      while (spent < FullWarmS) {
        val r = w.op(spark, full = true)
        Log(f"${w.name} warm-up width=$nproc full ${r.seconds}%.3fs")
        spent += r.seconds
      }
    }

    def check(ok: Boolean): Unit = { extraAttempted += 1; if (!ok) extraFailed += 1 }

    def attempted: Int = samples.size + extraAttempted
    def failed: Int = samples.count(!_.r.ok) + extraFailed

    def medianS(width: Int): Double = Stats.median(samples.filter(_.width == width).map(_.r.seconds).toSeq)

    /** Median over operations of the largest heap left after a
      * collection during each one. */
    def peakHeapMb: Double = {
      Jvm.settle()
      Stats.median(samples.map(s => Jvm.peakAfterGc(s.fromMs, s.toMs) / 1048576.0).toSeq)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts("work")
    val nproc = opts("nproc").toInt
    val seed = opts("seed").toLong
    Jvm.install()
    val spark = Sessions.start(nproc, work)
    val bootS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    val code =
      try {
        if (opts.get("train").contains("1")) train(spark, nproc, work)
        else if (opts("trace") == "1") traced(spark, Workload(opts("workload"), work, seed), nproc, work, seed)
        else untraced(spark, Workload(opts("workload"), work, seed), nproc, work, opts("seconds").toDouble, bootS)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(code)
  }

  /** Class-loading pass for the build's shared class archive: every
    * workload's operation once on its warm-up input, at both widths. */
  private def train(spark: SparkSession, nproc: Int, work: String): Unit =
    for (name <- Seq("extract", "checkpoint_resume", "near_dup")) {
      val w = Workload(name, work, 0L)
      w.generate(spark)
      for (width <- Seq(nproc, 1)) Width.limit(spark, nproc, width)(w.op(spark, full = false))
    }

  /** End-to-end run: after two warm-up operations at each width, the
    * widths nproc and 1 alternate operation by operation until the
    * window is used up. */
  private def untraced(spark: SparkSession, w: Workload, nproc: Int, work: String,
      seconds: Double, bootS: Double): Unit = {
    val run = new Run(w, nproc)
    val genS = Stats.time(w.generate(spark))._2
    val warmS = Stats.time(run.warmAndVerify(spark, width1 = true))._2
    val setupS = bootS + genS + warmS
    Log(f"setup boot=$bootS%.2fs gen=$genS%.2fs warm=$warmS%.2fs")
    // widths alternate, the one with fewer samples first; an operation
    // starts only if its width's last time still fits in the window
    val t0 = System.nanoTime()
    val last = mutable.Map(nproc -> 0.0, 1 -> 0.0)
    def fits(width: Int) = (System.nanoTime() - t0) / 1e9 + last(width) <= seconds
    var next = Seq(nproc, 1).sortBy(wd => run.samples.count(_.width == wd)).find(fits)
    while (next.nonEmpty) {
      val width = next.get
      last(width) = run.timed(spark, width).r.seconds
      next = Seq(nproc, 1).sortBy(wd => run.samples.count(_.width == wd)).find(fits)
    }
    val rps = w.rows / run.medianS(nproc)
    val rps1 = w.rows / run.medianS(1)
    val info = Json.obj(Seq(
      "workload" -> Json.str(w.name), "nproc" -> Json.num(nproc), "widths" -> s"[$nproc,1]",
      "rows" -> Json.num(w.rows.toDouble), "seconds_w" -> Json.arr(run.samples.filter(_.width == nproc).map(_.r.seconds)),
      "seconds_w1" -> Json.arr(run.samples.filter(_.width == 1).map(_.r.seconds)),
      "boot_s" -> Json.num(bootS), "gen_s" -> Json.num(genS), "warm_s" -> Json.num(warmS)))
    println(info)
    emit(run, Map(
      "setup_s" -> ("s", setupS),
      "rows_per_s" -> ("1/s", rps),
      "rows_per_s_w1" -> ("1/s", rps1),
      "scaling_efficiency" -> ("ratio", rps / (nproc * rps1)),
      "peak_heap_mb" -> ("MB", run.peakHeapMb)))
  }

  /** Per-layer run: the selected workload's operation without and with
    * the benchmark's listener, then every layer probe. */
  private def traced(spark: SparkSession, w: Workload, nproc: Int, work: String, seed: Long): Unit = {
    val all = Seq(w) ++ Seq("extract", "checkpoint_resume", "near_dup").filterNot(_ == w.name)
      .map(Workload(_, work, seed))
    all.foreach(_.generate(spark))
    val run = new Run(w, nproc)
    run.warmAndVerify(spark, width1 = false)
    val plain = (1 to 2).map(_ => run.timed(spark, nproc))
    val stats = TaskStats.attach(spark)
    val withListener = (1 to 2).map(_ => run.timed(spark, nproc))
    stats.take()
    val metrics = mutable.LinkedHashMap.empty[String, (String, Double)]
    metrics("jvm.gc_s") = ("s", Stats.median(plain.map(_.gcS)))
    metrics("trace.overhead_s") = ("s",
      Stats.median(withListener.map(_.r.seconds)) - Stats.median(plain.map(_.r.seconds)))
    for (other <- all) {
      if (other ne w) {
        new Run(other, nproc).warm(spark, nproc)
      }
      val layer = other match {
        case e: ExtractWorkload => Probes.extract(spark, e, stats)
        case c: CheckpointWorkload => Probes.io(spark, c)
        case n: NearDupWorkload => Probes.dedup(spark, n, stats)
      }
      run.check(true)
      layer.foreach { case (k, v) => metrics(k) = (unitOf(k), v) }
    }
    TaskStats.detach(spark, stats)
    emit(run, metrics.toMap)
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_us")) "us"
    else if (name.endsWith("_s") || name.endsWith("_s_p50") || name.endsWith("_s_max")) "s"
    else if (name.endsWith("bytes_per_row")) "B/row"
    else if (name.endsWith("_bytes")) "B"
    else if (name.endsWith("_per_turn")) "1/turn"
    else if (name.endsWith("skew") || name.endsWith("yield") || name.endsWith("amplification")) "ratio"
    else "count"

  private def emit(run: Run, metrics: Map[String, (String, Double)]): Unit = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (unit, v)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a finite number")
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    val correct = run.failed == 0
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString, "metrics" -> Json.obj(ms))))
    System.out.flush()
  }
}

/** The few JSON shapes the result line needs. */
object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String = if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
