package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Checkpoint
import graft.model.Turn
import graft.operators.Dedup
import graft.pipeline.Extract

/** One timed operation: its clock time, and whether its output passed
  * the workload's check (checked outside the clock). */
final case class OpResult(seconds: Double, ok: Boolean)

/** A workload: seeded inputs, one repeatable operation and its check.
  * `op(full = false)` runs the same operation on the small warm-up
  * input. */
abstract class Workload(val name: String, val rows: Long, val work: String, val seed: Long) {
  def generate(spark: SparkSession): Unit
  def op(spark: SparkSession, full: Boolean): OpResult
  /** Whole-output check on the full input, run once per run before the
    * timed window. */
  def verify(spark: SparkSession): Boolean = op(spark, full = true).ok
}

object Workload {
  /** Sizes: as large as a run with both widths allows within its time
    * budget on a 4-core host (see perfbench/README.md). */
  val ExtractTurns = 32000L
  val CheckpointTurns = 10000L
  val CheckpointChunks = 8
  val NearDupDocs = 12000L
  val NearDupMega = 240L
  /** The warm-up input is this fraction of the timed one. */
  val WarmShare = 8

  def apply(name: String, work: String, seed: Long): Workload = name match {
    case "extract" => new ExtractWorkload(work, seed)
    case "checkpoint_resume" => new CheckpointWorkload(work, seed)
    case "near_dup" => new NearDupWorkload(work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def turns(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Turn]
  }
}

/** Typed scan → `Extract.run` (salted exchange + fused kernel +
  * `observe`) → count of the rows that were not quarantined. */
final class ExtractWorkload(work: String, seed: Long)
    extends Workload("extract", Workload.ExtractTurns, work, seed) {
  val turnsDir = s"$work/extract/turns"
  val expectedDir = s"$work/extract/expected"
  val warmDir = s"$work/extract/warm"

  def generate(spark: SparkSession): Unit = {
    Inputs.writeTranscripts(spark, rows, seed, 16, turnsDir, expectedDir)
    Inputs.writeTranscripts(spark, rows / Workload.WarmShare, seed + 1, 4, warmDir, null)
  }

  def extractCount(spark: SparkSession, dir: String): Long =
    Extract.run(Workload.turns(spark, dir)).filter(col("metrics.parseFailed") === false).count()

  def op(spark: SparkSession, full: Boolean): OpResult = {
    val (n, s) = Stats.time(extractCount(spark, if (full) turnsDir else warmDir))
    OpResult(s, !full || n == rows)
  }

  /** Every turn's text equals the oracle text of its document, and no
    * row is quarantined. */
  override def verify(spark: SparkSession): Boolean = {
    val out = Extract.run(Workload.turns(spark, turnsDir)).toDF()
      .select(col("conv_id"), col("turn_idx"), col("extractedText"), col("metrics.parseFailed").as("failed"))
    val joined = out.join(spark.read.parquet(expectedDir), Seq("conv_id", "turn_idx"))
    val r = joined.agg(count(lit(1)), sum(when(col("failed") ||
      !(col("extractedText") <=> col("expected")), 1).otherwise(0))).head()
    val ok = r.getLong(0) == rows && r.getLong(1) == 0L
    if (!ok) Log(s"extract verify failed: joined=${r.get(0)} bad=${r.get(1)}")
    ok
  }
}

/** `Checkpoint.runAll` into a fresh directory with 8 chunks, then two
  * chunks' outputs and `_DONE_` markers are deleted as if the job had
  * crashed, and `runAll` resumes. The operation's time is the clean run
  * plus the resume. Not an end-to-end workload (see perfbench/README.md):
  * the traced run's `io` probe uses its input, and its operation warms
  * the probe up. */
final class CheckpointWorkload(work: String, seed: Long)
    extends Workload("checkpoint_resume", Workload.CheckpointTurns, work, seed) {
  val turnsDir = s"$work/checkpoint/turns"
  val warmDir = s"$work/checkpoint/warm"
  private val chunks = Workload.CheckpointChunks
  /** The two chunks the simulated crash loses, picked by the seed. */
  val lost: Set[Int] = {
    val a = java.lang.Math.floorMod(seed, chunks.toLong).toInt
    Set(a, (a + 1 + java.lang.Math.floorMod(seed / chunks, (chunks - 1).toLong).toInt) % chunks)
  }
  private var opSeq = 0

  def generate(spark: SparkSession): Unit = {
    Inputs.writeTranscripts(spark, rows, seed, 4, turnsDir, null)
    Inputs.writeTranscripts(spark, rows / Workload.WarmShare, seed + 1, 1, warmDir, null)
  }

  def outDir(): String = { opSeq += 1; s"$work/checkpoint/out-$opSeq" }

  def loseChunks(out: String): Unit = lost.foreach { k =>
    Inputs.deleteTree(s"$out/chunk=$k")
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, s"_DONE_$k"))
  }

  /** (conv_id, turn_idx, hash of the whole row), in key order. */
  def fingerprint(spark: SparkSession, out: String): Seq[(String, Int, Long)] = {
    val df = Checkpoint.readOutput(spark, out).toDF()
    df.select(col("conv_id"), col("turn_idx"), xxhash64(df.columns.map(col).toIndexedSeq: _*))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(r => (r._1, r._2)).toSeq
  }

  def op(spark: SparkSession, full: Boolean): OpResult = {
    val turns = Workload.turns(spark, if (full) turnsDir else warmDir)
    val out = outDir()
    try {
      val (clean, cleanS) = Stats.time(Checkpoint.runAll(turns, out, chunks))
      loseChunks(out)
      val (resumed, resumeS) = Stats.time(Checkpoint.runAll(turns, out, chunks))
      val rerun = resumed.filterNot(_.skipped)
      val expectRows = if (full) rows else rows / Workload.WarmShare
      val ok = clean.forall(!_.skipped) && clean.map(_.rows).sum == expectRows &&
        rerun.map(_.chunk).toSet == lost &&
        rerun.forall(r => clean.exists(c => c.chunk == r.chunk && c.rows == r.rows))
      if (!ok) Log(s"checkpoint check failed: clean=$clean resumed=$resumed lost=$lost")
      OpResult(cleanS + resumeS, ok)
    } finally Inputs.deleteTree(out)
  }
}

/** `Dedup.minhashLshPairs` → `Dedup.componentsWithRounds` →
  * `Dedup.canonicalFromLabels` over a planted corpus, collecting the
  * canonical ids. */
final class NearDupWorkload(work: String, seed: Long)
    extends Workload("near_dup", Workload.NearDupDocs, work, seed) {
  val docsDir = s"$work/near_dup/docs"
  val warmDir = s"$work/near_dup/warm"
  val mega: Long = Workload.NearDupMega
  private val warmDocs = rows / Workload.WarmShare
  private val warmMega = mega / Workload.WarmShare + (warmDocs - mega / Workload.WarmShare) % 3

  def generate(spark: SparkSession): Unit = {
    Inputs.writePlanted(spark, rows, mega, seed, 8, docsDir)
    Inputs.writePlanted(spark, warmDocs, warmMega, seed + 1, 4, warmDir)
  }

  def docs(spark: SparkSession, dir: String) = spark.read.parquet(dir)

  def canonicals(spark: SparkSession, dir: String): Array[Long] = {
    import spark.implicits._
    val d = docs(spark, dir)
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text").select("id_a", "id_b")
    val (labels, _) = Dedup.componentsWithRounds(d.select(col("doc_id").as("id")), pairs)
    Dedup.canonicalFromLabels(labels.withColumn("weight", lit(1.0)))
      .filter(col("is_canonical")).select(col("id")).as[Long].collect()
  }

  /** The canonical count equals the number of planted clusters and
    * every canonical is its cluster's lowest id. */
  def check(got: Array[Long], n: Long, m: Long): Boolean =
    got.sorted.sameElements(Inputs.plantedCanonicals(n, m))

  def op(spark: SparkSession, full: Boolean): OpResult = {
    val (got, s) = Stats.time(canonicals(spark, if (full) docsDir else warmDir))
    val ok = if (full) check(got, rows, mega) else check(got, warmDocs, warmMega)
    if (!ok) Log(s"near_dup check failed: ${got.length} canonicals")
    OpResult(s, ok)
  }
}
