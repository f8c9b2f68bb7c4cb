package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Checkpoint
import graft.operators.Dedup
import graft.pipeline.Extract

/** The traced run's per-layer measurements. Each probe calls one
  * layer's public functions one at a time and reads task metrics from
  * the benchmark's own listener; none of them changes the program.
  */
object Probes {

  private def typedCount(spark: SparkSession, dir: String): Long = {
    import spark.implicits._
    Workload.turns(spark, dir).mapPartitions(it => Iterator(it.size.toLong)).reduce(_ + _)
  }

  /** `sources`, `pipeline`, and the kernel replay (`kernels`, `model`,
    * `operators.langid`) on the extract input. */
  def extract(spark: SparkSession, w: ExtractWorkload, stats: TaskStats): Map[String, Double] = {
    import spark.implicits._
    val scanS = Stats.median((1 to 3).map(_ => Stats.time(typedCount(spark, w.turnsDir))._2))
    stats.take()
    val n = w.extractCount(spark, w.turnsDir)
    val (stages, observed) = stats.take()
    require(n == w.rows, s"traced extract counted $n of ${w.rows} rows")
    // the kernel stage reads the salted exchange and does the most work
    val kernel = stages.filter(_.shuffleReadBytes > 0).maxBy(_.runS)
    val quarantined = observed.collect {
      case (k, r) if k.startsWith(Extract.MetricsName) => r.getAs[Long]("parse_failures")
    }.sum
    val sample = Workload.turns(spark, w.turnsDir)
      .filter(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(20L)) === 0)
      .collect().sortBy(t => (t.conv_id, t.turn_idx))
    Map(
      "sources.scan_s" -> scanS,
      "sources.bytes_per_row" -> Inputs.fileBytes(w.turnsDir).toDouble / w.rows,
      "pipeline.kernel_stage_s" -> kernel.wallS,
      "pipeline.shuffle_bytes_per_row" -> stages.map(_.shuffleWriteBytes).sum.toDouble / w.rows,
      "pipeline.shuffle_write_s" -> stages.map(_.shuffleWriteS).sum,
      "pipeline.fetch_wait_s" -> stages.map(_.fetchWaitS).sum,
      "pipeline.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "pipeline.task_skew" -> kernel.skew,
      "pipeline.quarantined" -> quarantined.toDouble
    ) ++ KernelReplay.run(sample)
  }

  /** `io`: `Checkpoint.stage`, each `runChunk` in turn, the resume after
    * two chunks are lost, and a typed read of the output. Outside the
    * clocks it checks that the resume reran exactly the lost chunks and
    * that the resumed output equals the clean one, row for row. */
  def io(spark: SparkSession, w: CheckpointWorkload): Map[String, Double] = {
    val turns = Workload.turns(spark, w.turnsDir)
    val chunks = Workload.CheckpointChunks
    val out = w.outDir()
    try {
      val stageS = Stats.time(Checkpoint.stage(turns, out, chunks))._2
      val chunkS = (0 until chunks).map(k => Stats.time(Checkpoint.runChunk(spark, out, k))._2)
      val outBytes = (0 until chunks).map(k => Inputs.fileBytes(s"$out/chunk=$k")).sum.toDouble
      val clean = w.fingerprint(spark, out)
      w.loseChunks(out)
      val (resumed, resumeS) = Stats.time(Checkpoint.runAll(turns, out, chunks))
      val rerun = resumed.filterNot(_.skipped).map(_.chunk).toSet
      require(rerun == w.lost, s"resume reran chunks $rerun, lost ${w.lost}")
      val (n, readS) = Stats.time {
        import spark.implicits._
        Checkpoint.readOutput(spark, out).mapPartitions(it => Iterator(it.size.toLong)).reduce(_ + _)
      }
      require(n == w.rows && clean.length == n, s"checkpoint output has $n of ${w.rows} rows")
      require(w.fingerprint(spark, out) == clean, "resumed checkpoint output differs from the clean run")
      Map(
        "io.stage_s" -> stageS,
        "io.chunk_s_p50" -> Stats.median(chunkS),
        "io.chunk_s_max" -> chunkS.max,
        "io.bytes_per_row" -> outBytes / w.rows,
        "io.write_amplification" -> outBytes / Inputs.fileBytes(w.turnsDir),
        "io.resume_chunks" -> rerun.size.toDouble,
        "io.resume_s" -> resumeS,
        "io.read_back_s" -> readS)
    } finally Inputs.deleteTree(out)
  }

  /** Largest LSH band bucket: the band keys of `minhashLshPairs`'
    * defaults (3-shingles, 64 hashes, 16 bands of 4), rebuilt from the
    * public `Dedup.minhashSig`. */
  private def maxBandBucket(spark: SparkSession, dir: String): Long = {
    val sig = udf((t: String) => Dedup.minhashSig(t, 3, 64)).asNondeterministic()
    spark.read.parquet(dir).select(sig(col("text")).as("sig"))
      .select(posexplode(transform(sequence(lit(0), lit(15)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4))), b))))
      .groupBy("pos", "col").count()
      .agg(max("count")).head().getLong(0)
  }

  /** `operators.dedup`: pairs, components and survivors, each run to
    * completion before the next starts. */
  def dedup(spark: SparkSession, w: NearDupWorkload, stats: TaskStats): Map[String, Double] = {
    import spark.implicits._
    val d = w.docs(spark, w.docsDir)
    stats.take()
    val (pairs, pairsS) = Stats.time(
      Dedup.minhashLshPairs(d, "doc_id", "text").select("id_a", "id_b").localCheckpoint(true))
    val ((labels, rounds), compS) = Stats.time {
      val r = Dedup.componentsWithRounds(d.select(col("doc_id").as("id")), pairs)
      r._1.count()
      r
    }
    val (canon, survS) = Stats.time(Dedup.canonicalFromLabels(labels.withColumn("weight", lit(1.0)))
      .filter(col("is_canonical")).select(col("id")).as[Long].collect())
    val (stages, _) = stats.take()
    require(w.check(canon, w.rows, w.mega), "traced near_dup canonicals differ from the planted ones")
    val nPairs = pairs.count()
    val candidates = Dedup.minhashLshCandidates(d, "doc_id", "text").count()
    val bucket = maxBandBucket(spark, w.docsDir)
    stats.take()
    Map(
      "operators.dedup.pairs_s" -> pairsS,
      "operators.dedup.components_s" -> compS,
      "operators.dedup.survivors_s" -> survS,
      "operators.dedup.candidates" -> candidates.toDouble,
      "operators.dedup.pairs" -> nPairs.toDouble,
      "operators.dedup.verify_yield" -> nPairs.toDouble / candidates,
      "operators.dedup.rounds" -> rounds.toDouble,
      "operators.dedup.max_band_bucket" -> bucket.toDouble,
      "operators.dedup.shuffle_bytes_per_row" -> stages.map(_.shuffleWriteBytes).sum.toDouble / w.rows)
  }
}
