package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Extract, ExtractConfig}

/** Chunked checkpoint/resume for the extraction job (north rule:
  * per-partition progress, exactly-once resumability, lineage +
  * metrics).
  *
  * One protocol, over a source partitioned by chunk, so the ORIGINAL
  * input is scanned exactly once no matter how many chunks there are:
  *
  *  1. '''Bucket''' ([[bucketSource]], one scan): the input is written
  *     to `<src>/chunk=<k>`, partitioned by the same salted key the
  *     kernel partitions on
  *     (`pmod(hash(conv_id, turn_idx/salt), numChunks)`), committed
  *     with a `_BUCKETED_DONE` marker carrying the chunk count and a
  *     fresh layout id. On a real deployment the input is an Iceberg
  *     table already bucketed by `bucket(conv_id)` (SURVEY §4) and
  *     [[runAllBucketed]] reads it in place; [[runAll]] is the same run
  *     over a copy that [[stage]] buckets into `out/_staged`.
  *  2. '''Per chunk''': read ONLY `<src>/chunk=k` (partition-pruned
  *     scan), extract, write `out/chunk=<k>` with mode=overwrite, and
  *     commit a `_DONE_<k>` marker carrying the chunk's row count +
  *     metrics. Metrics come from an [[Observation]] on the write job
  *     itself — the written files are never re-read.
  *
  * Provenance: `out/_SRC_LAYOUT` records the source's layout marker and
  * `out/_OUT_SCHEMA` this build's schema fingerprint. A resume must
  * match both; a dir holding prior output without a `_SRC_LAYOUT`
  * record is refused, never adopted.
  *
  * Markers are committed via write-temp + ATOMIC_MOVE, so a crash
  * mid-marker-write can never leave a truncated marker that resume
  * would treat as a completed chunk. Resume skips chunks whose marker
  * exists; a chunk that crashed mid-write is simply overwritten —
  * overwrite-by-chunk makes the retry idempotent, so the end state
  * equals a single uninterrupted run (exactly-once observable effect,
  * at-least-once execution).
  *
  * On a real cluster the same protocol rides Iceberg: one
  * `overwrite-by-filter(chunk = k)` snapshot commit per chunk with the
  * metrics in snapshot summary properties; `_DONE_` markers are the
  * filesystem stand-in this sandbox can test.
  */
object Checkpoint {

  final case class ChunkResult(chunk: Int, rows: Long, skipped: Boolean)

  private def markerPath(outDir: String, k: Int) = Paths.get(outDir, s"_DONE_$k")
  private def stagedDir(outDir: String) = s"$outDir/_staged"
  private def bucketedMarker(srcDir: String) = Paths.get(srcDir, "_BUCKETED_DONE")
  private def layoutMarker(outDir: String) = Paths.get(outDir, "_SRC_LAYOUT")

  private def commitMarker(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Fingerprint of the checkpoint dir's on-disk schemas (input [[Turn]]
    * + output [[ExtractedTurn]], by field name and Catalyst type).
    * Adding a field to either case class changes the chunk parquet
    * layout — without this record a pre-upgrade output dir's valid
    * markers would let chunks skip as "done" and `readOutput(...).as[
    * ExtractedTurn]` then dies with an opaque AnalysisException instead
    * of an actionable resume error.
    */
  private[graft] val schemaFingerprint: String = {
    import org.apache.spark.sql.Encoders
    val desc = Encoders.product[Turn].schema.catalogString + "|" +
      Encoders.product[ExtractedTurn].schema.catalogString
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(desc.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
  }

  private def schemaMarker(outDir: String) = Paths.get(outDir, "_OUT_SCHEMA")

  /** Resume-time schema gate: a fresh output dir records this build's
    * fingerprint; a resumed dir must carry a MATCHING record — a
    * mismatch, or a pre-fingerprint dir (markers but no record), is
    * rejected with the same clear-the-dir error the layout guard uses.
    */
  private def checkOrRecordSchema(outDir: String, adopting: Boolean): Unit = {
    val p = schemaMarker(outDir)
    if (Files.exists(p)) {
      val recorded = Files.readString(p).trim
      require(recorded == schemaFingerprint,
        s"$outDir was written with schema fingerprint $recorded but this " +
          s"build produces $schemaFingerprint — the Turn/ExtractedTurn " +
          "schema changed between builds; clear the output dir instead " +
          "of resuming (stale chunks would fail to deserialize)")
    } else if (adopting) {
      throw new IllegalArgumentException(
        s"requirement failed: $outDir carries completion markers but no " +
          "_OUT_SCHEMA record (written by a pre-fingerprint build) — its " +
          "chunk schema cannot be proven to match this build; clear the " +
          "output dir instead of resuming")
    } else commitMarker(p, schemaFingerprint)
  }

  /** The provenance gate in front of every chunk loop. A dir with a
    * `_SRC_LAYOUT` record resumes only against the layout it names — a
    * mismatch means the source was re-bucketed under it and its
    * `_DONE_` markers are stale. A dir without one must hold no prior
    * output; `layoutKey` is then evaluated (after that check) and
    * recorded. Either way the schema fingerprint must match.
    */
  private def claimOutput(outDir: String, layoutKey: => String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val outLayout = layoutMarker(outDir)
    val prior = priorOutputEntries(outDir)
    val resuming = Files.exists(outLayout)
    if (resuming) {
      val recorded = Files.readString(outLayout).trim
      val current = layoutKey
      require(recorded == current,
        s"$outDir was produced from a different source layout " +
          s"($recorded vs $current) — the source was re-bucketed; " +
          "clear the output dir instead of resuming against stale markers")
    } else {
      // data of unknown provenance (outputs of an older build, partial
      // writes from a crashed run, chunk ids beyond a smaller
      // re-bucketed layout) must NOT be adopted under the current
      // layout: checking only the CURRENT chunk ids would let stale
      // marker-less chunk=k dirs slip through and be swept up by
      // readOutput's chunk=* glob — refuse ANY existing marker or chunk dir
      require(prior.isEmpty,
        s"$outDir contains prior output (${prior.take(5).mkString(", ")}…) " +
          "but no _SRC_LAYOUT record — cannot prove it matches this " +
          "source layout; clear the output dir (or restore its " +
          "_SRC_LAYOUT) before resuming")
      commitMarker(outLayout, layoutKey)
    }
    // adopting prior chunks only when this is a RESUME (a fresh dir was
    // just proven empty of markers/chunks above)
    checkOrRecordSchema(outDir, adopting = resuming &&
      prior.exists(n => n.startsWith("_DONE_") || n.startsWith("chunk=")))
  }

  /** Entries in `outDir` that belong to SOME prior checkpoint run —
    * completion markers, chunk data dirs, the layout record, or the
    * `_STAGED_DONE` marker older builds wrote. [[claimOutput]] refuses a
    * dir holding any of these without a `_SRC_LAYOUT` record.
    */
  private def priorOutputEntries(outDir: String): List[String] = {
    val s = Files.list(Paths.get(outDir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_DONE_") || n.startsWith("chunk=") ||
        n == "_SRC_LAYOUT" || n == "_STAGED_DONE")
      .toList.sorted
    finally s.close()
  }

  /** Bucket the input into `out/_staged` (one scan) and claim `outDir`
    * for that layout. Skipped when the staged layout is already
    * committed (resume).
    */
  def stage(turns: Dataset[Turn], outDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Boolean = {
    if (stagedNumChunks(outDir).nonEmpty) return false
    val src = stagedDir(outDir)
    // bucketed only once the gate has proven the dir free of prior output
    claimOutput(outDir, {
      bucketSource(turns, src, numChunks, cfg)
      Files.readString(bucketedMarker(src)).trim
    })
    true
  }

  /** Extract one staged chunk (partition-pruned read), commit output +
    * marker. Idempotent on retry.
    */
  def runChunk(spark: SparkSession, outDir: String, k: Int,
      cfg: ExtractConfig = ExtractConfig()): ChunkResult =
    runChunkFrom(spark, stagedDir(outDir), outDir, k, cfg)

  /** Extract one chunk out of a `chunk=<k>`-partitioned source dir. */
  private def runChunkFrom(spark: SparkSession, srcDir: String, outDir: String,
      k: Int, cfg: ExtractConfig): ChunkResult = {
    if (Files.exists(markerPath(outDir, k))) return ChunkResult(k, 0L, skipped = true)
    val part = bucketedChunkReader(spark, srcDir, k)
    // Partitions for the chunk job: the chunk's on-disk bytes at the
    // scan split size (spark.sql.files.maxPartitionBytes), not the
    // global shuffle width — a chunk is input/numChunks, so the global
    // width would commit ~numChunks× too many near-empty output files.
    // A floor of cores/overlapPoolSize keeps a CPU-heavy chunk with a
    // small parquet footprint off a single core (the pool's concurrent
    // chunks jointly fill the machine); at real scale bytes/split
    // dominates and the floor is inert. The session shuffle width
    // clamps the result last, so neither term can exceed it.
    val chunkPartitions: Option[Int] = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(s"$srcDir/chunk=$k")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      val split = spark.sessionState.conf.filesMaxPartitionBytes
      val width = spark.sessionState.conf.numShufflePartitions
      val floor = math.max(1,
        spark.sparkContext.defaultParallelism / overlapPoolSize)
      math.min(width.toLong,
        math.max(floor.toLong, (bytes + split - 1) / split)).toInt
    }.toOption
    // metrics observed on the write job itself — no re-read of the
    // written files (the Iceberg analogue stores these in snapshot
    // summary properties)
    val obs = Observation(s"chunk_${k}_${metricsSeq.incrementAndGet()}")
    Extract.run(part, cfg, numPartitions = chunkPartitions).observe(obs,
        count(lit(1)).as("rows"),
        coalesce(sum(col("metrics.wordCount")), lit(0L)).as("words"),
        coalesce(sum(when(col("metrics.parseFailed"), 1L).otherwise(0L)), lit(0L)).as("parse_failures"))
      .write.mode("overwrite").parquet(s"$outDir/chunk=$k")
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    commitMarker(markerPath(outDir, k),
      s"""{"chunk":$k,"rows":$rows,"words":${m("words")},"parse_failures":${m("parse_failures")}}""")
    ChunkResult(k, rows, skipped = false)
  }

  private val metricsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Partition-pruned reader for one chunk of a `chunk=`-partitioned
    * dir. Public so CheckpointSpec can assert the plan carries a
    * PartitionFilter (only chunk k's files are listed, nothing else is
    * scanned).
    */
  def bucketedChunkReader(spark: SparkSession, srcDir: String, k: Int): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(srcDir).filter(col("chunk") === k).drop("chunk").as[Turn]
  }

  /** The chunk count recorded in `srcDir`'s `_BUCKETED_DONE` marker, if any. */
  private def markedNumChunks(srcDir: String): Option[Int] = {
    val m = bucketedMarker(srcDir)
    if (!Files.exists(m)) None
    else """"num_chunks"\s*:\s*(\d+)""".r
      .findFirstMatchIn(Files.readString(m)).map(_.group(1).toInt)
  }

  /** The chunk count a previous run staged with, if any. */
  def stagedNumChunks(outDir: String): Option[Int] = markedNumChunks(stagedDir(outDir))

  /** Run everything (resuming past completed work): stage once if
    * needed, then all pending chunks through [[runAllBucketed]]. The
    * input is scanned at most once per `runAll` lifetime across any
    * number of resumes.
    *
    * A resume MUST use the chunk count the data was staged with — a
    * smaller `numChunks` would silently skip staged partitions (data
    * loss with all-green markers), a larger one would read empty dirs.
    */
  def runAll(turns: Dataset[Turn], outDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Seq[ChunkResult] = {
    stagedNumChunks(outDir).foreach { staged =>
      require(staged == numChunks,
        s"resume with numChunks=$numChunks but $outDir was staged with " +
          s"numChunks=$staged — pass $staged (or clear the output dir)")
    }
    stage(turns, outDir, numChunks, cfg)
    runAllBucketed(turns.sparkSession, stagedDir(outDir), outDir, cfg)
  }

  /** Run independent per-chunk jobs a few at a time from a small
    * driver-side thread pool (guide §2.6 "overlap independent jobs"):
    * Spark schedules concurrent jobs FIFO, so the next chunk's tasks
    * back-fill executors freed by the current chunk's tail instead of
    * idling behind its last task — and with size-derived per-chunk
    * partition counts a small chunk no longer serializes the whole
    * run. 2-4 in flight is the guide's plenty; chunks are idempotent
    * and write disjoint dirs/markers, so concurrency does not change
    * the end state. Results return in chunk order.
    *
    * Chunks are taken in COMPLETION order, so the first failure is
    * rethrown as soon as it happens, not behind a slower earlier chunk.
    * A chunk is handed to the pool only when a slot frees up, so none
    * waits in the pool's queue: after a failure no further chunk
    * starts, while the running ones finish their idempotent writes
    * (never `shutdownNow()`: interrupting a running chunk would abandon
    * its Spark job and can cut commitMarker's NIO write mid-stream).
    */
  private val overlapPoolSize = 4

  private[graft] def runChunksOverlapped(ks: Seq[Int], run: Int => ChunkResult): Seq[ChunkResult] = {
    val pool = Executors.newFixedThreadPool(math.min(overlapPoolSize, math.max(1, ks.size)))
    val completed = new ExecutorCompletionService[ChunkResult](pool)
    val pending = ks.iterator
    def submitNext(): Unit =
      if (pending.hasNext) { val k = pending.next(); completed.submit(() => run(k)) }
    try {
      (1 to overlapPoolSize).foreach(_ => submitNext())
      ks.map { _ =>
        val r = try completed.take().get()
        catch { case e: ExecutionException => throw e.getCause }
        submitNext()
        r
      }.sortBy(_.chunk)
    } finally pool.shutdown()
  }

  /** One-time layout migration: write the input partitioned by the
    * chunk key. The filesystem stand-in for creating the Iceberg table
    * `PARTITIONED BY (bucket(numChunks, conv_id-salt))` that SURVEY §4
    * promises — after this, every checkpointed run uses
    * [[runAllBucketed]] with ZERO staging writes.
    */
  def bucketSource(turns: Dataset[Turn], srcDir: String, numChunks: Int,
      cfg: ExtractConfig = ExtractConfig()): Unit = {
    val chunkExpr = pmod(hash(col("conv_id"), floor(col("turn_idx") / cfg.saltChunkSize)),
      lit(numChunks))
    turns.toDF().withColumn("chunk", chunkExpr)
      .write.mode("overwrite").partitionBy("chunk").parquet(srcDir)
    // layout identity: a fresh token per bucketing run, so a resume
    // against RE-bucketed data (new chunk count or new contents) is
    // detectable — the Iceberg analogue is the table's snapshot id
    commitMarker(bucketedMarker(srcDir),
      s"""{"num_chunks":$numChunks,"layout_id":"${java.util.UUID.randomUUID()}"}""")
  }

  /** Chunk ids of a `chunk=`-partitioned source dir: `0 until
    * num_chunks` when a `_BUCKETED_DONE` marker records the count (empty
    * chunks write no `chunk=k` dir but still get a result and a marker),
    * else the directory layout — the Iceberg analogue reads the
    * partition spec.
    */
  def bucketedChunks(spark: SparkSession, srcDir: String): Seq[Int] =
    markedNumChunks(srcDir).map(0 until _).getOrElse {
      val p = new org.apache.hadoop.fs.Path(srcDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("chunk="))
        .map(_.stripPrefix("chunk=").toInt)
        .sorted
    }

  /** The chunk loop over a source already partitioned by the chunk key
    * — the Iceberg `bucket(conv_id)` deployment layout, or the copy
    * [[stage]] wrote. Every chunk partition-prunes the source directly:
    * no staging write, no second full-input materialization, and each
    * source file is read exactly once across the whole run (one pruned
    * scan per chunk, chunks partition the files). Chunks with a
    * `_DONE_` marker are skipped, interrupted chunks are idempotently
    * overwritten.
    */
  def runAllBucketed(spark: SparkSession, srcDir: String, outDir: String,
      cfg: ExtractConfig = ExtractConfig()): Seq[ChunkResult] = {
    val chunks = bucketedChunks(spark, srcDir)
    require(chunks.nonEmpty, s"$srcDir has no chunk= partitions — " +
      "bucket it once with bucketSource(), or use runAll() to stage")
    // layout key: the bucketSource marker (layout id + chunk count)
    // when present, else the observed chunk list
    claimOutput(outDir,
      if (Files.exists(bucketedMarker(srcDir))) Files.readString(bucketedMarker(srcDir)).trim
      else s"""{"chunks":"${chunks.mkString(",")}"}""")
    runChunksOverlapped(chunks, k => runChunkFrom(spark, srcDir, outDir, k, cfg))
  }

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/chunk=*").as[ExtractedTurn]
  }
}
