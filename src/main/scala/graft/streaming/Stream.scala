package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Extract, ExtractConfig}

/** Structured Streaming surface. The reference is batch-only (its
  * "streaming" means constant-memory iteration — SURVEY §2.5), so this
  * is an extension the 100 TB deployment needs: continuous extraction
  * over arriving transcript files and watermarked windowed aggregation
  * over the event stream. The SAME per-turn kernel runs in both modes
  * — `Extract.extractTurn` inside `mapPartitions` is mode-agnostic.
  */
object Stream {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** Continuous extraction: file stream of turn .jsonl → per-turn
    * extraction. No shuffle in the streaming plan — partition-local
    * kernel, so throughput scales with input partitioning.
    */
  def extractStream(spark: SparkSession, inputDir: String,
      cfg: ExtractConfig = ExtractConfig()): Dataset[ExtractedTurn] = {
    import spark.implicits._
    spark.readStream.schema(turnSchema).json(inputDir)
      .as[Turn]
      .mapPartitions(_.map(t => Extract.extractTurn(t, cfg)))
  }

  /** Watermarked tumbling-window aggregation over events — the
    * streaming twin of the batch `q_window_agg` query (same window
    * semantics, plus late-data eviction).
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).getField("start").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** Streaming exact dedup — the continuous twin of
    * `Dedup.exactSurvivors`: `dropDuplicatesWithinWatermark` on the
    * content hash, so state for hashes older than the watermark is
    * actually EVICTED (a plain `dropDuplicates("text_hash")` keeps one
    * state entry per distinct hash forever — the event-time column
    * must participate for eviction; at 100 TB/day that is an OOM, not
    * "bounded state"). A duplicate arriving after the horizon is the
    * documented trade-off of every streaming dedup.
    */
  def dedupStream(df: DataFrame, textCol: String, tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    df.withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming per-turn language id + quality flags over the extracted
    * stream — shuffle-free (row-local Columns on top of the kernel).
    */
  def langIdStream(extracted: Dataset[ExtractedTurn]): DataFrame =
    extracted.toDF().select(col("conv_id"), col("turn_idx"),
      graft.operators.TextStats.langId(col("extractedText")).as("lang_id"),
      length(col("extractedText")).as("n_chars"))

  /** Streaming ingest-quality gate over any streaming document frame:
    * the full Gopher rule verdict, PII redaction and BPE token count
    * as pure row-local Columns — the SAME kernels the batch
    * `q_quality_gopher` / `q_redact` queries oracle — so the
    * micro-batch plan carries NO state store and NO shuffle: the gate
    * runs at ingest wire speed and scales linearly with executors.
    */
  def qualityStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g = graft.operators.TextStats.gopherCols(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      g.ok.as("gopher_ok"),
      graft.operators.TextStats.redactPii(col(textCol)).as("redacted"),
      graft.operators.TextStats.bpeTokenCount(col(textCol)).as("n_bpe_tokens"))
  }

  /** Parquet sink with checkpointing (exactly-once file sink). */
  def toParquetSink(ds: Dataset[ExtractedTurn], outDir: String,
      checkpointDir: String): DataStreamWriter[ExtractedTurn] =
    ds.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)

  /** Streaming ingest with HISTORY dedup — the streaming twin of the
    * q_pipeline_e2e batch composition, via `foreachBatch`:
    *
    *  1. stateless quality gate (Gopher verdict — pure Columns, no
    *     state store, no shuffle);
    *  2. first-occurrence dedup WITHIN the micro-batch (md5 keyed —
    *     `incrementalDedupWithHandles` only answers "seen in history?", so
    *     intra-batch copies are collapsed here);
    *  3. [[graft.operators.Dedup.incrementalDedupWithHandles]] against the
    *     history AS OF THIS BATCH — the Bloom prefilter is rebuilt
    *     from `historyDir` each micro-batch, so batch N's survivors
    *     are visible to batch N+1 without any stream-side state;
    *  4. fresh, quality-passing rows append to `historyDir` (the
    *     history IS the output corpus).
    *
    * State lives entirely in the history store: the streaming side
    * carries no state operator, so a restart resumes from the sink
    * checkpoint and the history without replaying verdicts. At scale
    * the per-batch history read is one parquet scan narrowed to the
    * text column (the Bloom build), amortized by micro-batch size.
    */
  def ingestWithHistoryDedup(docs: DataFrame, idCol: String, textCol: String,
      historyDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(historyDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val history: DataFrame =
          if (fs.exists(new org.apache.hadoop.fs.Path(historyDir)))
            spark.read.parquet(historyDir)
          else batch.limit(0)
        val passing = batch
          .filter(graft.operators.TextStats.gopherCols(col(textCol)).ok)
          // intra-batch first occurrence by arrival id: min_by keeps
          // the lowest id per text hash (map-side combinable — the
          // canonicalSurvivors shape, no per-key sort task)
          .withColumn("__h", md5(col(textCol)))
        val firstIds = passing.groupBy(col("__h"))
          .agg(min(col(idCol)).as(idCol)).drop("__h")
        // the leftsemi keeps every row bearing a winning id — an
        // at-least-once source can deliver the SAME row twice in one
        // batch, so collapse to one row per id (byte-identical rows,
        // deterministic pick) before the history append
        val batchUnique = passing.join(firstIds, Seq(idCol), "leftsemi")
          .dropDuplicates(idCol).drop("__h")
        // unpersist the handles after the append materializes: the
        // SQL CacheManager holds cached plans until an explicit
        // release, so dropping them would leak two cached
        // frames PER MICRO-BATCH — one of them the full (growing)
        // history key set — unbounded executor storage growth on a
        // standing stream
        val (flags, cached) = graft.operators.Dedup.incrementalDedupWithHandles(
          batchUnique, history, idCol, textCol)
        try batchUnique
          .join(flags.filter(!col("is_dup")).select(col(idCol)), Seq(idCol), "leftsemi")
          .write.mode("append").parquet(historyDir)
        finally cached.foreach(_.unpersist())
        ()
      }
      .start()
}
