package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.Checkpoint
import graft.pipeline.{Extract, ExtractConfig}
import graft.sources.{Serializers, Turns}

class SerializersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("jsonl round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val turns = Turns.synth(spark, TestSpark.sfDir).toDF().limit(100)
    Serializers.writeJsonl(turns, dir)
    val back = Serializers.readJsonl(spark, dir, turns.schema)
    assert(back.count() == 100)
    val a = turns.orderBy("conv_id", "turn_idx").collect()
    val b = back.orderBy("conv_id", "turn_idx").collect()
    assert(a.sameElements(b))
    assert(Serializers.readJsonl(spark, dir, turns.schema, maxDatapoints = Some(7)).count() == 7)
  }

  test("tabsep round-trip") {
    val dir = Files.createTempDirectory("graft_tsv").toString
    val df = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id").cast("string"), col("lang"), col("source")).limit(50)
    Serializers.writeTabsep(df, dir)
    val back = Serializers.readTabsep(spark, dir, Seq("doc_id", "lang", "source"))
    assert(back.count() == 50)
    assert(back.orderBy("doc_id").collect().sameElements(df.orderBy("doc_id").collect()))
  }

  test("binary file directory source sorted by path") {
    val dir = Files.createTempDirectory("graft_bin")
    Files.writeString(dir.resolve("b.txt"), "bravo")
    Files.writeString(dir.resolve("a.txt"), "alpha")
    Files.writeString(dir.resolve("c.skip"), "nope")
    val df = Serializers.readFilesDir(spark, dir.toString, "txt")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).toList == rows.map(_.getString(0)).sorted.toList)
    assert(new String(rows(0).getAs[Array[Byte]]("content")) == "alpha")
  }

  test("coco-style pre-join: annotations grouped onto images") {
    import spark.implicits._
    val images = Seq((1L, "img1"), (2L, "img2"), (3L, "empty")).toDF("id", "name")
    val anns = Seq((10L, 1L, "cat"), (11L, 1L, "dog"), (12L, 2L, "fish"))
      .toDF("id", "image_id", "label")
    val joined = Serializers.cocoPreJoin(images, anns)
    val byId = joined.collect().map(r => r.getLong(0) -> r.getAs[Long]("n_anns")).toMap
    assert(byId == Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
  }

  test("dataset registry + merge") {
    val d = Serializers.dataset("documents")(spark, TestSpark.sfDir)
    val merged = Serializers.mergeDatasets(Seq(d, d))
    assert(merged.count() == 2 * d.count())
  }
}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("kill-after-k-chunks then resume equals a single run; input scanned once") {
    import spark.implicits._
    // accumulator counts every ORIGINAL input row consumed — the
    // one-pass-staging guarantee is acc.value == input rows (k chunks
    // would have made it k× under the round-1 filter-per-chunk design)
    val scanned = spark.sparkContext.longAccumulator("input_rows_scanned")
    val turns = Turns.synth(spark, TestSpark.sfDir)
      .map { t => scanned.add(1L); t }
    val cfg = ExtractConfig(saltChunkSize = 16)

    val single = Extract.run(Turns.synth(spark, TestSpark.sfDir), cfg)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    val nInput = Turns.synth(spark, TestSpark.sfDir).count()

    val outDir = Files.createTempDirectory("graft_ckpt").toString
    scanned.reset()
    // simulate a crash: stage + run only chunks 0 and 1 of 4
    Checkpoint.stage(turns, outDir, 4, cfg)
    Checkpoint.runChunk(spark, outDir, 0, cfg)
    Checkpoint.runChunk(spark, outDir, 1, cfg)
    // resume: staging + chunk 0/1 must be skipped, 2/3 executed
    val results = Checkpoint.runAll(turns, outDir, 4, cfg)
    assert(results.count(_.skipped) == 2)
    assert(results.count(!_.skipped) == 2)
    // the original input was scanned exactly once (by staging)
    assert(scanned.value == nInput)

    val resumed = Checkpoint.readOutput(spark, outDir)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(resumed.sameElements(single))
    // markers carry row counts + metrics, committed atomically
    val marker = Files.readString(Paths.get(outDir, "_DONE_0"))
    assert(marker.contains("\"rows\"") && marker.contains("\"words\""))
    assert(!Files.exists(Paths.get(outDir, "_DONE_0.tmp")))
  }

  test("partial chunk overwrite is idempotent (re-run after marker loss)") {
    import spark.implicits._
    val turns = Turns.synth(spark, TestSpark.sfDir).limit(100)
    val cfg = ExtractConfig(saltChunkSize = 16)
    val outDir = Files.createTempDirectory("graft_ckpt2").toString
    Checkpoint.stage(turns, outDir, 2, cfg)
    val r1 = Checkpoint.runChunk(spark, outDir, 0, cfg)
    Files.delete(Paths.get(outDir, "_DONE_0")) // lost marker → retry
    val r2 = Checkpoint.runChunk(spark, outDir, 0, cfg)
    assert(!r1.skipped && !r2.skipped && r1.rows == r2.rows)
    // second stage call is a no-op (resume path)
    assert(!Checkpoint.stage(turns, outDir, 2, cfg))
  }

  test("bucketed source fast path: zero staging writes, pruned reads, resume intact") {
    import spark.implicits._
    val cfg = ExtractConfig(saltChunkSize = 16)
    val turns = Turns.synth(spark, TestSpark.sfDir)
    val srcDir = Files.createTempDirectory("graft_bucketed_src").toString
    val outDir = Files.createTempDirectory("graft_bucketed_out").toString

    // one-time layout migration (the Iceberg bucket(conv_id) stand-in)
    Checkpoint.bucketSource(turns, srcDir, 4, cfg)
    assert(Checkpoint.bucketedChunks(spark, srcDir) == Seq(0, 1, 2, 3))

    // the per-chunk reader partition-prunes: only chunk k's files are
    // listed, the other 3/4 of the source is never touched
    val plan = Checkpoint.bucketedChunkReader(spark, srcDir, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("chunk"),
      s"chunk read must push a partition filter, got:\n${plan.take(800)}")

    val results = Checkpoint.runAllBucketed(spark, srcDir, outDir, cfg)
    assert(results.length == 4 && results.forall(!_.skipped))
    // ZERO staging writes: the fast path never materializes a copy
    assert(!Files.exists(Paths.get(outDir, "_staged")))
    assert(!Files.exists(Paths.get(outDir, "_STAGED_DONE")))

    val single = Extract.run(turns, cfg)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    val got = Checkpoint.readOutput(spark, outDir)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(got.sameElements(single))

    // kill/resume: completed chunks skip, end state unchanged
    val resumed = Checkpoint.runAllBucketed(spark, srcDir, outDir, cfg)
    assert(resumed.forall(_.skipped))

    // runAll over a dir populated from ANOTHER source must refuse — its
    // _DONE_ markers describe a different layout, and skipping on them
    // would serve that run's data for runAll's (possibly different)
    // input with all-green results
    val eCross = intercept[IllegalArgumentException] {
      Checkpoint.runAll(turns, outDir, 4, cfg)
    }
    assert(eCross.getMessage.contains("different source layout"))

    // re-bucketing the source invalidates the output's markers: a
    // resume against the NEW layout must be rejected, not silently
    // skip chunks whose contents changed
    Checkpoint.bucketSource(turns, srcDir, 8, cfg)
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runAllBucketed(spark, srcDir, outDir, cfg)
    }
    assert(e.getMessage.contains("re-bucketed"))

    // markers of unknown provenance (no _SRC_LAYOUT record) must not
    // be adopted under the current layout either
    val orphanOut = Files.createTempDirectory("graft_bucketed_orphan")
    Files.writeString(orphanOut.resolve("_DONE_0"), """{"chunk":0,"rows":1}""")
    val e2 = intercept[IllegalArgumentException] {
      Checkpoint.runAllBucketed(spark, srcDir, orphanOut.toString, cfg)
    }
    assert(e2.getMessage.contains("_SRC_LAYOUT"))

    // marker-LESS leftover data dirs (partial write from a crashed
    // run, or chunk ids beyond a smaller re-bucketed layout) are just
    // as unprovable — they'd be swept up by readOutput's chunk=* glob
    val staleData = Files.createTempDirectory("graft_bucketed_stale")
    Files.createDirectory(staleData.resolve("chunk=9"))
    val e3 = intercept[IllegalArgumentException] {
      Checkpoint.runAllBucketed(spark, srcDir, staleData.toString, cfg)
    }
    assert(e3.getMessage.contains("_SRC_LAYOUT"))

    // a dir left by the older staged protocol (_STAGED_DONE, no
    // _SRC_LAYOUT record) is refused by runAll before any bucketing
    val oldStaged = Files.createTempDirectory("graft_ckpt_old")
    Files.writeString(oldStaged.resolve("_STAGED_DONE"), """{"num_chunks":4}""")
    val e4 = intercept[IllegalArgumentException] {
      Checkpoint.runAll(turns, oldStaged.toString, 4, cfg)
    }
    assert(e4.getMessage.contains("clear the output dir"))
    assert(!Files.exists(oldStaged.resolve("_staged")))
  }

  test("the first failed chunk is noticed at once and queued chunks never start") {
    // chunk 0 is slow and chunk 1 fails fast: the failure must surface
    // without waiting on chunk 0, and the chunks waiting for a pool slot
    // (4..7) must never start
    val release = new java.util.concurrent.CountDownLatch(1)
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val slowS = 5L
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Checkpoint.runChunksOverlapped(0 until 8, { k =>
        started.add(k)
        if (k == 1) throw new IllegalStateException("chunk 1 failed")
        if (k < 4) release.await(slowS, java.util.concurrent.TimeUnit.SECONDS)
        Checkpoint.ChunkResult(k, 0L, skipped = false)
      })
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    release.countDown()
    Thread.sleep(300)
    assert(e.getMessage == "chunk 1 failed")
    assert(waitedS < slowS, s"failure surfaced after ${waitedS}s, behind the slow chunk")
    assert((4 until 8).forall(k => !started.contains(k)), s"started: $started")
  }

  test("resume with a mismatched numChunks is rejected, not silently lossy") {
    val turns = Turns.synth(spark, TestSpark.sfDir).limit(100)
    val cfg = ExtractConfig(saltChunkSize = 16)
    val outDir = Files.createTempDirectory("graft_ckpt3").toString
    Checkpoint.stage(turns, outDir, 4, cfg)
    assert(Checkpoint.stagedNumChunks(outDir).contains(4))
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runAll(turns, outDir, 2, cfg)
    }
    assert(e.getMessage.contains("staged with"))
    // the staged count itself resumes fine
    assert(Checkpoint.runAll(turns, outDir, 4, cfg).length == 4)
  }

  test("runAll creates a missing (nested) output dir — fresh runs unaffected by the schema record") {
    val turns = Turns.synth(spark, TestSpark.sfDir).limit(50)
    val cfg = ExtractConfig(saltChunkSize = 16)
    val outDir = Files.createTempDirectory("graft_ckpt_fresh")
      .resolve("nested").resolve("out").toString
    assert(Checkpoint.runAll(turns, outDir, 2, cfg).length == 2)
  }

  test("runAll reports every chunk, empty ones included") {
    // 3 conversations over 8 chunks: at least 5 chunks are empty, and
    // partitionBy writes no chunk=k source dir for them
    import spark.implicits._
    val turns = Turns.synth(spark, TestSpark.sfDir).filter($"turn_idx" === 0).limit(3)
    val cfg = ExtractConfig(saltChunkSize = 16)
    val outDir = Files.createTempDirectory("graft_ckpt_empty").toString
    val results = Checkpoint.runAll(turns, outDir, 8, cfg)
    assert(results.map(_.chunk) == (0 until 8))
    assert(results.count(_.rows == 0) >= 5 && results.map(_.rows).sum == 3)
    assert(Checkpoint.readOutput(spark, outDir).count() == 3)
    assert(Checkpoint.runAll(turns, outDir, 8, cfg).forall(_.skipped))
  }

  test("resume against a different (or missing) schema fingerprint is rejected with a clear error") {
    val turns = Turns.synth(spark, TestSpark.sfDir).limit(100)
    val cfg = ExtractConfig(saltChunkSize = 16)

    // mismatch: the dir records an older build's fingerprint
    val outDir = Files.createTempDirectory("graft_ckpt_schema").toString
    Checkpoint.runAll(turns, outDir, 2, cfg)
    assert(Files.readString(Paths.get(outDir, "_OUT_SCHEMA")).trim
      == Checkpoint.schemaFingerprint)
    Files.writeString(Paths.get(outDir, "_OUT_SCHEMA"), "deadbeef00000000")
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runAll(turns, outDir, 2, cfg)
    }
    assert(e.getMessage.contains("schema") && e.getMessage.contains("clear the output dir"))

    // pre-fingerprint dir: valid markers, no _OUT_SCHEMA record — a
    // field added to ExtractedTurn means readOutput would die with an
    // opaque AnalysisException; the guard must reject up front
    Files.delete(Paths.get(outDir, "_OUT_SCHEMA"))
    val e2 = intercept[IllegalArgumentException] {
      Checkpoint.runAll(turns, outDir, 2, cfg)
    }
    assert(e2.getMessage.contains("_OUT_SCHEMA"))

    // same gate on the bucketed protocol
    val srcDir = Files.createTempDirectory("graft_ckpt_schema_src").toString
    val outB = Files.createTempDirectory("graft_ckpt_schema_outb").toString
    Checkpoint.bucketSource(turns, srcDir, 2, cfg)
    Checkpoint.runAllBucketed(spark, srcDir, outB, cfg)
    Files.writeString(Paths.get(outB, "_OUT_SCHEMA"), "deadbeef00000000")
    val e3 = intercept[IllegalArgumentException] {
      Checkpoint.runAllBucketed(spark, srcDir, outB, cfg)
    }
    assert(e3.getMessage.contains("schema"))
    Files.delete(Paths.get(outB, "_OUT_SCHEMA"))
    val e4 = intercept[IllegalArgumentException] {
      Checkpoint.runAllBucketed(spark, srcDir, outB, cfg)
    }
    assert(e4.getMessage.contains("_OUT_SCHEMA"))
  }
}

class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming extraction over a file source equals the batch run") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ck").toString
    val turns = graft.sources.Turns.synth(spark, TestSpark.sfDir).limit(200)
    turns.toDF().coalesce(2).write.mode("overwrite").json(inDir)

    val q = graft.streaming.Stream
      .toParquetSink(graft.streaming.Stream.extractStream(spark, inDir), outDir, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(outDir)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    val batch = Extract.run(turns)
      .select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(streamed.sameElements(batch))
  }

  test("watermarked windowed aggregation with late-data handling") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = graft.streaming.Stream.windowedEventCounts(events, "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("update").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    mem.addData((t(0), "click", 1.0), (t(1), "click", 2.0), (t(7), "view", 3.0))
    q.processAllAvailable()
    mem.addData((t(2), "click", 4.0)) // within watermark → still counted
    q.processAllAvailable()
    val rows = spark.table("winagg").collect()
    q.stop()
    val clicks = rows.filter(_.getString(1) == "click").map(_.getLong(2)).max
    assert(clicks == 3) // the late row updated the first window
  }
}

class StreamDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming exact dedup drops in-watermark duplicates, keeps distinct") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.Stream
      .dedupStream(mem.toDF().toDF("ts", "text"), "text")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    mem.addData((t(0), "alpha"), (t(1), "alpha"), (t(1), "beta"))
    q.processAllAvailable()
    mem.addData((t(2), "alpha"), (t(3), "gamma"))
    q.processAllAvailable()
    val rows = spark.table("dedup_stream").collect()
    q.stop()
    assert(rows.map(_.getString(1)).sorted.toList == List("alpha", "beta", "gamma"))
  }

  test("streaming quality gate equals batch and keeps no state store") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps with and that for his. more solid words here to pass"),
      (2L, "contact me at a@b.co or 555-123-4567 please"),
      (3L, "# # # # #"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.Stream
      .qualityStream(mem.toDF().toDF("id", "text"), "id", "text")
      .writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("qgate").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    // stateless: a map-only gate must not register a state operator
    assert(q.lastProgress.stateOperators.isEmpty)
    q.stop()
    val batch = graft.streaming.Stream
      .qualityStream(rows.toDF("id", "text"), "id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1)
    assert(streamed.sameElements(batch))
    // and the kernels behave: PII scrubbed, symbol-spam rejected
    assert(streamed(1)._3.contains("<EMAIL>") && streamed(1)._3.contains("<PHONE>"))
    assert(!streamed(2)._2)
  }

  test("foreachBatch ingest: history Bloom refreshes per batch, stream equals batch fold") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // Gopher gate needs ≥50 words — repeat a stopword-bearing sentence
    val base = ("the quick brown fox jumps with and that for his team " * 6).trim
    val tA = base
    val tB = base.replace("fox", "cat")
    val tC = base.replace("fox", "dog")
    val bad = "# # # # #"
    val b1 = Seq((1L, tA), (2L, tA), (3L, bad), (4L, tB))
    val b2 = Seq((5L, tA), (6L, tC), (7L, tB), (8L, bad))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    try {
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.Stream.ingestWithHistoryDedup(
        mem.toDF().toDF("id", "text"), "id", "text",
        s"$tmp/history", s"$tmp/ckpt")
      mem.addData(b1: _*)
      q.processAllAvailable()
      // batch 1: intra-batch dup (2) collapsed to first arrival (1),
      // quality reject (3) gone
      val afterB1 = spark.read.parquet(s"$tmp/history")
        .select("id").as[Long].collect().sorted.toSeq
      assert(afterB1 == Seq(1L, 4L))
      mem.addData(b2: _*)
      q.processAllAvailable()
      q.stop()
      val afterB2 = spark.read.parquet(s"$tmp/history")
        .select("id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
      // batch 2: 5 and 7 are HISTORY dups (batch 1's survivors were
      // visible through the refreshed Bloom), 8 fails quality — only
      // the fresh text C lands
      assert(afterB2.map(_._1) == Seq(1L, 4L, 6L))
      assert(afterB2.map(_._2).toSet == Set(tA, tB, tC))
      // batch twin: the same two batches folded through the BATCH
      // incrementalDedupWithHandles must keep the identical id set
      val hist1 = b1.toDF("id", "text")
        .filter(graft.operators.TextStats.gopherCols(col("text")).ok)
        .groupBy("text").agg(min("id").as("id"))
      val flags2 = graft.operators.Dedup.incrementalDedupWithHandles(
        b2.toDF("id", "text").filter(graft.operators.TextStats.gopherCols(col("text")).ok),
        hist1, "id", "text")._1
      val batchKept = hist1.select("id").as[Long].collect().toSet ++
        flags2.filter(!col("is_dup")).select("id").as[Long].collect().toSet
      assert(batchKept == Set(1L, 4L, 6L))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("streaming language id over the extraction stream equals batch") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_lang_in").toString
    val outDir = Files.createTempDirectory("graft_lang_out").toString
    val ckpt = Files.createTempDirectory("graft_lang_ck").toString
    val turns = graft.sources.Turns.synth(spark, TestSpark.sfDir).limit(100)
    turns.toDF().coalesce(1).write.mode("overwrite").json(inDir)
    val q = graft.streaming.Stream
      .langIdStream(graft.streaming.Stream.extractStream(spark, inDir))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("conv_id", "turn_idx", "lang_id").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    val batch = Extract.run(turns)
      .select($"conv_id", $"turn_idx", $"lang".as("lang_id")).as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(streamed.sameElements(batch))
  }
}
