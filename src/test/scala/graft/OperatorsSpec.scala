package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Specs for the training-data operators: dedup family, similarity
  * search, text stats, multimodal plumbing.
  */
class DedupSpec extends AnyFunSuite with org.scalatest.PrivateMethodTester {
  lazy val spark = TestSpark.spark

  private def docsWithDups = {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
  }

  /** The LSH banding expression in Column space: band b hashes the
    * comma-joined decimal text of its signature slice, seeded by b. */
  private def sqlBands(sig: org.apache.spark.sql.Column, numHashes: Int, bands: Int) = {
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", slice(sig, b * r + 1, lit(r))), b))
  }

  /** Stages that ran a typed `mapPartitions` (the signature kernel's
    * operator; nothing else in the LSH plans is one) among the jobs
    * `body` starts from this thread. */
  private def kernelStages(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"kernel-stages-${System.nanoTime()}"
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group && e.stageInfo.rddInfos.exists(_.scope.exists(_.name == "MapPartitions")))
          stages.incrementAndGet()
        if (g == group + "-end") drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "kernel stage count")
      body
      // listener events arrive in order: once the marker job's stage is
      // seen, every stage of `body` has been seen
      sc.setJobGroup(group + "-end", "kernel stage count marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    stages.get()
  }

  test("minhash LSH finds every exact duplicate with jaccard 1.0") {
    val pairs = Dedup.minhashLshExactPairs(docsWithDups, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.filter(p => p._2 == p._1 + 10000)
    assert(exact.length == 100, s"expected 100 exact-dup pairs, got ${exact.length}")
    assert(exact.forall(_._3 == 1.0))
  }

  test("minhash LSH output equals brute-force at threshold 0.95") {
    import spark.implicits._
    val d = docsWithDups
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val sh = array_distinct(transform(sequence(lit(1), greatest(length(norm) - 2, lit(1))),
      i => norm.substr(i, lit(3))))
    val base = d.select(col("doc_id").as("id"), sh.as("sh"))
    val brute = base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
         size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= 0.95)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val lsh = Dedup.minhashLshExactPairs(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(lsh == brute)
  }

  test("shinglesOf counts code points like the SQL twins") {
    // Spark substr/length (and the DuckDB oracles) count Unicode code
    // points; Java String windows count UTF-16 units. The shared
    // dedup shingle kernel must match the SQL semantics on
    // supplementary characters (U+1F600 is two UTF-16 units, ONE code
    // point) so every oracle can restate it.
    assert(Dedup.shinglesOf("A😀b  c", 3).toSeq ==
      Seq("a😀b", "😀b ", "b c"))
    // short-text edge: whole normalized text when <= k code points
    assert(Dedup.shinglesOf("😀b", 3).toSeq == Seq("😀b"))
    assert(Dedup.shinglesOf("", 3).toSeq == Seq(""))
    // BMP fast path: normalization + windows + first-occurrence distinct
    assert(Dedup.shinglesOf("The quick", 3).toSeq ==
      Seq("the", "he ", "e q", " qu", "qui", "uic", "ick"))
    assert(Dedup.shinglesOf("aaaa", 3).toSeq == Seq("aaa"))
    assert(Dedup.shinglesOf("a  b", 3).toSeq == Seq("a b"))
    assert(Dedup.shinglesOf("ab", 3).toSeq == Seq("ab"))
  }

  test("signature rows stay bit-identical to minhashSig and carry the SQL band keys") {
    import spark.implicits._
    // the per-slot MinHash loop, restated: XXH64 (seed 42) per shingle,
    // then a xorshift-multiply re-seed per slot, minimum per slot
    def reference(text: String, k: Int, n: Int): Array[Long] = {
      val base = Dedup.shinglesOf(if (text == null) "" else text, k)
        .map(XxHash.hashUtf8(_, 42L))
      Array.tabulate(n) { i =>
        val seed = i * -7046029288634856825L + 2870177450012600261L
        base.foldLeft(Long.MaxValue) { (m, b) =>
          var h = b ^ seed
          h ^= h >>> 33; h *= -4417276706812531889L; h ^= h >>> 29
          math.min(m, h)
        }
      }
    }
    val rnd = new scala.util.Random(11)
    def piece(supp: Boolean): String = rnd.nextInt(4) match {
      case 0 => " "
      case 1 => rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
      case 2 => rnd.nextInt(0xd800).toChar.toString // any BMP scalar below the surrogates
      case _ =>
        if (supp) new String(Character.toChars(0x10000 + rnd.nextInt(0x100000)))
        else "Ä\t"
    }
    val bmp = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(40))(piece(supp = false)).mkString)
    val supp = Seq.fill(30)(Seq.fill(1 + rnd.nextInt(40))(piece(supp = true)).mkString)
    val texts = (bmp ++ supp ++ Seq(null, "", " ", "ab", "😀", "😀b")).toVector
    assert(supp.exists(_.codePoints().anyMatch(Character.isSupplementaryCodePoint)))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val signatures = PrivateMethod[org.apache.spark.sql.DataFrame](Symbol("signatures"))
    val rows = (Dedup invokePrivate signatures(df, "doc_id", "text", 3, 64, 16))
      .select(col("id"), col("sig"), col("bands"), sqlBands(col("sig"), 64, 16).as("sql"))
      .as[(Long, Array[Long], Array[Long], Array[Long])].collect()
    assert(rows.length == texts.length)
    for ((id, sig, bands, sql) <- rows) {
      val t = texts(id.toInt)
      val ref = reference(t, 3, 64)
      assert(java.util.Arrays.equals(sig, ref), s"row $id: frame signature")
      assert(java.util.Arrays.equals(Dedup.minhashSig(t, 3, 64), ref), s"row $id: minhashSig")
      assert(java.util.Arrays.equals(bands, sql), s"row $id: band keys")
    }
  }

  test("kernel band keys equal the SQL banding expression on extreme signatures") {
    import spark.implicits._
    val bandHashes = PrivateMethod[Array[Long]](Symbol("bandHashes"))
    val rnd = new scala.util.Random(23)
    val edges = Array(Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1, -1L, 0L, 1L)
    def slot(): Long = rnd.nextInt(4) match {
      case 0 => edges(rnd.nextInt(edges.length))
      case 1 => -rnd.nextInt(100000).toLong
      case _ => rnd.nextLong()
    }
    // the default shape, a shorter one, and one whose bands leave slots over
    for ((numHashes, bands) <- Seq((64, 16), (32, 8), (64, 10))) {
      val sigs = Vector.fill(400)(Array.fill(numHashes)(slot())) :+
        Array.fill(numHashes)(Long.MinValue) :+ Array.fill(numHashes)(Long.MaxValue)
      val want = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sig")
        .select(col("id"), sqlBands(col("sig"), numHashes, bands).as("sql"))
        .as[(Long, Array[Long])].collect()
      assert(want.length == sigs.length)
      for ((id, sql) <- want) {
        val got = Dedup invokePrivate bandHashes(sigs(id.toInt), bands, numHashes / bands)
        assert(java.util.Arrays.equals(got, sql), s"$numHashes/$bands row $id")
      }
    }
  }

  test("exact pairs shingle null text as empty text, like the signature kernel") {
    import spark.implicits._
    val d = Seq((1L, null: String), (2L, ""), (3L, null: String), (4L, "some other words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshExactPairs(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)))
  }

  test("each LSH call runs the signature kernel in one stage per input") {
    val d = docsWithDups
    def lsh(f: => org.apache.spark.sql.DataFrame): Int = kernelStages(f.collect())
    assert(lsh(Dedup.minhashLshPairs(d, "doc_id", "text")) == 1)
    assert(lsh(Dedup.minhashLshExactPairs(d, "doc_id", "text")) == 1)
    assert(lsh(Dedup.minhashLshCandidates(d, "doc_id", "text")) == 1)
    // one per side: the batch and the history each sign once
    assert(lsh(Dedup.incrementalNearDup(d.filter(col("doc_id") >= 10000),
      d.filter(col("doc_id") < 10000), "doc_id", "text")) == 2)
  }

  test("signature-agreement prefilter only engages at numHashes >= 64") {
    import spark.implicits._
    val d = docsWithDups
    // the sig_a/sig_b re-join exists only on the prefilter branch: its
    // miss bound (Phi(-0.25*sqrt(n)/sqrt(t(1-t)))) is only below the
    // banded-LSH miss at n >= 64, so short signatures must skip it
    val with64 = Dedup.minhashLshExactPairs(d, "doc_id", "text")
    val with16 = Dedup.minhashLshExactPairs(d, "doc_id", "text",
      numHashes = 16, bands = 8)
    assert(with64.queryExecution.analyzed.toString.contains("sig_a"))
    assert(!with16.queryExecution.analyzed.toString.contains("sig_a"))
    // and the short-signature run still returns the full pair set
    val p64 = with64.as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val p16 = with16.as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(p16 == p64)
  }

  test("simhash identical texts collide, hamming 0") {
    assert(Dedup.simhash64("the quick brown fox") == Dedup.simhash64("the quick brown fox"))
    assert(Dedup.simhash64("THE Quick BROWN fox") == Dedup.simhash64("the quick brown fox"))
    assert(Dedup.simhash64("alpha beta gamma") != Dedup.simhash64("delta epsilon zeta"))
  }

  test("simhashPairs finds exact copies at hamming 0") {
    val pairs = Dedup.simhashPairs(docsWithDups, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (0L until 100L).map(i => (i, i + 10000))
    assert(expected.forall(pairs.contains))
  }

  test("incrementalNearDup: mutated copies flag with their source, fresh and empty-history don't") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val hist = Seq((10L, base), (20L, base + " completely different trailing material here"),
      (30L, "unrelated history text about winter weather patterns and storms"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base + " tail"), // near-dup of 10 (and of 20's prefix — 10 is closer)
      (2L, "entirely fresh content regarding summer gardening techniques"),
      (3L, base)) // exact copy of 10 → agreement 1.0
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, hist, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out(0) == ((1L, true, 10L)))
    assert(out(1) == ((2L, false, -1L)))
    assert(out(2) == ((3L, true, 10L)))
    // empty history: everything fresh, no NPE, every batch row present
    val empty = Dedup.incrementalNearDup(batch, hist.limit(0), "doc_id", "text")
      .collect()
    assert(empty.length == 3 && empty.forall(!_.getBoolean(1)))
  }

  test("canonicalSurvivors: per-cluster (weight DESC, id ASC) argmax, singletons survive") {
    import spark.implicits._
    val nodes = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L)).toDF("id", "weight")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.canonicalSurvivors(nodes, pairs)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // cluster {1,2,3} label 1: weights 5,9,9 → id 2 wins the tie on id
    assert(out.toSeq == Seq(
      (1L, 1L, 5L, false), (2L, 1L, 9L, true), (3L, 1L, 9L, false),
      (4L, 4L, 2L, true)))
    // exactly one canonical per cluster — the invariant downstream
    // removal relies on
    val perLabel = out.groupBy(_._2).view.mapValues(_.count(_._4))
    assert(perLabel.values.forall(_ == 1))
  }

  test("canonicalSurvivors: null weights lose to any value; all-null cluster elects min id") {
    import spark.implicits._
    val nodes = Seq((1L, Some(5L)), (2L, None), (3L, None), (4L, None))
      .toDF("id", "weight")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.canonicalSurvivors(nodes, pairs)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    // cluster {1,2}: non-null 5 beats null → 1 wins; cluster {3,4}
    // all-null → min id 3 wins (the null-safe tie path)
    assert(out.toSeq == Seq((1L, true), (2L, false), (3L, true), (4L, false)))
  }

  test("exact survivors keep lowest id") {
    val out = Dedup.exactSurvivors(docsWithDups, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 100)
    assert(out.forall { case (keeper, copies) => keeper < 10000 && copies == 2 })
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  test("brute-force top-k: self excluded, ranks contiguous, cos descending") {
    val rows = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
      .collect()
    assert(rows.length == 15)
    val byQuery = rows.groupBy(_.getLong(0))
    for ((q, rs) <- byQuery) {
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toList == List(1, 2, 3))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(!rs.exists(_.getLong(2) == q))
    }
  }

  test("LSH top-k candidates are a subset of brute-force ordering within bucket") {
    val lsh = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
      .collect()
    // structural checks: ranks contiguous from 1 per query, cos within [-1,1]
    for ((_, rs) <- lsh.groupBy(_.getLong(0))) {
      assert(rs.map(_.getInt(1)).sorted.toList == (1 to rs.length).toList)
      assert(rs.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    }
  }

  test("semanticDecontaminate matches the Column-space cosine twin") {
    import org.apache.spark.sql.expressions.Window
    val bench = emb.filter(col("vec_id") < 10)
    val threshold = 0.9
    val got = Similarity
      .semanticDecontaminate(emb, bench, "vec_id", "embedding", threshold)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    // naive twin: the PROVEN Column cosine (q_ann_topk parity) +
    // window argmax — a different execution path over the same math
    val c = emb.select(col("vec_id").as("doc_id"),
      col("embedding").cast("array<double>").as("cv"))
    val b = bench.select(col("vec_id").as("bench_id"),
      col("embedding").cast("array<double>").as("bv"))
    val w = Window.partitionBy("doc_id").orderBy(desc("cos"), col("bench_id"))
    val naive = c.crossJoin(broadcast(b))
      .select(col("doc_id"), col("bench_id"),
        Similarity.cosine(col("cv"), col("bv")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .collect()
    assert(naive.length == got.size)
    for (r <- naive) {
      val (bid, cos, flag) = got(r.getLong(0))
      assert(bid == r.getLong(1), s"argmax mismatch at doc ${r.getLong(0)}")
      assert(math.abs(cos - r.getDouble(2)) < 1e-12)
      assert(flag == (cos >= threshold))
    }
    // benchmark members are their own nearest neighbor at cos 1.0, and
    // no max-cos sits close enough to the threshold for engine ulp
    // differences to flip the verdict
    for (i <- 0L until 10L) {
      val (bid, cos, flag) = got(i)
      assert(bid == i && math.abs(cos - 1.0) < 1e-12 && flag)
    }
    assert(got.valuesIterator.forall(v => math.abs(v._2 - threshold) > 1e-6))
    assert(got.valuesIterator.exists(!_._3))
  }

  test("xxhash64 matches Spark's builtin (shared seed path)") {
    import spark.implicits._
    val strings = Seq("", "a", "hello world", "Zürich ünïcode", "x" * 100)
    val fromSpark = strings.toDF("s").select(xxhash64(col("s"))).collect().map(_.getLong(0))
    val local = strings.map(s => XxHash.hashUtf8(s, 42L)) // Spark's default seed is 42
    assert(fromSpark.toSeq == local)
  }

  test("xxhash64 keeps the vectors of the former hand-rolled XXH64") {
    // recorded from the self-contained XXH64 that XxHash carried before
    // it delegated to Spark's: row = prefix length 0..64 of `base`,
    // columns = seeds 0, 7, 42, 99, -1 — every stripe/tail branch
    val base = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    val seeds = Seq(0L, 7L, 42L, 99L, -1L)
    val expected: Array[Array[Long]] = Array(
      Array(0xef46db3751d8e999L, 0x95f0626f6f0a4409L, 0x98b1582b0977e704L, 0x4bd2f5da96d170faL, 0x298f4c84b24f5380L),
      Array(0xf592c0c7639c4cb6L, 0x6e24c178c5cc3e62L, 0x0ed0d6a13cc52e0aL, 0xc4abfe3fee5e46e8L, 0x40068883e9dd8859L),
      Array(0x78f1ae91e3b05e99L, 0x3dc342d8e7659bbeL, 0x054cd9899094cf8fL, 0x0fdc2e1e13e65d8cL, 0x572b82cea5fc3334L),
      Array(0x22c08528601d4f27L, 0x4faf03743c92a0cdL, 0x1d78b776eafa43d8L, 0xa44cb6207c33f474L, 0x0babdacfea5c0f63L),
      Array(0xfb1e5cf2f1ae4d95L, 0x2dc798d3db8ef9aeL, 0x25ad71c276a88f81L, 0xdb9c8c4a07952eebL, 0x8d1c55d11990167dL),
      Array(0x9d213eca1f68f273L, 0x83e64a3a246d78aaL, 0xdcd9883a8c894cc0L, 0xeb3c6291a75380dfL, 0xf1feafaeee40d61cL),
      Array(0x0f28996d1449561eL, 0xa85ebdd162f6ed21L, 0x92e06afba65ab962L, 0xade85f4d2a41f4f6L, 0x1720e07376291b31L),
      Array(0x5613ac510496c04eL, 0xc2c9705368e85fa0L, 0x23cef44b0ba08fbcL, 0x52cccf5f89e75a54L, 0xc704098163038854L),
      Array(0x57cb2b7521f3e21aL, 0x5a1b04f5b4a3561fL, 0x48f76c205ce221a1L, 0xf2c836ed04ac906aL, 0xd097f8dff42a2a81L),
      Array(0xc3f1d09775257b66L, 0x2c32501740cfd767L, 0x55b4abc5c2b49dddL, 0x211bad83f9fe917bL, 0xb3f583a26daaf57bL),
      Array(0x920f407f474903ffL, 0xd5d8e884a0922b9bL, 0xf93480bb03076530L, 0x8ace3b9fe303c33dL, 0xff45a3ba99b72857L),
      Array(0x1bef4539443a2d5aL, 0x07f411025f14793dL, 0x39ec4fd892a8cf2eL, 0x84a07396d1f5bc99L, 0x0f0473744e933751L),
      Array(0x2f53b00266039e64L, 0x0e650167875f78a2L, 0xa12d5dcdb37a0d4dL, 0x92326b58001aa6f1L, 0x09387d3c5d0bf1c5L),
      Array(0xaed0293a7bb13c7aL, 0x7c455bf064cf273eL, 0x164a8fff156b1435L, 0x133a50c759150c4fL, 0xab31ed512a370c8bL),
      Array(0x393648aa0a97d46fL, 0x0bda6b53f5815e71L, 0x49230c5b0cdb7826L, 0xa8197a277288dfc2L, 0x35b6ceb93796e036L),
      Array(0x90a9714eb00e8d29L, 0x6778ced2b352b991L, 0xfc984faf1ae788b1L, 0x6dd04c3d73b5422dL, 0x5259df9f10e06f49L),
      Array(0xc6843cef99721174L, 0x1270ebda565cbf46L, 0x9cf687a398b1d145L, 0x78775c6b2c16b1c3L, 0x3bc469fec872d075L),
      Array(0xf72e5e622b272ad6L, 0x9128a520eaa72c60L, 0x46a5e039a6f8fd87L, 0xbe1ee45a7ae095acL, 0xfb84742f1fb12c0fL),
      Array(0xade42c5775a43c96L, 0x132dcbd1329e9defL, 0xea0ccdeaf0517c41L, 0x0c0f76ee1a66a2b8L, 0xbb8cce56b4f25f26L),
      Array(0xc3bdab4626258ceaL, 0x543b93be70208c62L, 0xe1f77d10e4e7b2e9L, 0x6cae13ed1103197dL, 0xd45083c6b340cea6L),
      Array(0xa62c18328d2d838dL, 0x5c871640c08cb255L, 0xec8ab7ab1db845ecL, 0x42093e01da0f494cL, 0x63730d3ce317a5fcL),
      Array(0x2f04ff79d78f8827L, 0xd78d4e84ae19176aL, 0x2a36bc0faeaff689L, 0x3518c17d50af558eL, 0x956a41837799e1feL),
      Array(0x1e5b0540defc3911L, 0xda4a01bb8d2ae181L, 0x46f01664f4e1857dL, 0x3050e3e95faa95dfL, 0x31f1470ff8de2519L),
      Array(0x5e6a1fe05d7c06f8L, 0xb4784dcd1d9a24afL, 0x3997f3fde040b72bL, 0x3770de44b7a86d51L, 0x292190ad9059573bL),
      Array(0xfa2d58b357e1565eL, 0x49fad8c1b41dcb82L, 0xf8bd9813fd31a206L, 0x6f0eaaf49ed70174L, 0x891fe2d924e0f344L),
      Array(0x8adefb8c854b47a5L, 0x96b4cf9dbf821c7eL, 0xa55c7486ada63a2fL, 0x3cb0ef4b3281076fL, 0xee5ed182f560a2d5L),
      Array(0x2b085f5f9da33210L, 0x337afa20f05aae44L, 0x07ce2545f7bdf5e6L, 0x42bb67711b0198c1L, 0x5563671ff5f5dbf1L),
      Array(0x87b80516e95cbbbcL, 0x56e1b1c36b0b19cdL, 0xd2012309ceacdfcfL, 0xa811e389bd154a4cL, 0x16d533ffce8178b2L),
      Array(0xff5c77ef1446f7e5L, 0x8fbcf942927181c2L, 0x46219a9acc2f5c02L, 0xf8604be9d4390a66L, 0xaab3866386dc71d0L),
      Array(0x8b15b1001a84dbdbL, 0xcfd84611418df44aL, 0x9901b4e029b79d36L, 0xb6d6c7f4e05eb893L, 0x9d9aab3c511d61fdL),
      Array(0x6077f1ac1f080751L, 0x91bd3ad4b40d5b3aL, 0x667a480fac2bbdfaL, 0x996e3d114a2b96b3L, 0x156fed783866b184L),
      Array(0xe4a0e629e519a4aeL, 0x84caa0ef1a8b319dL, 0xb5ff3fef27553617L, 0xd6536e1e183dd6bdL, 0xad7f73b8b02137c7L),
      Array(0xcc6b8aaada790b2dL, 0x45ff9053881a05cfL, 0x397cf7d12b7e438cL, 0x329ccfdae8d87920L, 0xca35ab19542aa4c2L),
      Array(0x35ec49850475a832L, 0xa962d39e3908e764L, 0xe39469f42e2fd6e4L, 0x5a6e24faa4b2849eL, 0x2c26c5a2a1784255L),
      Array(0xf56a57787fd5fe4eL, 0x16ca75314c7a1decL, 0x60a155e527670a07L, 0x674bd0160a23a43eL, 0x599557e0948551bbL),
      Array(0x59de01e65b64555bL, 0x84ec9fbcaf7eb170L, 0x53b3bbc8cd79e906L, 0x3363feebf04ae428L, 0x85859fff530df4c2L),
      Array(0xbebb6d8c24fb3cfaL, 0xa679385eced8772fL, 0x0b7f9c13a5b33501L, 0x3feb0bc8b42c322eL, 0xf92e676910e4be35L),
      Array(0x5f313a6790502101L, 0xaadd88eef398e1a9L, 0xd9c3149a34c3576cL, 0x637bed217e2cec7cL, 0x35a09861881ebc6fL),
      Array(0x9ffd421ba9cd1babL, 0xc4487de95c0a74ddL, 0xc30166a68f752e8aL, 0x0482832720f41444L, 0x71d3f8408ca480edL),
      Array(0x22984e41b53c1210L, 0x57ada8cd0943ca78L, 0x9532d21e0bb9bb51L, 0xef54d22258076633L, 0x32dabb515d40a915L),
      Array(0x3b21ed23eea85c2dL, 0x242d3a2f02755a8cL, 0xb0c82a4cd7b5bb7bL, 0xd417bae2f00158a5L, 0x7e969162bac9099eL),
      Array(0x25c2b9e2f81a6a9dL, 0xb887e2b994c5c581L, 0x2ffd3cb279152a48L, 0x1ef956132f5222a0L, 0xa371619206e83beaL),
      Array(0x126f6f74a01c7118L, 0x6e6454c66d50d549L, 0x175f2a5403f19c79L, 0x5390271f3c000ba5L, 0xe5f6edc6a880209eL),
      Array(0x03c47edf3964bb63L, 0xe20774ac7116574eL, 0xb877d7c570ead8dcL, 0x12dbc816f7cdd4c7L, 0xd26d83aae79fe554L),
      Array(0xa9a8f93ce6f588d3L, 0xe7a5fa15e68df370L, 0xd30a0107cc47c821L, 0x4e4f03f184174d4bL, 0x652ad91367e67937L),
      Array(0xfc003d355fa58a61L, 0xdf37f0c15380bcdcL, 0x337d5c3ae602a491L, 0xba2ba22bd5dd6fb7L, 0x893342ab73e2d001L),
      Array(0x2af21f2c679a3b30L, 0x7cf7f8c0e1f31f11L, 0xa7231ecc96160bceL, 0x40fac4474551c182L, 0xe6df1bacd8a37d20L),
      Array(0x16fdd9ca22942ddaL, 0x94d78f9419e2ad00L, 0x98726cbea1005c0cL, 0xe5e976421f96444fL, 0xe9a498962666c1dbL),
      Array(0xf6c2a2407a06c116L, 0x91e3c2140d0c6a25L, 0x86172441a17ec30dL, 0x8eb70e38ef1499f7L, 0x6b5b13a5ae508719L),
      Array(0x1951edf80e0e88a1L, 0xb40e776b87f29012L, 0xeb8e6714c68d170cL, 0x101e6eb63f720299L, 0x7ad94b0e80da3799L),
      Array(0x8966cf42dc674cb9L, 0x7f111aeada074d2eL, 0xd99bb58d2391772aL, 0x86b64f54cf92e382L, 0x377377a6d8af06f6L),
      Array(0xca011706caf89aa3L, 0xb00a1f243e249f48L, 0x3a4f7f0c20398e0bL, 0x9b0b0fc5b05cab25L, 0x8e63af8e1e73093aL),
      Array(0xc97263946e120e53L, 0x15c717c4dbcae961L, 0x2a5c3f5993f7fd0fL, 0x43edbf5327f3eac0L, 0xd8a6c9f3d24ec64cL),
      Array(0xf540a55131f40746L, 0x3512307bb37a0866L, 0x81536cdaee4a963eL, 0x84bf12dfc750f9b6L, 0xe3e850eb36315abaL),
      Array(0xab9a21d36f37bce2L, 0x46cf6e43ff35fce5L, 0x8748af330d364f4fL, 0x130729b8e884ce68L, 0xbc9d5c4d5fb3578eL),
      Array(0x66a3eed6214e51ffL, 0xd710386de7917e50L, 0xab5791ca3f232668L, 0x46714971ae6c9488L, 0x9043274996ff098dL),
      Array(0xd44977c91550cf3bL, 0x9334fcbcd7b4d3eaL, 0xee98b0811dadbe38L, 0xbebe9286eaf55415L, 0xd40021d572260cf6L),
      Array(0x52f38f5975796217L, 0x83ac9ede68f6585aL, 0x312c9ffa2cea0bc8L, 0xc55116bfa4f50e7fL, 0x3c566a272f5c5a45L),
      Array(0x9996904218108a75L, 0xf47e0b14a12d07ebL, 0x24568d77540fe3d6L, 0x4442119a58892566L, 0x5a03eada800fca73L),
      Array(0xd8213a1477e2e240L, 0x032e719ce573b48aL, 0xec674a380b9d73baL, 0xe25d2c1c724b8a29L, 0x732e17033a990bc0L),
      Array(0x2bafa54dfa33d5a4L, 0xad93b4e158a0dff0L, 0x6a9bbbbb5d83f093L, 0xa5f35b9be89cef85L, 0x426c3132b42b1e2dL),
      Array(0xcdc4536663934e01L, 0xe9e70f9f4e30b74bL, 0x0f8f4c94c2c94b47L, 0xaacb0e293cc1cf1eL, 0x8e8496794aeaf5ccL),
      Array(0x57b94e18c6b9173fL, 0x73fec76fafc984e0L, 0x67febc1371ded1adL, 0x543ca78ad0ba6cdbL, 0x4eba2366108424deL),
      Array(0xbf9f0ba3cf95b28aL, 0xa3507c0831f26132L, 0xd61515af63d708d1L, 0x66fff132f6efbc0fL, 0xa7d7e3df148b1142L),
      Array(0x155ccce4bf32befcL, 0xcd7131c8f9d8ea80L, 0xd86cde23b501d126L, 0x267c4593c5ece92bL, 0xfb41f87c873380aaL))
    for (len <- 0 to 64; (seed, k) <- seeds.zipWithIndex)
      assert(XxHash.hashBytes(java.util.Arrays.copyOf(base, len), seed) == expected(len)(k),
        s"length $len seed $seed")
  }
}

class TextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("marker counting is replace-based, non-overlapping") {
    import spark.implicits._
    val df = Seq("the cat the dog", "a the a", "nothing here", "the the the").toDF("text")
    val counts = df.select(TextStats.markerCount(col("text"), " the ").as("c"))
      .collect().map(_.getDouble(0))
    // ' the the the ' → replace(' the ') removes non-overlapping LTR:
    // ' the the the ' = ' ' + 'the the the' + ' ' → occurrences at 0 ('. the .')…
    assert(counts(0) == 2.0)
    assert(counts(2) == 0.0)
  }

  test("langId deterministic and marker-driven") {
    import spark.implicits._
    val df = Seq(
      "the quick fox jumps over a fence",
      "der hund und die katze",
      "el perro y la casa",
      "xyzzy plugh").toDF("text")
    val langs = df.select(TextStats.langId(col("text"))).collect().map(_.getString(0))
    assert(langs.toList == List("en", "de", "es", "und"))
  }

  test("rolling fingerprint deterministic, order-sensitive") {
    val a = TextStats.rollingFingerprint(Seq("alpha", "beta"))
    assert(a == TextStats.rollingFingerprint(Seq("alpha", "beta")))
    assert(a != TextStats.rollingFingerprint(Seq("beta", "alpha")))
  }

  test("repetition metrics: hand-computed fixture") {
    // 16 words = two 8-word lines, identical → both lines duplicate
    val line = "a b c d e f g h"
    val m = TextStats.repetitionMetrics(line + " " + line)
    assert(m.n_words == 16 && m.n_lines == 2 && m.n_distinct_lines == 1)
    assert(m.dup_line_chars == 2L * line.length)
    // every 5-gram in the doubled text repeats except none — grams
    // crossing the seam: "e f g h a" etc. appear once; "a b c d e"
    // appears twice (offsets 0 and 8). Duplicated 5-grams are the 4
    // within-line ones, each twice, len 9 → 4*2*9 = 72
    assert(m.dup5_chars == 72)
    // top bigram: every within-line bigram occurs twice (len 3 → 6);
    // seam bigram "h a" occurs once
    assert(m.top2_chars == 6)
    assert(!m.repetition_ok) // dup_line_chars*5 = 150 > 31 total chars
  }

  test("repetition metrics: clean text passes, no false dup") {
    val m = TextStats.repetitionMetrics(('a' to 'z').mkString(" "))
    assert(m.n_words == 26 && m.n_lines == 4 && m.n_distinct_lines == 4)
    assert(m.dup_line_chars == 0 && m.dup5_chars == 0)
    assert(m.top2_chars == 3) // every bigram unique, len 3
    assert(m.repetition_ok)
    val e = TextStats.repetitionMetrics("")
    assert(e.n_words == 1 && e.n_lines == 1 && e.total_chars == 0)
  }

  test("redaction: emails then phones, counts and placeholders") {
    import spark.implicits._
    val df = Seq(
      (0L, "mail bob@corp.example.com or call +1 555-0142 now"),
      (1L, "no pii in this row at all"),
      (2L, "two a@b.co c@d.org mails (555) 010-9999 phone")).toDF("doc_id", "t")
    val out = TextStats.redact(df, "t").orderBy("doc_id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) == ((1, 1, "mail <EMAIL> or call <PHONE> now")))
    assert(out(1) == ((0, 0, "no pii in this row at all")))
    assert(out(2)._1 == 2 && out(2)._2 == 1)
    // the pattern anchors on a leading digit, so "(555)..."
    // keeps its opening parenthesis and redacts from the 5
    assert(out(2)._3 == "two <EMAIL> <EMAIL> mails (<PHONE> phone")
  }

  test("gopher rules: hand-computed fixture, each rule isolated") {
    import spark.implicits._
    val pass = ("the data " * 30).trim + " the" // 61 words, 'the' 31x
    val df = Seq(
      (0L, pass),
      (1L, Seq.fill(8)("- " + pass.split(" ").take(8).mkString(" ")).mkString("\n")), // all bullets
      (2L, (pass + "\n") * 3 + pass + "...\n" + pass + "..."), // 2 of 5 lines ellipsis-ended
      (3L, pass + " #" * 6),                   // 6 '#' on 67 words: 60 <= 67 passes
      (4L, pass + " #" * 8),                   // 8 on 69: 80 > 69 fails
      (5L, "the of " + "wordwordword " * 48),  // 50 words, mean len 11.6 > 10 fails
      (6L, ("11 22 " * 24).trim + " the of"),  // alpha fraction 2/50 fails
      // 5 '#' and 5 '...' on 72 words: EACH ratio <= 10% passes (a
      // combined-symbol test would wrongly drop this doc)
      (7L, pass + " #" * 5 + " x..." * 5 + " end")
    ).toDF("doc_id", "t")
    val rows = TextStats.gopher(df, "doc_id", "t").orderBy("doc_id").collect()
    def ok(i: Int) = rows(i).getBoolean(10)
    assert(ok(0), "clean doc passes")
    assert(!ok(1), "bullet fraction 1.0 fails")
    // 2/5 = 40% ellipsis lines > 30% fails; '...' also counted as symbol
    assert(!ok(2) && rows(2).getInt(7) == 2 && rows(2).getInt(3) == 5 && rows(2).getInt(5) == 2)
    assert(ok(3) && rows(3).getInt(4) == 6)
    assert(!ok(4) && rows(4).getInt(4) == 8)
    assert(!ok(5), "mean word length > 10 fails")
    assert(!ok(6) && rows(6).getInt(8) == 2, "alpha fraction fails")
    assert(ok(7) && rows(7).getInt(4) == 5 && rows(7).getInt(5) == 5,
      "per-symbol ratios are separate, not combined")
    // stopword occurrences are word-equality, not substring: 'them' no hit
    val them = Seq((9L, ("them data " * 30).trim)).toDF("doc_id", "t")
    assert(TextStats.gopher(them, "doc_id", "t").collect()(0).getInt(9) == 0)
  }

  test("c4 filter: line rules, doc gates, reassembly order") {
    import spark.implicits._
    val t = Seq(
      "good line one two three.",   // kept
      "too short line.",            // < 5 words
      "no terminal punct at all",   // dropped
      "please enable javascript support now.", // javascript rule
      "good line one two four!",    // kept
      "he said \"the good quote\"", // kept (quote terminal, 5 words)
      "good line one two five?",    // kept — 4 kept total
      "").mkString("\n")
    val out = TextStats.c4Filter(Seq((0L, t)).toDF("doc_id", "t"), "doc_id", "t")
      .collect()(0)
    assert(out.getInt(1) == 8 && out.getInt(2) == 4 && out.getBoolean(3))
    assert(out.getString(4) ==
      "good line one two three.\ngood line one two four!\nhe said \"the good quote\"\ngood line one two five?")
    // two fewer kept lines -> 2 < 3 -> doc dropped, final text empty
    val t2 = t.split("\n").filterNot(l =>
      l == "good line one two five?" || l == "he said \"the good quote\"").mkString("\n")
    val o2 = TextStats.c4Filter(Seq((0L, t2)).toDF("doc_id", "t"), "doc_id", "t").collect()(0)
    assert(o2.getInt(2) == 2 && !o2.getBoolean(3) && o2.getString(4) == "")
    // doc-level gates fire even with enough kept lines
    for (poison <- Seq("brace { here is one.", "has lorem ipsum inside it.")) {
      val tp = t + "\n" + poison
      val op = TextStats.c4Filter(Seq((0L, tp)).toDF("doc_id", "t"), "doc_id", "t").collect()(0)
      assert(!op.getBoolean(3) && op.getString(4) == "")
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("binary metadata decode is deterministic and schema-typed") {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").limit(20)
    val metas = Multimodal.decodeMeta(Multimodal.withBinary(d, "text"), "doc_id").collect()
    assert(metas.length == 20)
    assert(metas.forall(m => m.width == 1 + m.n_bytes % 64 && m.height == 1 + m.n_bytes % 48))
    val again = Multimodal.decodeMeta(Multimodal.withBinary(d, "text"), "doc_id").collect()
    assert(metas.sortBy(_.id).toList == again.sortBy(_.id).toList)
  }

  test("real image decode: PNG round-trips true width/height/channels") {
    import spark.implicits._
    // encode with ImageIO, decode through the FULL Spark path — true
    // dimensions, not the fake-header arithmetic
    val imgs = Seq((1L, 5, 3), (2L, 17, 9), (3L, 1, 1))
    val df = imgs.map { case (id, w, h) => (id, Multimodal.encodePng(w, h, id)) }
      .toDF("doc_id", "media")
    val metas = Multimodal.decodeMeta(df, "doc_id").collect().sortBy(_.id)
    assert(metas.map(m => (m.id, m.width, m.height, m.channels)).toSeq ==
      imgs.map { case (id, w, h) => (id, w, h, 3) })
    // the pixel payload is real: same dims + different seed → different bytes
    assert(!java.util.Arrays.equals(
      Multimodal.encodePng(5, 3, 1L), Multimodal.encodePng(5, 3, 2L)))
  }

  test("corrupt image bytes quarantine to the stub, not a task failure") {
    // valid PNG magic, garbage body → ImageIO.read yields null
    val junk = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 42, 42, 42, 42)
    val m = Multimodal.decode(9L, junk)
    assert(m == Multimodal.fakeDecode(9L, junk))
  }

  test("pixelGridSums: real decode + nearest resample equals direct pattern math") {
    val (w, h) = (17, 13)
    val png = Multimodal.encodePngPattern(w, h)
    val got = Multimodal.pixelGridSums(png, 8, 6, 2, 2).get
    // independent re-derivation straight from the pattern formula
    val expect = Array.ofDim[Long](4, 3)
    for (y <- 0 until 6; x <- 0 until 8) {
      val sx = x * w / 8; val sy = y * h / 6
      val cell = (y / 3) * 2 + (x / 4)
      expect(cell)(0) += (sx * 7 + sy * 13) % 256
      expect(cell)(1) += (sx * 3 + sy * 5) % 256
      expect(cell)(2) += (sx * 11 + sy) % 256
    }
    assert(got == (0 until 4).map(c =>
      (c, expect(c)(0), expect(c)(1), expect(c)(2), 12)))
    // undecodable bytes → None (quarantine-by-value)
    assert(Multimodal.pixelGridSums("not an image".getBytes, 8, 6, 2, 2).isEmpty)
  }

  test("frame sampling explodes deterministically with stride") {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").limit(5)
    val frames = Multimodal.sampleFrames(Multimodal.withBinary(d, "text"), "doc_id")
      .collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getInt(1) % 4 == 0)) // stride 4
  }
}

/** Round-2 additions: recall-measured LSH, lossless blocking, and the
  * distributed positional index (VERDICT r1 "What's wrong" items 1-4).
  */
class DedupRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("verified LSH pairs are band candidates: minhash and embedding share one band core") {
    import spark.implicits._
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      // planted corpus: 25 60-word sources with 3 one-word mutations each, plus
      // 50 unrelated documents over the same vocabulary
      val vocab = Vector.fill(300)(rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString.toLowerCase)
      def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val texts = (0 until 25).flatMap { _ =>
        val src = words(60)
        src +: Seq.fill(3)(src.updated(rnd.nextInt(src.length), vocab(rnd.nextInt(vocab.length))))
      }.map(_.mkString(" ")) ++ Seq.fill(50)(words(60).mkString(" "))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.size >= 25 * 3, s"seed $seed: ${pairs.size} minhash pairs")
      assert(pairs.subsetOf(cand), s"seed $seed: ${pairs -- cand} outside the candidates")

      // planted vectors: 20 sources with 2 jittered copies each, plus 40
      // unrelated vectors
      def vec() = Array.fill(16)(rnd.nextGaussian())
      val vecs = (0 until 20).flatMap { _ =>
        val v = vec()
        v +: Seq.fill(2)(v.map(x => x + 0.01 * rnd.nextGaussian()))
      } ++ Seq.fill(40)(vec())
      val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("vec_id", "v")
      val eCand = Dedup.embeddingNearDupCandidates(emb, "vec_id", "v")
        .as[(Long, Long)].collect().toSet
      val ePairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "v")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(ePairs.size >= 20 * 3, s"seed $seed: ${ePairs.size} embedding pairs")
      assert(ePairs.subsetOf(eCand), s"seed $seed: ${ePairs -- eCand} outside the candidates")
    }
  }

  test("simhash banded pairs equal brute force over signatures at hamming<=3") {
    import spark.implicits._
    // near-dup fixture: base sentences + one-token edits (small hamming)
    val base = (0 until 40).map(i => (i.toLong,
      s"alpha bravo charlie delta echo foxtrot golf hotel item$i juliet kilo lima"))
    val edited = (0 until 40).map(i => (i + 100L,
      s"alpha bravo charlie delta echo foxtrot golf hotel item$i juliet kilo CHANGED"))
    val df = (base ++ edited).toDF("id", "text")
    val got = Dedup.simhashPairs(df, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same signature function
    val sigs = (base ++ edited).map { case (id, t) => (id, Dedup.simhash64(t)) }
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must contain true near-dups")
  }

  test("ngram prefix filtering is lossless vs unblocked brute force") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .filter(col("doc_id") < 80).select("doc_id", "text")
    // crafted pair straddling a log2 bucket boundary: 31 vs 41 shingles
    // (buckets 4 and 5), jaccard 31/41 ≈ 0.76 — the round-1 equal-bucket
    // blocking class of miss
    val a = ('a' to 'z').mkString + "0123456"        // len 33 → 31 shingles
    val b = a + " 890ABCDEF"                          // len 43 → 41 shingles
    val crafted = Seq((9001L, a), (9002L, b)).toDF("doc_id", "text")
    val df = docs.unionByName(crafted)
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val sh = array_distinct(transform(sequence(lit(1), greatest(length(norm) - 2, lit(1))),
      i => norm.substr(i, lit(3))))
    val bs = df.select(col("doc_id").as("id"), sh.as("sh"))
    val want = bs.as("a").join(bs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
         size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.contains((9001L, 9002L)), "bucket-boundary pair must be found")
  }

  test("prefix filtering collapses the within-size-class candidate blowup") {
    import spark.implicits._
    // skewed-length fixture: 120 equal-length random docs (the web-scale
    // worst case for size blocking — ONE size class) + 10 planted
    // duplicates that must survive
    val rnd = new scala.util.Random(7)
    def randDoc(): String = (1 to 60).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = (0 until 120).map(i => (i.toLong, randDoc()))
    val planted = (0 until 10).map(i => (1000L + i, base(i)._2))
    val df = (base ++ planted).toDF("id", "text")

    // round-2 design: every pair in equal-or-adjacent log_{1/t} size
    // buckets — on one size class that is ALL pairs
    val t = 0.5
    val logBase = math.log(1.0 / t)
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val sh = array_distinct(transform(sequence(lit(1), greatest(length(norm) - 2, lit(1))),
      i => norm.substr(i, lit(3))))
    val buckets = df.select(col("id"),
      floor(log(size(sh).cast("double")) / logBase).cast("int").as("bucket"))
    val sizeBlocked = buckets.as("a").join(buckets.as("b"),
        col("a.id") < col("b.id") &&
          (col("a.bucket") === col("b.bucket") ||
           col("a.bucket") === col("b.bucket") + 1 ||
           col("a.bucket") + 1 === col("b.bucket")))
      .count()

    val prefixCands = Dedup.ngramPrefixCandidates(df, "id", "text", k = 3, threshold = t)
    val nPrefix = prefixCands.count()
    assert(sizeBlocked >= 8000, s"fixture must be one size class, got $sizeBlocked")
    assert(nPrefix < sizeBlocked / 5,
      s"prefix filtering kept $nPrefix of $sizeBlocked size-blocked candidates")

    // losslessness on the same fixture: planted duplicates found at 1.0
    val got = Dedup.ngramJaccardPairs(df, "id", "text", threshold = t)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (i <- 0 until 10)
      assert(got.get((i.toLong, 1000L + i)).exists(_ == 1.0), s"planted pair $i missing")
  }

  test("banded embedding LSH finds planted near-dups (recall 1.0 here)") {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("v"), (x, i) => x * ((lit(50) + (i * 7 + 3) % 5 - 2).cast("double") / 50)).as("v"))
    val pairs = Dedup.embeddingNearDupPairs(base.unionByName(planted), "vec_id", "v",
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 50)
    assert(pairs.forall { case (a, b, c) => b == a + 10000 && c > 0.99 })
  }
}

class LshRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plantedFixture = {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), explode(sequence(lit(1), lit(5))).as("c"))
      .select((col("vec_id") + col("c") * 1000).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * ((lit(50) + col("c") * ((i * 7 + lit(3) * col("c")) % 5 - 2)).cast("double") / 50)).as("v"))
    (base.unionByName(planted), base.filter(col("vec_id") < 10))
  }

  test("multi-table+probe LSH reproduces brute-force top-5 on planted neighbors") {
    val (corpus, queries) = plantedFixture
    val lsh = Similarity.lshTopK(corpus, queries, "vec_id", "v", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "v", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(lsh.toSet == bf.toSet)
    assert(lsh.length == 50)
  }

  test("lshRecall reports the thresholded recall") {
    val (corpus, queries) = plantedFixture
    val row = Similarity.lshRecall(corpus, queries, "vec_id", "v", 5).head()
    assert(row.getLong(0) == 50 && row.getLong(1) == 50 && row.getBoolean(2))
  }

  test("srpBuckets deterministic, tables independent") {
    val v = Array.tabulate(64)(i => math.sin(i + 1))
    val b1 = Similarity.srpBuckets(v, 8, 12)
    val b2 = Similarity.srpBuckets(v, 8, 12)
    assert(b1.sameElements(b2))
    assert(b1.distinct.length > 1, "independent tables should mostly differ")
  }
}

class PositionalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("withGlobalIndex equals global row_number, without a single-partition exchange") {
    import spark.implicits._
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val got = Positional.withGlobalIndex(orders, Seq("o_orderkey"))
      .select("rn", "o_orderkey").as[(Long, Long)].collect().sortBy(_._1)
    val want = orders.orderBy("o_orderkey")
      .collect().map(_.getAs[Long]("o_orderkey")).zipWithIndex
      .map { case (k, i) => (i + 1L, k) }
    assert(got.sameElements(want))
    // scale guarantee: the numbering work spreads over the requested
    // partitions (AQE right-sizes tiny test inputs down to 1 otherwise)
    val multi = Positional.withGlobalIndex(orders, Seq("o_orderkey"),
      numPartitions = Some(8))
    assert(multi.rdd.getNumPartitions == 8)
    val got8 = multi.select("rn", "o_orderkey").as[(Long, Long)].collect().sortBy(_._1)
    assert(got8.sameElements(want))
  }

  test("nullability metadata survives the index stamp") {
    import spark.implicits._
    val df = Seq((1L, Option("a")), (2L, None)).toDF("k", "v")
    val idx = Positional.withGlobalIndex(df, Seq("k"))
    val bySuffix = idx.schema.fields.map(f => f.name -> f.nullable).toMap
    assert(bySuffix("v"), "nullable input column stays nullable")
    assert(!bySuffix("rn"), "the stamped index is non-nullable")
    assert(idx.filter(col("v").isNull).count() == 1)
  }

  test("zipJoin stops at the shorter side; batch ids are contiguous blocks") {
    import spark.implicits._
    val l = (1 to 100).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val r = (1 to 37).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val z = Positional.zipJoin(l, Seq("k"), r, Seq("k"))
    assert(z.count() == 37)
    val batched = Positional.withBatchId(l, Seq("k"), 30)
      .groupBy("batch_id").count().collect()
      .map(rw => rw.getInt(0) -> rw.getLong(1)).toMap
    assert(batched == Map(0 -> 30L, 1 -> 30L, 2 -> 30L, 3 -> 10L))
  }
}

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plantedFixture = {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), explode(sequence(lit(1), lit(5))).as("c"))
      .select((col("vec_id") + col("c") * 1000).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * ((lit(50) + col("c") * ((i * 7 + lit(3) * col("c")) % 5 - 2)).cast("double") / 50)).as("v"))
    (base.unionByName(planted), base.filter(col("vec_id") < 10))
  }

  test("kmeans training is deterministic and centroids are unit vectors") {
    import spark.implicits._
    val unit = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / n))
      }.toDF("id", "u")
    val c1 = Ivf.trainCentroids(unit, 8, 2)
    val c2 = Ivf.trainCentroids(unit, 8, 2)
    assert(c1.length == 8)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    assert(c1.forall(c => math.abs(c.map(x => x * x).sum - 1.0) < 1e-9))
  }

  test("IVF top-k finds planted near neighbors (recall >= 0.9)") {
    val (corpus, queries) = plantedFixture
    val r = Ivf.ivfRecall(corpus, queries, "vec_id", "v", 5).head()
    assert(r.getLong(0) == 50)
    assert(r.getBoolean(2), s"recall ${r.getLong(1)}/50 below threshold")
  }
}

class MultimodalPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("resize metadata preserves aspect ratio, never upscales") {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").limit(30)
    val metas = Multimodal.decodeMeta(Multimodal.withBinary(d, "text"), "doc_id")
    val rows = Multimodal.resizeMeta(metas, maxSide = 32).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(ow <= math.max(w, 32) && oh <= math.max(h, 32))
      assert(math.max(ow, oh) <= math.max(32, math.min(math.max(w, h), 32)))
      if (math.max(w, h) <= 32) assert(ow == w && oh == h) // no upscale
    }
  }

  test("multimodal features plug into the ANN operators end-to-end") {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").limit(50)
    val feats = Multimodal.extractFeatures(Multimodal.withBinary(d, "text"), "doc_id")
    assert(feats.count() == 50)
    // deterministic
    val a = feats.orderBy("id").collect().map(_.getSeq[Float](1))
    val b = Multimodal.extractFeatures(Multimodal.withBinary(d, "text"), "doc_id")
      .orderBy("id").collect().map(_.getSeq[Float](1))
    assert(a.zip(b).forall { case (x, y) => x == y })
    // the embedding column shape feeds bruteForceTopK directly
    val top = Similarity.bruteForceTopK(feats, feats.limit(3), "id", "embedding", 2)
    assert(top.count() == 6)
  }
}

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("min-label propagation resolves transitive chains to one keeper") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, singletons 20,21
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.componentsWithRounds(nodes, pairs)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 21L))
  }

  test("deep chain converges within maxIter (diameter rounds)") {
    import spark.implicits._
    val n = 12
    val nodes = (1L to n.toLong).toDF("id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsWithRounds(nodes, pairs)._1
      .collect().map(r => r.getLong(1)).distinct
    assert(got.toList == List(1L))
  }

  test("maxIter cutoff fails loudly instead of returning fragmented labels") {
    import spark.implicits._
    val n = 10
    val nodes = (1L to n.toLong).toDF("id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.componentsWithRounds(nodes, pairs, maxIter = 2)._1.collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("large-star/small-star converges on a 50-chain where propagation cannot") {
    import spark.implicits._
    // diameter 49: plain min-label propagation needs 49 rounds (> its
    // default 20 bound); the star algorithm is O(log n) rounds — 8
    // rounds here would already be generous
    val n = 50
    val nodes = (1L to n.toLong).toDF("id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.componentsWithRounds(nodes, pairs)._1.collect() // diameter > default bound
    }
    val got = Dedup.componentsLargeSmallStarWithRounds(nodes, pairs, maxIter = 8)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n && got.forall(_._2 == 1L))
  }

  test("large-star/small-star output equals plain propagation on a mixed graph") {
    import spark.implicits._
    val nodes = (1L to 30L).toDF("id")
    // two clusters + bridges + singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 12L), (12L, 14L),
      (20L, 21L), (21L, 22L), (22L, 20L), (14L, 16L), (5L, 7L)).toDF("id_a", "id_b")
    val naive = Dedup.componentsWithRounds(nodes, pairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val stars = Dedup.componentsLargeSmallStarWithRounds(nodes, pairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(stars == naive)
  }

  test("pair ids outside the node set cannot mask convergence (label-sum soundness)") {
    import spark.implicits._
    // adversarial case for min-label's label-sum convergence check
    // (large-star/small-star compares edge sets instead): edge (8,100)
    // with 100 ∉ nodes would materialize label 8 for the phantom node,
    // exactly offsetting 3→2's decrease in round 1 — the node-set
    // constraint must keep iterating until 10 reaches the true
    // component min 2
    val nodes = Seq(2L, 3L, 8L, 10L).toDF("id")
    val pairs = Seq((2L, 3L), (3L, 10L), (8L, 100L)).toDF("id_a", "id_b")
    val got = Dedup.componentsWithRounds(nodes, pairs)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(2L -> 2L, 3L -> 2L, 10L -> 2L, 8L -> 8L), s"got $got")
  }

  test("both components algorithms agree with a reference union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Vector.fill(45)((rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))
        .filter(p => p._1 != p._2)
      // driver-side union-find as the independent third derivation
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (1 to n).map { i =>
        // min id of the component = fully-compressed root (roots are
        // always the minimum because unions point larger at smaller)
        (i.toLong, find(i).toLong)
      }.toList
      val nodes = (1L to n.toLong).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      val naive = Dedup.componentsWithRounds(nodes, pairs, maxIter = 64)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      val stars = Dedup.componentsLargeSmallStarWithRounds(nodes, pairs)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(naive == expect, s"seed $seed: propagation != union-find")
      assert(stars == expect, s"seed $seed: stars != union-find")
    }
  }
}
