package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan
  * the corpus once — the 100 TB shape: queries are small, corpus is
  * huge, no corpus self-join). Scale path: sign-bit LSH bucketing
  * (deterministic pseudo-random hyperplanes derived from xxhash64) so
  * the candidate set per query is one bucket instead of the corpus.
  * All dot products are `zip_with` + `aggregate` Column expressions.
  */
object Similarity {

  /** Cosine similarity of two float-array columns (computed in
    * double).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Deterministic sign-bit bucket: bit p of the bucket = sign of
    * Σ_i v[i] * h(i, p), where h(i, p) is a fixed ±1 pseudo-random
    * hyperplane component derived from xxhash64(i, p). Pure Column
    * expression; the "random" planes are reproducible everywhere.
    */
  def signBits(v: Column, planes: Int): Column = {
    val withIdx = zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => struct(x.as("x"), i.as("i")))
    val bits = (0 until planes).map { p =>
      val proj = aggregate(withIdx, lit(0.0), (acc, s) =>
        acc + s.getField("x").cast("double") *
          when(xxhash64(s.getField("i"), lit(p)).bitwiseAND(1) === 1, 1.0).otherwise(-1.0))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Brute-force cosine top-k: for each query vector (small set,
    * broadcast), the k nearest corpus vectors. Deterministic
    * tie-break on corpus id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms hoisted OUT of the pair loop: ‖v‖ is computed once per
    // vector here instead of once per (query, corpus) pair inside
    // [[cosine]] — the higher-order aggregate expressions evaluate
    // interpreted per element, so at n·q pairs the two norm subtrees
    // were 2/3 of the scoring cost. Bit-identical arithmetic: the same
    // sqrt-of-index-order-sum as [[cosine]], and IEEE double multiply
    // is commutative, so dot / (na·nb) is unchanged.
    val norm = (v: Column) => sqrt(aggregate(
      transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val dotQC = aggregate(
      zip_with(col("qv"), col("cv"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dotQC / (col("qn") * col("cn"))).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Semantic decontamination — the embedding-space complement of
    * `Corpus.decontaminate`'s n-gram overlap: flag every corpus
    * document whose embedding is within cosine `threshold` of ANY
    * benchmark embedding (paraphrased eval leakage that no k-gram
    * match catches).
    *
    * Scale shape mirrors the n-gram variant: eval benchmarks are tiny
    * by construction, so the benchmark vectors are collected +
    * broadcast (bounded driver state — the IVF-centroid precedent) and
    * the corpus pass is ONE typed mapPartitions — ZERO corpus shuffle
    * at 100 TB. Per document it reports the max cosine over the
    * benchmark, the argmax benchmark id (ties → lowest id, the
    * oracle's ORDER BY cos DESC, bench_id), and the contaminated
    * verdict. The kernel computes dot/(√na·√nb) in index order with
    * doubles — the same arithmetic as [[cosine]] and DuckDB's
    * list_cosine_similarity, so the verdict threshold compares
    * like-for-like values.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val benchArr = bench
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(benchArr.nonEmpty, "semanticDecontaminate: empty benchmark set")
    val benchDim = benchArr.head._2.length
    require(benchArr.forall(_._2.length == benchDim),
      "semanticDecontaminate: benchmark vectors have mixed dimensions")
    val bcast = spark.sparkContext.broadcast(benchArr.map { case (id, v) =>
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      (id, v, math.sqrt(n))
    })
    corpus
      .select(col(idCol).cast("long").as("doc_id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val bs = bcast.value
        it.map { case (id, v) =>
          // fail loud, not AIOOBE / silently-deflated dot product (the
          // Column twin would return a null cosine here)
          require(v.length == bs.head._2.length,
            s"semanticDecontaminate: corpus vector dim ${v.length} != " +
              s"benchmark dim ${bs.head._2.length} at id $id")
          var nv = 0.0; var i = 0
          while (i < v.length) { nv += v(i) * v(i); i += 1 }
          val nvs = math.sqrt(nv)
          var bestId = -1L
          var best = Double.NegativeInfinity
          var b = 0
          while (b < bs.length) {
            val (bid, bv, bn) = bs(b)
            var dot = 0.0; var j = 0
            while (j < bv.length) { dot += v(j) * bv(j); j += 1 }
            val cos = dot / (nvs * bn)
            if (cos > best) { best = cos; bestId = bid }
            b += 1
          }
          (id, bestId, best, best >= threshold)
        }
      }
      .toDF("doc_id", "bench_id", "cos", "contaminated")
  }

  /** Signed-random-projection buckets, one per hash table, computed in
    * ONE typed pass (the Column-space [[signBits]] nests an aggregate
    * per plane — `tables × planes` re-evaluations of the zip subtree,
    * the nested-lambda CSE failure documented at Dedup.scala). Plane
    * component signs come from splitmix64(planeId, i) — deterministic
    * pseudo-random Rademacher hyperplanes, reproducible everywhere.
    */
  /** The Rademacher sign matrix of [[srpBuckets]], memoized per JVM:
    * the sign of plane component (planeId, i) is a pure function of
    * the indices, but the splitmix64 avalanche was being recomputed
    * per VECTOR — tables × planes × dim hash evaluations per row, ~5×
    * the cost of the projection arithmetic itself. One computation per
    * (planes, tables, dim) triple per executor JVM; bucket values are
    * bit-identical (same splitmix64, same indices).
    */
  private val srpSignCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Boolean]]]()

  private def srpSigns(planes: Int, tables: Int, dim: Int): Array[Array[Boolean]] =
    srpSignCache.computeIfAbsent((planes, tables, dim), _ =>
      Array.tabulate(tables * planes) { plane =>
        val planeId = plane.toLong
        Array.tabulate(dim) { i =>
          var z = (planeId << 32) | i.toLong
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          (z & 1L) == 1L
        }
      })

  def srpBuckets(v: Array[Double], planes: Int, tables: Int): Array[Long] = {
    val signs = srpSigns(planes, tables, v.length)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val s = signs(t * planes + p)
        var proj = 0.0
        var i = 0
        while (i < v.length) {
          proj += (if (s(i)) v(i) else -v(i))
          i += 1
        }
        if (proj > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** (id, buckets[tables]) per row — vectors stay behind, only ids ride
    * the bucket join.
    */
  private[operators] def bucketed(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, tables: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, srpBuckets(v, planes, tables)) })
      .toDF("id", "buckets")
  }

  /** (id, v/‖v‖) in one typed pass. Candidate verification over unit
    * vectors is a single dot product — the norms are computed once per
    * VECTOR here instead of once per PAIR inside [[cosine]] (at n²
    * candidate pairs that is the dominant verify cost).
    */
  private[operators] def unitVectors(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val inv = if (s > 0) 1.0 / math.sqrt(s) else 0.0
        val u = new Array[Double](v.length)
        i = 0
        while (i < v.length) { u(i) = v(i) * inv; i += 1 }
        (id, u)
      })
      .toDF("id", "u")
  }

  /** Dot product of two (unit) vectors — cosine after normalization. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Multi-table + multi-probe LSH ANN top-k (the scale path: per-query
    * work is `tables × (1 + planes)` bucket lookups, join keys are
    * longs, corpus vectors are shuffled only for the candidate ids).
    *
    * Round-1's single 8-plane bucket returned 16 of 50 expected rows
    * (a query bucket can be empty → silent <k results). Recall now
    * comes from two standard levers (Lv & Indyk et al., multi-probe
    * LSH): `tables` independent hash tables, and 1-bit probing — each
    * query also looks in every bucket at hamming distance 1. For a
    * neighbor at cos ≥ 0.99 (θ ≈ 0.14, per-plane collision
    * p = 1 − θ/π ≈ 0.955): per-table hit ≈ p⁸ + 8p⁷(1−p) ≈ 0.95, miss
    * across 12 tables ≈ 1e−16 — measured against [[bruteForceTopK]] in
    * `q_ann_lsh_recall`.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, tables: Int = 12,
      probeBits: Int = 1): DataFrame = {
    // corpus side: explode (table, bucket, id) — ids only, no vectors
    val cBuckets = bucketed(corpus, idCol, vecCol, planes, tables)
      .select(col("id").as("corpus_id"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    // query side: each table bucket plus every bucket within hamming
    // distance `probeBits` (0 = exact bucket only; 1 = +planes flips;
    // 2 = +C(planes,2) two-bit flips — the parameter now buys what it
    // says, it previously degenerated to 1-bit for any value >= 1)
    require(probeBits >= 0 && probeBits <= 2, "probeBits in 0..2 supported")
    val masks: Seq[Long] = {
      val one = (0 until planes).map(p => 1L << p)
      val two =
        if (probeBits >= 2)
          for (p <- 0 until planes; q <- p + 1 until planes) yield (1L << p) | (1L << q)
        else Nil
      0L +: (if (probeBits >= 1) one else Nil) ++: two
    }
    val probes = (b: Column) => array(masks.map(m => b.bitwiseXOR(lit(m))): _*)
    val qProbes = bucketed(queries, idCol, vecCol, planes, tables)
      .select(col("id").as("query_id"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "table")
      .select(col("query_id"), col("table"), explode(probes(col("col"))).as("bucket"))
    val cand = cBuckets.join(broadcast(qProbes), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id").distinct()
    // vectors join candidates by id (queries broadcast-small by
    // contract); unit vectors → verify is one dot product per pair
    val cv = unitVectors(corpus, idCol, vecCol)
      .select(col("id").as("corpus_id"), col("u").as("cv"))
    val qv = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("u").as("qv"))
    val scored = cand.join(cv, "corpus_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("corpus_id"), dot(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Recall of [[lshTopK]] against the [[bruteForceTopK]] ground truth:
    * |LSH ∩ BF| / |BF| over (query_id, corpus_id) pairs.
    */
  def lshRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, tables: Int = 12): DataFrame = {
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select("query_id", "corpus_id")
    val lsh = lshTopK(corpus, queries, idCol, vecCol, k, planes, tables)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    bf.join(lsh, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true") >= 0.9).as("recall_ok"))
  }
}

/** XXH64 over a string's UTF-8 bytes or a byte array — Spark's own
  * implementation (the one behind the `xxhash64` column function),
  * for kernels that need a fast 64-bit hash outside Column space.
  */
object XxHash {
  def hashUtf8(s: String, seed: Long): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  def hashBytes(input: Array[Byte], seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      input, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, input.length, seed)
}

/** IVF (inverted-file) ANN — the classic coarse-quantizer scale path
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * the IVF part): k-means centroids define nLists inverted lists; the
  * corpus is assigned to its nearest centroid (at scale this IS the
  * storage layout — `partitionBy(list)`); a query probes only its
  * `nProbe` nearest lists and scores candidates exactly.
  *
  * Training is deterministic: init = the nLists lowest-id unit
  * vectors, then Lloyd iterations where only (list, vector) pairs
  * shuffle and the nLists×dim centroid matrix rides a broadcast.
  */
object Ivf {
  import Similarity.{unitVectors, dot}
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  private def argmaxDot(cents: Array[Array[Double]], u: Array[Double]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      var s = 0.0
      val c = cents(i)
      var j = 0
      while (j < u.length) { s += c(j) * u(j); j += 1 }
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  private def topLists(cents: Array[Array[Double]], u: Array[Double], n: Int): Array[Int] =
    cents.indices.map(i => {
      var s = 0.0; var j = 0
      while (j < u.length) { s += cents(i)(j) * u(j); j += 1 }
      (-s, i)
    }).sorted.take(n).map(_._2).toArray

  /** Deterministic Lloyd training over unit vectors. The per-list sum
    * runs inside `flatMapSortedGroups` ORDERED BY id — double addition
    * is not associative, so a `reduceByKey` (task-completion order)
    * would make centroids vary bitwise run-to-run, and a boundary
    * vector could flip lists under a pinned-constant recall oracle.
    */
  def trainCentroids(unit: DataFrame, nLists: Int, iters: Int): Array[Array[Double]] = {
    val spark = unit.sparkSession
    import spark.implicits._
    val data = unit.as[(Long, Array[Double])]
    var cents = data.orderBy("id").limit(nLists).collect().map(_._2)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val stats = data.mapPartitions { it =>
        val c = bc.value
        it.map { case (id, u) => (argmaxDot(c, u), id, u) }
      }
        .groupByKey(_._1)
        .flatMapSortedGroups(col("_2")) { (list, rows) =>
          var sum: Array[Double] = null
          var n = 0L
          rows.foreach { case (_, _, u) =>
            if (sum == null) sum = new Array[Double](u.length)
            var j = 0
            while (j < u.length) { sum(j) += u(j); j += 1 }
            n += 1
          }
          Iterator.single((list, sum, n))
        }
        .collect()
      val next = cents.clone()
      for ((list, sum, n) <- stats if n > 0) {
        var norm = 0.0
        var j = 0
        while (j < sum.length) { norm += sum(j) * sum(j); j += 1 }
        val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
        next(list) = sum.map(_ * inv) // spherical k-means update
      }
      cents = next
      bc.destroy()
    }
    cents
  }

  /** IVF top-k: corpus scored only within the query's nProbe lists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // persist: training reads the corpus once per Lloyd iteration and
    // assignment reads it again — without caching that is iters+1 full
    // input scans + normalizations
    val cu = unitVectors(corpus, idCol, vecCol).persist()
    val qu = unitVectors(queries, idCol, vecCol)
    val cents = trainCentroids(cu, nLists, iters)
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = cu.as[(Long, Array[Double])].mapPartitions { it =>
      val c = bc.value
      it.map { case (id, u) => (argmaxDot(c, u), id, u) }
    }.toDF("list", "corpus_id", "cv")
    val probes = qu.as[(Long, Array[Double])].mapPartitions { it =>
      val c = bc.value
      it.flatMap { case (id, u) => topLists(c, u, nProbe).map(l => (l, id, u)) }
    }.toDF("list", "query_id", "qv")
    val scored = assigned.join(broadcast(probes), "list")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), dot(col("qv"), col("cv")).as("cos"))
      // a candidate can surface through several probed lists → dedupe
      .groupBy("query_id", "corpus_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "corpus_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** recall@k of [[ivfTopK]] vs [[Similarity.bruteForceTopK]]. */
  def ivfRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val bf = Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select("query_id", "corpus_id")
    val ivf = ivfTopK(corpus, queries, idCol, vecCol, k, nLists, nProbe)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    bf.join(ivf, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_true"), coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true") >= 0.9).as("recall_ok"))
  }
}
