package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators: benchmark decontamination,
  * corpus-wide exact line deduplication, and deterministic stratified
  * quota sampling.
  *
  * These extend the dedup/quality family ([[Dedup]], [[TextStats]])
  * with the three remaining passes a large-scale LLM training-data
  * pipeline runs before publishing a corpus:
  *
  *  - '''decontamination''' — drop/flag training documents that share
  *    word n-grams with an evaluation benchmark (the GPT-3 appendix-C /
  *    Llama-style 13-gram overlap check; here k is a parameter). The
  *    benchmark side is eval sets — bounded and tiny relative to the
  *    corpus — so it is collected and broadcast; the corpus side is a
  *    map-only pass: at 100 TB this costs ZERO shuffle.
  *  - '''line dedup''' — C4 §2.2-style: keep only the first occurrence
  *    of every distinct "line" across the whole corpus. The
  *    groupBy(line) is the one canonical corpus-wide exchange, hash
  *    partitioned by line; the join-back reuses the same key so AQE
  *    plans it without a second full shuffle of the line table.
  *  - '''quota sampling''' — per-stratum (e.g. language) sampling with
  *    two verdicts: a Lehmer-hash rate threshold (map-only, exact in
  *    expectation — the 100 TB path) and an exact top-N rank within
  *    the stratum (one sort-exchange keyed by stratum; documented skew
  *    caveat — with few strata prefer the threshold path at extreme
  *    scale, or a two-phase quantile cut).
  *
  * All tie-breaks and hash arithmetic are integer-exact and expressible
  * in ANSI SQL, so every operator carries a full DuckDB oracle.
  */
object Corpus {

  /** Deterministic weighted mixture interleave — stride scheduling
    * (weighted fair queuing) over N corpora: blend the sources into
    * ONE reproducible training order whose every prefix contains each
    * source in ≈weight proportion (the property epoch-level "sample
    * source s with probability w_s" only gives in expectation). The
    * k-th document of source s (1-based, ordered by id) gets stride
    * key `k / w_s`; the global order is `(key, source, id)` — up to
    * any key cut K, source s has contributed exactly `floor(K · w_s)`
    * documents.
    *
    * Scale shape: producing a total training order IS a global sort —
    * both the per-source sequence numbers and the final positions go
    * through [[Positional.withGlobalIndex]] (range partition +
    * per-partition offsets on one RDD lineage), never a
    * single-partition window. Doubles divide identically in Spark and
    * DuckDB, and ties (`k1/w1 == k2/w2` exactly) break on
    * `(source, id)` in both engines.
    *
    * @param sources (name, docs, weight>0), names unique; `idCol` must
    *                be unique and non-null (long-castable) within each
    *                source — a null id would silently tie the total
    *                order `withGlobalIndex` depends on, so it fails
    *                loud per row instead
    * @return (pos, source, id, k, stride_key) in mixture order;
    *         `stride_key` is the raw double (rounding for display or
    *         comparison belongs to the caller — per-row round() halves
    *         diverge between decimal- and binary-rounding engines)
    */
  def mixtureInterleave(sources: Seq[(String, DataFrame, Double)],
      idCol: String): DataFrame = {
    require(sources.nonEmpty && sources.forall(_._3 > 0),
      "mixtureInterleave: need at least one source, all weights > 0")
    require(sources.map(_._1).distinct.size == sources.size,
      "mixtureInterleave: duplicate source names would collide in the " +
        "(source, id) tie-break")
    val keyed = sources.map { case (name, df, w) =>
      val id = col(idCol).cast("long")
      Positional.withGlobalIndex(
        df.select(
          when(id.isNull, raise_error(lit(
            s"mixtureInterleave: null/non-numeric $idCol in source '$name'")))
            .otherwise(id).as("id"),
          lit(name).as("source")),
        Seq("id"), "k")
        .withColumn("stride_key", col("k") / lit(w))
    }.reduce(_ unionByName _)
    Positional.withGlobalIndex(keyed, Seq("stride_key", "source", "id"), "pos")
      .select("pos", "source", "id", "k", "stride_key")
  }

  /** Word k-grams of `text` under split-by-single-space semantics —
    * identical to `string_split(text, ' ')` + slicing in SQL. Empty
    * when the text has fewer than k words.
    */
  def wordGrams(text: String, k: Int): Iterator[String] = {
    val ws = (if (text == null) "" else text).split(" ", -1)
    if (ws.length < k) Iterator.empty
    else (0 to ws.length - k).iterator.map(i => ws.slice(i, i + k).mkString(" "))
  }

  /** The corpus "line" convention, single-sourced: k-word chunks of a
    * space-split word array (the transcript corpus is single-line, so
    * literal newline lines would be vacuous — q_repetition,
    * q_line_dedup, q_quality_gopher and q_c4_filter all plant multi-
    * line structure from these chunks). The Spark and DuckDB builders
    * MUST stay formula-identical; every planted corpus and its oracle
    * shares them so the convention cannot desynchronize.
    */
  def chunksExpr(wsCol: String, k: Int = 8): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"transform(sequence(0, (size($wsCol)+${k - 1}) div $k - 1), " +
        s"j -> array_join(slice($wsCol, j*$k+1, $k), ' '))")

  def chunksSql(wsExpr: String, k: Int = 8): String =
    s"list_transform(range(0, (len($wsExpr)+${k - 1})//$k), " +
      s"j -> array_to_string(($wsExpr)[j*$k+1:j*$k+$k], ' '))"

  /** Distinct word k-grams of a (small) benchmark document set, as a
    * single-column `gram` DataFrame. The explode+distinct shuffle runs
    * over the benchmark only — never the corpus.
    */
  def benchmarkGrams(bench: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = bench.sparkSession
    import spark.implicits._
    bench.select(col(textCol)).as[String]
      .flatMap(t => wordGrams(t, k))
      .distinct()
      .toDF("gram")
  }

  /** Flag corpus rows that share any word k-gram with the benchmark
    * gram set. Returns `(idCol, n_gram_hits, n_distinct_hits,
    * contaminated)` for EVERY corpus row (zero-hit rows included, so
    * the output is a per-document verdict table, not a match list).
    *
    * The benchmark grams are collected to the driver and broadcast —
    * bounded state by construction (eval benchmarks are MBs, the
    * corpus is the 100 TB side) — making the corpus pass map-only.
    * The declarative alternative (explode corpus grams + join) would
    * shuffle ~k× the corpus text.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchGrams: DataFrame, k: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val grams: Set[String] = benchGrams.as[String].collect().toSet
    val bc = spark.sparkContext.broadcast(grams)
    corpus.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val set = bc.value
        it.map { case (id, text) =>
          var hits = 0
          val distinct = new java.util.HashSet[String]()
          val gs = wordGrams(text, k)
          while (gs.hasNext) {
            val g = gs.next()
            if (set.contains(g)) { hits += 1; distinct.add(g) }
          }
          (id, hits, distinct.size, hits > 0)
        }
      }
      .toDF(idCol, "n_gram_hits", "n_distinct_hits", "contaminated")
  }

  /** Corpus-level exact line dedup: across ALL documents, keep only
    * the first occurrence — lowest (doc, position) — of each distinct
    * line, then reassemble each document from its kept lines in
    * original order. "Lines" are 8-word chunks (the corpus is
    * single-line text, so literal newline splitting would be vacuous —
    * same convention as [[TextStats.repetitionMetrics]]).
    *
    * Returns `(idCol, n_lines, n_kept, kept_text)`; documents whose
    * every line was seen earlier come back with `n_kept = 0` and an
    * empty `kept_text` rather than vanishing.
    *
    * Scale: one hash exchange on `line` (groupBy + join-back on the
    * same key), one on `idCol` for reassembly — the minimum for
    * corpus-wide first-occurrence semantics. min(struct) keeps the
    * tie-break exact without encoding tricks, so document ids and
    * positions are unbounded.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lines = docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val ws = (if (text == null) "" else text).split(" ", -1)
        val m = (ws.length + 7) / 8
        (0 until m).iterator.map { j =>
          (id, j, ws.slice(j * 8, math.min(j * 8 + 8, ws.length)).mkString(" "))
        }
      })
      .toDF(idCol, "line_idx", "line")
    val first = lines.groupBy("line")
      .agg(min(struct(col(idCol), col("line_idx"))).as("fp"))
    val kept = lines.join(first, "line")
      .filter(col(idCol) === col(s"fp.$idCol") && col("line_idx") === col("fp.line_idx"))
    val perDoc = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x("line")),
        " ").as("kept_text"))
    val totals = lines.groupBy(idCol).agg(count(lit(1)).as("n_lines"))
    totals.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Modulus / multiplier of the Lehmer (Park–Miller) hash used for
    * sampling keys — integer-exact in both Spark and ANSI SQL.
    */
  val LehmerMod = 2147483647L
  val LehmerMul = 48271L

  /** `((id % 2^31) * 48271) % (2^31-1) % 1000` — the deterministic
    * per-row sampling key in [0, 1000).
    */
  def sampleKey(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((id % lit(2147483648L)) * lit(LehmerMul)) % lit(LehmerMod) % lit(1000L)

  /** Deterministic stratified quota sampling. Emits one row per input
    * document: `(idCol, stratum, sample_key, kept_rate, kept_rank)`.
    *
    *  - `kept_rate`: `sample_key < rates(stratum)` (per-mille rate;
    *    `defaultRate` for unlisted strata). Map-only — the path you
    *    run at 100 TB.
    *  - `kept_rank`: exact top-`rankQuota` per stratum by
    *    (sample_key, id) — one sort-exchange partitioned by stratum.
    *    Exact counts, but strata are few ⇒ skewed at extreme scale;
    *    prefer `kept_rate` there.
    */
  def quotaSample(docs: DataFrame, idCol: String, stratumCol: String,
      rates: Seq[(String, Int)], defaultRate: Int, rankQuota: Int): DataFrame = {
    val key = sampleKey(col(idCol))
    val rate = rates.foldRight(lit(defaultRate)) { case ((s, r), acc) =>
      when(col(stratumCol) === s, lit(r)).otherwise(acc)
    }
    val w = Window.partitionBy(col(stratumCol)).orderBy(key.asc, col(idCol).asc)
    docs.select(col(idCol), col(stratumCol).as("stratum"),
      key.cast("int").as("sample_key"),
      (key < rate).as("kept_rate"),
      (row_number().over(w) <= rankQuota).as("kept_rank"))
  }

  /** Corpus-global common-word statistics (the FineWeb/fastText-style
    * "common word fraction" quality signal, and the two-pass shape of
    * every IDF-like score): pass 1 aggregates corpus word counts (one
    * exchange, map-side combined, bounded by vocabulary size) and
    * takes the exact top-`topN` words under the total order
    * (count DESC, word ASC) — deterministic even through count ties;
    * pass 2 is MAP-ONLY: the top set is bounded driver state (like the
    * IVF centroids) broadcast into a Column filter, so the corpus is
    * never shuffled for the per-document fraction. Emits per document:
    * word count, common-word occurrence count, the floored per-10000
    * common fraction, and a >=80% cross-multiplied verdict.
    *
    * The oracle re-derives the second pass RELATIONALLY (explode +
    * join against the top-k CTE + re-aggregate) — an independent
    * formulation of the same statistic that would catch a wrong
    * driver-side collect.
    */
  def commonWordStats(docs: DataFrame, idCol: String, textCol: String,
      topN: Int): DataFrame = {
    import org.apache.spark.sql.functions.{filter => afilter}
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
    val top = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(topN)
      .collect().map(_.getString(0)).toSeq
    val topArr = array(top.map(lit): _*)
    val ws = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"),
        size(ws).as("n_words"),
        size(afilter(ws, w => array_contains(topArr, w))).cast("long").as("n_common"))
      .select(col("doc_id"), col("n_words"), col("n_common"),
        expr("(n_common * 10000) div n_words").as("common_frac_x10000"),
        (col("n_common") * 5 >= col("n_words").cast("long") * 4).as("common_ok"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 —
    * public), in exact integer arithmetic: score every document by its
    * mean per-word SURPRISAL under a unigram LM trained on a clean
    * reference corpus (CCNet: a KenLM model trained on Wikipedia; here
    * the `ref` DataFrame plays Wikipedia), then split the corpus into
    * `nBuckets` equal-frequency buckets (CCNet's head/middle/tail are
    * the tertiles). Bucket 1 = lowest surprisal = most reference-like.
    *
    * Integer surprisal: with add-one model counts `m(w) = c_ref(w)+1`
    * and total `M = sum(c_ref)+1`, the word's surprisal in bits is
    * approximated by `bitlen(M) - bitlen(m(w))` where `bitlen(x) =
    * length(bin(x))` — within 1 bit of `log2(M/m(w))` and EXACT in
    * both engines (no floating log whose libm rounding could differ).
    * Per document: `total_bits`, `n_words`, and the fixed-point mean
    * `mean_millibits = total_bits*1000 div n_words`.
    *
    * Scale shape: the LM-count exchange runs over the REFERENCE only
    * (bounded by construction — the model corpus is curated, the 100 TB
    * side is `docs`); the model joins broadcast onto exploded corpus
    * words, and the per-doc aggregation exchanges map-side-combined
    * (doc, partial-sum) rows, not tokens. Bucketing is an exact
    * distributed NTILE with NO single-partition global sort: the
    * value histogram (bounded — distinct `mean_millibits` values, at
    * most ~1000×64) is collected and its cumulative counts broadcast;
    * each doc's global rank is `cum_before(value) + row_number` within
    * its value partition (a PARALLEL window keyed by value), and the
    * standard ntile closed form maps rank → bucket. The oracle uses
    * DuckDB's built-in `ntile`, independently validating the closed
    * form and the rank derivation.
    */
  def surprisalBuckets(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String, nBuckets: Int): DataFrame = {
    val spark = docs.sparkSession
    // The model is bounded driver state by construction (it is
    // broadcast below, so it must fit regardless) — collect it ONCE so
    // the reference scan/aggregation runs a single time and the total
    // mass comes from the same pass, then rebuild it as a literal DF.
    val modelRows = ref.select(explode(split(col(refTextCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("mc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val totalM = modelRows.map(_._2).sum + 1L
    val totBits = java.lang.Long.toBinaryString(totalM).length
    val model = spark.createDataFrame(modelRows.toSeq).toDF("w", "mc")
    // localCheckpoint: perDoc feeds BOTH the histogram collect and the
    // final join — materialize the explode/join/aggregate exchange once
    // instead of repeating it (the Dedup.componentsWithRounds precedent).
    val perDoc = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .join(broadcast(model), Seq("w"), "left")
      .select(col("doc_id"),
        (lit(totBits) - length(bin(coalesce(col("mc"), lit(0L)) + 1)))
          .cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("bits").as("total_bits"))
      .select(col("doc_id"), col("n_words"), col("total_bits"),
        expr("(total_bits * 1000) div n_words").as("mean_millibits"))
      .localCheckpoint()
    // Exact distributed ntile: histogram of the (bounded) score values
    // -> broadcast cumulative counts -> parallel per-value rank window.
    val hist = perDoc.groupBy("mean_millibits").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    val cumBefore = hist.map(_._1).zip(hist.scanLeft(0L)(_ + _._2).init)
    val cumDf = spark.createDataFrame(cumBefore.toSeq)
      .toDF("mean_millibits", "cum_before")
    val size = n / math.max(nBuckets, 1)
    val rem = n % math.max(nBuckets, 1)
    val rkW = Window.partitionBy("mean_millibits").orderBy("doc_id")
    perDoc.join(broadcast(cumDf), Seq("mean_millibits"))
      .withColumn("rk", col("cum_before") + row_number().over(rkW))
      .select(col("doc_id"), col("n_words"), col("total_bits"),
        col("mean_millibits"),
        expr(s"CASE WHEN rk <= ${rem * (size + 1)} " +
          s"THEN (rk - 1) div ${size + 1} + 1 " +
          s"ELSE $rem + (rk - ${rem * (size + 1)} - 1) div ${math.max(size, 1)} + 1 END")
          .cast("int").as("ppl_bucket"))
  }

  /** Word bigrams of an already-split words ARRAY column — split once,
    * never inside the lambda (Spark does not hoist loop-invariant
    * subexpressions out of higher-order functions, so `split` in the
    * lambda body would re-tokenize the text per gram). Empty for
    * arrays of fewer than two words (guarded: Spark's `sequence(1, 0)`
    * is DESCENDING, never produce it).
    */
  def bigramsOfWords(wsCol: String): org.apache.spark.sql.Column =
    expr(s"CASE WHEN size($wsCol) >= 2 " +
      s"THEN transform(sequence(1, size($wsCol) - 1), " +
      s"i -> concat($wsCol[i-1], ' ', $wsCol[i])) " +
      s"ELSE array() END")

  /** Hash a gram string to `[0, nBuckets)` via the first 4 hex chars
    * of md5 — integer-exact and identically expressible in DuckDB
    * (`CAST('0x'||substr(md5(g),1,4) AS BIGINT) % nBuckets`).
    */
  def gramBucket(g: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    conv(substring(md5(g), 1, 4), 16, 10).cast("long") % nBuckets

  /** DSIR importance weights (Xie et al., NeurIPS 2023, "Data
    * Selection for Language Models via Importance Resampling" —
    * public): estimate how much more likely each document is under a
    * TARGET domain than under the RAW corpus, using hashed word-bigram
    * bag-of-ngrams models, and keep documents whose weight clears a
    * threshold. The published estimator is
    * `log w(x) = sum_grams [log p_target(h(g)) - log p_raw(h(g))]`;
    * here each log2 is integer-approximated by `bitlen` exactly as in
    * [[surprisalBuckets]], so with per-bucket add-one counts `t(b)+1`
    * / `r(b)+1` and totals `Mt`/`Mr`:
    * `weight_bits = sum bitlen(t+1) - sum bitlen(r+1)
    *              + n_grams*(bitlen(Mr) - bitlen(Mt))`.
    * `weight_bits >= minWeightBits` (0 = "more target-like than raw")
    * is the keep verdict; composition with [[quotaSample]] gives the
    * paper's resampling step.
    *
    * Scale shape — the hashing is WHY this runs at 100 TB: bucketed
    * gram counts are bounded by `nBuckets` after map-side partial
    * aggregation, so the raw-model pass over the whole corpus
    * exchanges at most `nBuckets` rows per partition, the model join
    * back onto corpus grams broadcasts `nBuckets` rows, and the only
    * unbounded exchange is the map-side-combined per-doc aggregation.
    * Zero-gram documents come back with zeros rather than vanishing.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, nBuckets: Int,
      minWeightBits: Long): DataFrame = {
    val spark = docs.sparkSession
    def bucketed(df: DataFrame, tcol: String, keep: Seq[org.apache.spark.sql.Column]) =
      df.select(keep :+ split(col(tcol), " ").as("__ws"): _*)
        .select(keep :+ explode(bigramsOfWords("__ws")).as("g"): _*)
        .select(keep :+ gramBucket(col("g"), nBuckets).as("b"): _*)
    val corpusB = bucketed(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)),
      textCol, Seq(col("doc_id")))
    // Both bucketed count tables are <= nBuckets rows after map-side
    // combine — bounded driver state (the IVF-centroid precedent).
    // Collect each ONCE: the total masses come from the same arrays
    // (the target mass must include buckets with zero raw grams — a
    // raw-left-joined aggregate would silently drop them whenever the
    // target is not a subset of the corpus), and the per-bucket model
    // is rebuilt as a literal DF for the broadcast join. The corpus
    // bigram explode deliberately runs twice (raw-count pass + weight
    // pass) — it is map-only off the scan; the alternative persists a
    // corpus-sized intermediate (the dupSpanCoverage precedent).
    val rawArr = corpusB.groupBy("b").agg(count(lit(1)).as("rc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val tgtMap = bucketed(target.select(col(targetTextCol)), targetTextCol, Nil)
      .groupBy("b").agg(count(lit(1)).as("tc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val mtBits = bitlen(tgtMap.values.sum + 1)
    val mrBits = bitlen(rawArr.map(_._2).sum + 1)
    val model = spark.createDataFrame(rawArr.toSeq.map { case (b, rc) =>
      (b, bitlen(tgtMap.getOrElse(b, 0L) + 1), bitlen(rc + 1))
    }).toDF("b", "tbits", "rbits")
    val perDoc = corpusB.join(broadcast(model), Seq("b"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
        sum("tbits").as("target_bits"), sum("rbits").as("raw_bits"))
    docs.select(col(idCol).cast("long").as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("target_bits"), lit(0L)).as("target_bits"),
        coalesce(col("raw_bits"), lit(0L)).as("raw_bits"))
      .withColumn("weight_bits",
        col("target_bits") - col("raw_bits") + col("n_grams") * lit(mrBits - mtBits))
      .withColumn("dsir_keep", col("weight_bits") >= minWeightBits)
  }

  /** Token-budget prefix selection — fill a training-token budget with
    * the best documents: order the corpus by (priority DESC, id ASC)
    * and keep each document while the INCLUSIVE running token total
    * still fits the budget (token counts are positive, so the running
    * total is strictly increasing and `in_budget` marks an exact
    * prefix). The mixture-building step after quality scoring: "take
    * the highest-quality documents up to 1 T tokens".
    *
    * Scale shape: the running total is [[Positional.withRunningTotal]]
    * — range partition + per-partition sums + offset stamping, fully
    * parallel, over a projected 3-column metadata table (never the
    * text). The oracle re-derives it with a SQL window running sum —
    * an independent formulation of the same prefix.
    *
    * Emits `(doc_id, priority, n_tokens, cum_tokens, in_budget)` for
    * every document.
    */
  def budgetPrefix(docs: DataFrame, idCol: String, priorityCol: String,
      textCol: String, budgetTokens: Long,
      tokenCounter: Option[String => Int] = None,
      precomputedTokensCol: Option[String] = None): DataFrame = {
    // priority keeps its input type (no silent long truncation of
    // fractional scores) and orders DESC via a SortOrder, not
    // arithmetic negation (which would overflow Long.MinValue and bar
    // non-numeric priorities); null priorities sort last. Token
    // counting (incl. the null-text convention and the optional real
    // tokenizer) is THE shared TextStats.tokenCountCol — one
    // definition across budgetPrefix/contextTrim/packSamples, so the
    // budgets cannot desynchronize. When the caller already carries a
    // count column (e.g. it needed per-doc counts anyway and the
    // tokenizer is expensive), `precomputedTokensCol` skips the
    // recount — a real BPE pass over the corpus is the costly stage,
    // not the running total. The count stays a map-side projection
    // either way; the running-total plan is untouched.
    val tokens = precomputedTokensCol match {
      case Some(c) => coalesce(col(c).cast("long"), lit(0L))
      case None => TextStats.tokenCountCol(tokenCounter, col(textCol)).cast("long")
    }
    val meta = docs.select(col(idCol).cast("long").as("doc_id"),
      col(priorityCol).as("priority"),
      tokens.as("n_tokens"))
    Positional.withRunningTotal(meta,
        Seq(col("priority").desc_nulls_last, col("doc_id").asc),
        "n_tokens", "cum_tokens")
      .select(col("doc_id"), col("priority"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budgetTokens).as("in_budget"))
  }

  /** Cross-document duplicated-passage coverage — the k-gram
    * approximation of ExactSubstr dedup ("Deduplicating Training Data
    * Makes Language Models Better", Lee et al., ACL 2022, public). A
    * word k-gram is DUPLICATED when its exact string occurs at two or
    * more (document, position) sites anywhere in the corpus; a token
    * is COVERED when at least one duplicated k-gram spans it. Emits
    * per document: token count, covered-token count, the floored
    * per-10000 coverage fraction (integer-exact on both engines), and
    * a >=20% heavy-duplication verdict (cross-multiplied, no
    * division).
    *
    * Scale shape: grams are md5-narrowed before the corpus-wide
    * exchange (16 bytes instead of ~9 words of text per occurrence);
    * the duplicated-gram set comes from one hash aggregation keyed by
    * the digest, the occurrence join reuses that key, and coverage is
    * one (doc, position) distinct bounded by k x duplicated
    * occurrences. Nothing is all-pairs; the oracle independently
    * re-derives coverage grouping by the RAW gram string, so an md5
    * collision (or a wrong narrowing) would hash-mismatch.
    *
    * The occurrence stream is deliberately NOT persisted although the
    * plan reads it twice (count side + join side): it is a map-only
    * explode off the scan, and at corpus scale re-running two scans is
    * cheaper than materializing k x corpus-tokens of digests. Callers
    * with cheap storage can `.persist()` the input beforehand.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("ws"))
    val occ = toks.filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> md5(array_join(slice(ws, i+1, $k), ' ')))"))
        .as(Seq("pos", "gh")))
    val dup = occ.groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gh")
    val covered = occ.join(dup, Seq("gh"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    toks.select(col("doc_id"), size(col("ws")).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_tokens"),
        expr("(coalesce(n_dup, CAST(0 AS BIGINT)) * 10000) div n_tokens").as("dup_frac_x10000"),
        (coalesce(col("n_dup"), lit(0L)) * 5 >= col("n_tokens")).as("dup_heavy"))
  }
}
