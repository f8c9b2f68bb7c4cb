package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Turns

/** Seeded input generators. The same seed gives the same rows; the
  * program only ever sees the written parquet.
  */
object Inputs {

  /** Word list of the sf0.1 `documents` table. */
  private val Vocab = ("a agg batch big column customer data dup fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  /** Language mix of sf0.1 (40 % en, the rest split evenly). */
  private val Langs = Array.fill(8)("en") ++ Array.fill(3)("zh") ++ Array.fill(3)("es") ++
    Array.fill(3)("fr") ++ Array.fill(3)("de")

  /** lcm of the template (12), conversation (5, 97) and role (4)
    * moduli: shifting doc ids by a multiple keeps the template mix and
    * the 40 % `conv-big` skew identical for every seed. */
  private val IdPeriod = 5820L

  /** `documents`-shaped rows (doc_id, text, lang, source) with the
    * sf0.1 word-count spread (10–100 words). The seed picks the doc id
    * offset and salts every word choice. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val offset = IdPeriod * (1 + java.lang.Math.floorMod(seed, 1000L))
    val h = (salt: org.apache.spark.sql.Column) => xxhash64(lit(seed), col("doc_id"), salt)
    spark.range(n).select((col("id") + offset).as("doc_id"))
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), (pmod(h(lit("n")), lit(91L)) + 10).cast("int")),
        j => element_at(typedLit(Vocab), (pmod(h(j), lit(Vocab.length.toLong)) + 1).cast("int")))))
      .withColumn("lang", element_at(typedLit(Langs),
        (pmod(h(lit("lang")), lit(Langs.length.toLong)) + 1).cast("int")))
      .withColumn("source", concat(lit("src"), pmod(h(lit("src")), lit(20L)).cast("string")))
  }

  /** The synthetic transcript table (`Turns.CoreSql` over [[documents]])
    * written twice: `turnsDir` holds exactly the `Turn` columns, and
    * `expectedDir` holds `(conv_id, turn_idx, expected)` with the
    * oracle text of `Turns.ExpectedExtractedSql`.
    */
  def writeTranscripts(spark: SparkSession, n: Long, seed: Long, files: Int,
      turnsDir: String, expectedDir: String): Unit = {
    documents(spark, n, seed).createOrReplaceTempView("documents")
    val all = spark.sql(Turns.CoreSql)
      .withColumn("ts", timestamp_seconds(lit(1767225600L) + col("doc_id")))
      .withColumn("expected", expr(Turns.ExpectedExtractedSql))
      .repartition(files)
      .localCheckpoint(true)
    all.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(turnsDir)
    if (expectedDir != null)
      all.select("conv_id", "turn_idx", "expected").write.mode("overwrite").parquet(expectedDir)
  }

  /** Planted near-duplicate corpus of `n` docs: ids `[0, mega)` are one
    * mega-cluster of identical texts, the rest are clusters of 3
    * identical copies (ids `mega + 3c .. mega + 3c + 2`). Texts are 4
    * md5-hex words salted by the seed, so different clusters share
    * almost no 3-shingles.
    */
  def writePlanted(spark: SparkSession, n: Long, mega: Long, seed: Long, files: Int,
      dir: String): Unit = {
    require((n - mega) % 3 == 0, s"n - mega must be a multiple of 3 (n=$n, mega=$mega)")
    val cluster = when(col("id") < mega, lit(-1L)).otherwise(((col("id") - mega) / 3).cast("long"))
    val words = (0 until 4).map(j => md5(concat(lit(s"s${seed}_"), cluster.cast("string"), lit("_" + j))))
    spark.range(n).select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
      .repartition(files)
      .write.mode("overwrite").parquet(dir)
  }

  /** The canonical id of every planted cluster: the lowest id in it. */
  def plantedCanonicals(n: Long, mega: Long): Array[Long] =
    (if (mega > 0) Array(0L) else Array.empty[Long]) ++ (mega until n by 3L).toArray

  /** Bytes of the parquet data files under `dir` (0 if it is absent). */
  def fileBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var total = 0L
        s.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
            total += java.nio.file.Files.size(f)
        }
        total
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        val all = new java.util.ArrayList[java.nio.file.Path]()
        s.forEach(f => all.add(f))
        java.util.Collections.reverse(all)
        all.forEach(f => java.nio.file.Files.delete(f))
      } finally s.close()
    }
  }
}
