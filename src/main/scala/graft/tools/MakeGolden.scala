package graft.tools
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Regenerate the committed golden files (run once per intentional
  * semantic change; the GoldenSpec diff gates catch accidental ones):
  *
  * {{{
  * sbt "runMain graft.tools.MakeGolden <sf_dir> src/test/resources"
  * }}}
  *
  * Both files cover the first 3 turns of every conversation:
  * `golden_turns.jsonl` pins text, lang, metrics and blocks;
  * `golden_words_lines.jsonl` pins words, lines and tables.
  */
object MakeGolden {
  val BlocksFile = "golden_turns.jsonl"
  val WordsLinesFile = "golden_words_lines.jsonl"

  private def firstTurns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Extract.run(graft.sources.Turns.synth(spark, sfDir)).toDF()
      .filter($"turn_idx" < 3)
  }

  def blocksRows(spark: SparkSession, sfDir: String): Array[String] = {
    import spark.implicits._
    firstTurns(spark, sfDir)
      .select($"conv_id", $"turn_idx", $"turn_id", $"lang", $"extractedText",
        $"metrics.blocksKept".as("blocks_kept"),
        $"metrics.wordCount".as("word_count"),
        to_json($"blocks").as("blocks_json"))
      .orderBy("conv_id", "turn_idx")
      .toJSON.collect()
  }

  def wordsLinesRows(spark: SparkSession, sfDir: String): Array[String] = {
    import spark.implicits._
    firstTurns(spark, sfDir)
      .select($"conv_id", $"turn_idx",
        to_json($"words").as("words_json"),
        to_json($"lines").as("lines_json"),
        to_json($"tables").as("tables_json"))
      .orderBy("conv_id", "turn_idx")
      .toJSON.collect()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: MakeGolden <sf_dir> <resources_dir>")
    val Array(sfDir, resources) = args
    val spark = graft.LocalSpark.session(4, 4)
    for ((file, rows) <- Seq(BlocksFile -> blocksRows(spark, sfDir),
                             WordsLinesFile -> wordsLinesRows(spark, sfDir))) {
      java.nio.file.Files.write(java.nio.file.Paths.get(resources, file),
        rows.mkString("\n").getBytes("UTF-8"))
      println(s"[golden] wrote ${rows.length} rows to $file")
    }
    spark.stop()
  }
}
