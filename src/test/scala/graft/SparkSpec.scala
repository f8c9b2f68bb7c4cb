package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-level specs. */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session(4, 4)
  val sfDir = "/root/testdata/sf0.001"
}

class ExtractPipelineSpec extends AnyFunSuite {
  import graft.pipeline.Extract
  import graft.sources.Turns

  lazy val spark: SparkSession = TestSpark.spark

  test("per-turn text equality vs the generator-inverse oracle (north rule invariant)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val turns = Turns.synthWithMeta(spark, TestSpark.sfDir)
    val expected = turns.select(
      col("conv_id"), col("turn_idx"),
      expr(Turns.ExpectedExtractedSql).as("expected"))
    val actual = Extract.run(Turns.synth(spark, TestSpark.sfDir))
      .select($"conv_id", $"turn_idx", $"extractedText")
    val joined = actual.join(expected, Seq("conv_id", "turn_idx"))
    val total = joined.count()
    val matching = joined.filter($"extractedText" === $"expected").count()
    assert(total > 0)
    assert(matching == total, {
      val bad = joined.filter($"extractedText" =!= $"expected").limit(2).collect()
      s"mismatches: ${bad.mkString("; ")}"
    })
  }

  test("output identical across parallelism levels and input permutation") {
    import spark.implicits._
    val base = Turns.synth(spark, TestSpark.sfDir)
    def canon(ds: org.apache.spark.sql.Dataset[graft.model.ExtractedTurn]): Array[(String, Int, String)] =
      ds.select($"conv_id", $"turn_idx", $"extractedText").as[(String, Int, String)]
        .collect().sortBy(r => (r._1, r._2))
    val a = canon(Extract.run(base, numPartitions = Some(2)))
    val b = canon(Extract.run(base, numPartitions = Some(16)))
    val c = canon(Extract.run(base.orderBy(org.apache.spark.sql.functions.rand(7))))
    assert(a.sameElements(b))
    assert(a.sameElements(c))
  }

  test("salted repartition spreads the skewed conversation") {
    import spark.implicits._
    val parts = Extract.run(Turns.synth(spark, TestSpark.sfDir),
      cfg = graft.pipeline.ExtractConfig(saltChunkSize = 16), numPartitions = Some(8))
      .filter($"conv_id" === "conv-big")
      .mapPartitions(it => Iterator.single(it.size))
      .collect().count(_ > 0)
    assert(parts > 1, "conv-big must span multiple partitions via salting")
  }

  test("chunks explode kept blocks in reading order") {
    import spark.implicits._
    val et = Extract.run(Turns.synth(spark, TestSpark.sfDir))
    val ch = Extract.chunks(et)
    val perTurn = ch.groupByKey(c => (c.conv_id, c.turn_idx))
      .mapGroups { (_: (String, Int), it: Iterator[graft.model.Chunk]) =>
        val orders = it.map(_.reading_order).toList.sorted
        orders == (1 to orders.length).toList
      }.collect()
    assert(perTurn.forall(identity))
  }
}

class ObserveSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  test("extraction metrics observable without a second pass") {
    val ds = graft.pipeline.Extract.run(graft.sources.Turns.synth(spark, TestSpark.sfDir))
    ds.collect() // an action on THIS plan (count() builds its own QE)
    val m = ds.queryExecution.observedMetrics
      .collectFirst { case (k, v) if k.startsWith(graft.pipeline.Extract.MetricsName) => v }
      .get
    assert(m.getAs[Long]("turns") == 500L)
    assert(m.getAs[Long]("parse_failures") == 0L)
    assert(m.getAs[Long]("words") > 0L)
  }
}
