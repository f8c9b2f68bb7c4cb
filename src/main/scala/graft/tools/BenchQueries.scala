package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch (not part of the driver contract): replicate Bench.scala's
  * per-query timing protocol — same session shape (local[cpus],
  * shuffle.partitions = cpus*4), same warm-then-time `.count()` — over
  * all queries or a named subset, with N timed samples per query so a
  * VM burst is visible as spread instead of corrupting a single
  * reading. Prints one JSON line (median per query) plus per-sample
  * arrays on stderr.
  *
  * Usage: runMain graft.tools.BenchQueries [samples] [query ...]
  */
object BenchQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val samples = if (args.nonEmpty) args(0).toInt else 3
    val names: Seq[String] =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchq-$cpus")
      .config("spark.sql.shuffle.partitions", cpus * 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { graft.SparkEntry.queries("x1_extract")(spark, sfDir).count() }
    catch { case _: Throwable => () }
    // SPARK_GRAFT_NOOP=1: time with the noop sink (guide §1.4 — every
    // column of every row computed and discarded) instead of count(),
    // which can prune. The frozen Bench times count(); default matches
    // it for comparability.
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    def runOnce(name: String): Unit = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
    }
    // a failed sample must NOT contribute a (typically fast)
    // elapsed-until-crash reading to the median — it poisons the JSON
    // line that before/after comparisons are built from; NaN marks it
    // and any query with a failed sample is excluded from the timings
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { runOnce(name); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"[benchq] $name FAILED: $e"); Double.NaN
      }
    }
    // Locale.ROOT formatting: the f-interpolator uses the JVM default
    // locale, and a comma-decimal locale would emit invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = names.map { name =>
      try { runOnce(name) }
      catch { case e: Throwable => System.err.println(s"[benchq] warm $name FAILED: $e") }
      val ts = (1 to samples).map(_ => timeOne(name))
      System.err.println(s"[benchq] $name samples=${ts.map(fmt).mkString(",")}")
      name -> (if (ts.exists(_.isNaN)) Double.NaN else ts.sorted.apply(ts.length / 2))
    }
    val (failed, ok) = results.partition(_._2.isNaN)
    failed.foreach { case (k, _) =>
      System.err.println(s"[benchq] $k EXCLUDED from the timings (failed sample)") }
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // the excluded names ride the JSON too, so a total over fewer
    // queries cannot pass for a total over all of them
    val excluded = failed.map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    println(s"""{"metric":"benchq","queries":$qs,"excluded":$excluded,"total_query_sec":${fmt(ok.map(_._2).sum)},"sf":"$sfDir","samples":$samples}""")
    spark.stop()
  }
}
