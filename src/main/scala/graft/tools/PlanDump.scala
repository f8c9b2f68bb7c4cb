package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch: run named queries at SPARK_GRAFT_SF_DIR (bench session
  * shape) and write both the formatted initial plan and the final
  * adaptive executed plan to /tmp/plans/<name>.txt.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/tmp/plans")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- args) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df.count() // finalize AQE
      val fin = df.queryExecution.executedPlan.toString
      val out = s"== FORMATTED (initial) ==\n$formatted\n== EXECUTED (final adaptive) ==\n$fin"
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name.txt"),
        out.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
