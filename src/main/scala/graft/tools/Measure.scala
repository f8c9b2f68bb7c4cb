package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query timing, job profile and plan dump (not part of the driver
  * contract). Each query is written to the noop sink once to warm up,
  * then `samples` times, timed. The noop sink computes every column of
  * every row: a `count()` lets the optimizer drop work no counted column
  * needs (a key-unique left join, for one), so it can time another plan.
  *
  * stdout gets one JSON line of per-query medians (`"sink":"noop"`; a
  * query with a failed sample is named under `excluded` instead), stderr
  * the samples, and `<query>.txt` under `SPARK_GRAFT_PLAN_DIR` (default
  * `/tmp/plans`) the formatted initial plan, the final plan of the median
  * timed run's own noop write, and each timed run's jobs and slow stages.
  *
  * Usage: runMain graft.tools.Measure [samples] [query ...]
  * (default 3 samples of every `SparkEntry` query on `SPARK_GRAFT_SF_DIR`,
  * `local[SPARK_GRAFT_CPUS]`, default every host processor)
  */
object Measure {

  /** One Spark job, times in epoch ms; `end` is None when the job's end
    * event never arrived. */
  final case class Job(id: Int, stages: Int, tasks: Int, desc: String, start: Long, end: Option[Long]) {
    def sec: Option[Double] = end.map(e => (e - start) / 1e3)
  }

  final case class Stage(id: Int, name: String, sec: Double, tasks: Int)

  /** One timed run: `sec` is NaN when it failed; `finalPlan` is the
    * executed plan of its noop write. */
  final case class Run(sec: Double, jobs: Seq[Job], stages: Seq[Stage], finalPlan: Option[String])

  final case class Result(name: String, initialPlan: String, runs: Seq[Run]) {
    /** The run whose time is the median; None when any run failed. */
    def medianRun: Option[Run] =
      if (runs.isEmpty || runs.exists(_.sec.isNaN)) None
      else Some(runs.sortBy(_.sec).apply(runs.length / 2))

    def median: Double = medianRun.fold(Double.NaN)(_.sec)

    def report: String = {
      val fin = medianRun.orElse(runs.lastOption)
      val timed = runs.zipWithIndex.map { case (r, i) =>
        val jobs = r.jobs.map(j =>
          f"  job=${j.id}%4d ${j.sec.fold("missing")(fmt)}%8s s stages=${j.stages} tasks=${j.tasks}%4d ${j.desc.take(90)}\n")
        val slow = r.stages.filter(_.sec > 0.2).sortBy(-_.sec).map(s =>
          f"    stage=${s.id}%4d ${fmt(s.sec)}%7s s tasks=${s.tasks}%4d ${s.name}\n")
        s"run ${i + 1} wall=${fmt(r.sec)} s, jobs:\n${jobs.mkString}" +
          s"  sum_jobs=${fmt(r.jobs.flatMap(_.sec).sum)} s (the gap to wall is driver and planning time)\n" +
          s"  slow stages (>0.2 s):\n${slow.mkString}"
      }
      s"== INITIAL PLAN (formatted) ==\n$initialPlan\n" +
        s"== FINAL PLAN (executed, timed run ${fin.fold(0)(runs.indexOf(_) + 1)}) ==\n" +
        fin.flatMap(_.finalPlan).getOrElse("unavailable: the run did not finish its noop write") +
        s"\n== TIMED RUNS ==\n${timed.mkString}"
    }
  }

  /** How long a run's listener events may take to arrive after it ends. */
  private val DrainSec = 60L
  private val MarkerKey = "graft.measure.marker"

  // Locale.ROOT: the default locale may format decimals with a comma,
  // which would make the JSON line invalid
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Records the jobs, stages and noop-write plans of one session's runs.
    * Listener events arrive in order, so once the end of the marker job
    * that `take` starts is seen, every event before it has been seen. */
  private final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val plans = mutable.ArrayBuffer.empty[String]
    private val markerJobs, markerStages = mutable.Set.empty[Int]
    @volatile private var drained = new CountDownLatch(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(MarkerKey) != null)) {
        markerJobs += e.jobId; markerStages ++= e.stageIds
      } else {
        // a job without a description is named after its result stage
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, e.stageInfos.length, e.stageInfos.map(_.numTasks).sum, desc, e.time, None)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.remove(e.jobId)) drained.countDown()
      else jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = Some(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (!markerStages.remove(si.stageId))
        for (s <- si.submissionTime; c <- si.completionTime) {
          val where = si.details.linesIterator
            .filterNot(l => l.contains("org.apache.spark") || l.contains("java.")).take(3)
          stages += Stage(si.stageId, (Iterator(si.name) ++ where).mkString(" <- "), (c - s) / 1e3, si.numTasks)
        }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.exists { case w: V2WriteCommand => w.table.name == "noop-table"; case _ => false })
        synchronized { plans += qe.executedPlan.toString }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Waits, at most `DrainSec`, until every event of the runs so far
      * has arrived, then returns what they recorded and forgets it. */
    def take(): (Seq[Job], Seq[Stage], Seq[String]) = {
      val sc = spark.sparkContext
      drained = new CountDownLatch(1)
      sc.setLocalProperty(MarkerKey, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      if (!drained.await(DrainSec, TimeUnit.SECONDS))
        System.err.println(s"[measure] listener events still pending after $DrainSec s")
      synchronized {
        val r = (jobs.values.toList, stages.toList, plans.toList)
        jobs.clear(); stages.clear(); plans.clear()
        r
      }
    }
  }

  /** The run protocol: per query one warm noop-sink run, then `samples`
    * timed ones. A failed run times as NaN, so a query with one never
    * reports a (typically fast) elapsed-until-crash reading. */
  def measure(spark: SparkSession, sfDir: String, names: Seq[String], samples: Int): Seq[Result] = {
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    def frame(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)
    def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    try names.map { name =>
      val initial =
        try {
          val df = frame(name)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          write(df)
          plan
        } catch { case e: Throwable => System.err.println(s"[measure] warm $name FAILED: $e"); s"unavailable: $e" }
      rec.take()
      val runs = (1 to samples).map { _ =>
        val t0 = System.nanoTime()
        val sec =
          try { write(frame(name)); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable => System.err.println(s"[measure] $name FAILED: $e"); Double.NaN }
        val (jobs, stages, plans) = rec.take()
        Run(sec, jobs, stages, plans.lastOption)
      }
      System.err.println(s"[measure] $name samples=${runs.map(r => fmt(r.sec)).mkString(",")}")
      Result(name, initial, runs)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }

  /** The medians of the queries without a failed sample; the others are
    * named under `excluded`, so a total over fewer queries cannot pass
    * for a total over all of them. */
  def json(results: Seq[Result], sfDir: String, samples: Int): String = {
    val (failed, ok) = results.partition(_.median.isNaN)
    val qs = ok.map(r => "\"" + r.name + "\":" + fmt(r.median)).mkString("{", ",", "}")
    val excluded = failed.map("\"" + _.name + "\"").mkString("[", ",", "]")
    s"""{"metric":"benchq","queries":$qs,"excluded":$excluded,"total_query_sec":${fmt(ok.map(_.median).sum)},"sf":"$sfDir","samples":$samples,"sink":"noop"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val planDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/tmp/plans"))
    val samples = if (args.nonEmpty) args(0).toInt else 3
    require(samples >= 1, "usage: Measure [samples >= 1] [query ...]")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.LocalSpark.session(cpus, cpus * 4)
    val results = measure(spark, sfDir, names, samples)
    Files.createDirectories(planDir)
    for (r <- results) Files.writeString(planDir.resolve(s"${r.name}.txt"), r.report)
    System.err.println(s"[measure] wrote ${results.length} reports to $planDir")
    println(json(results, sfDir, samples))
    spark.stop()
  }
}
