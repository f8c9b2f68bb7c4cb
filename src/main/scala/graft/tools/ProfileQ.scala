package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Scratch (not part of the driver contract): per-JOB wall breakdown of
  * one named query — warm run, then a timed run with a SparkListener
  * recording every job's duration, task count and first-stage name, so
  * a slow query decomposes into its actual Spark jobs instead of one
  * opaque number. Every run writes to the noop sink, as BenchQueries
  * times, so the jobs are those of the whole result.
  *
  * Usage: runMain graft.tools.ProfileQ <query> [runs]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 1
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRec(id: Int, var start: Long = 0L, var end: Long = 0L,
        var desc: String = "", var tasks: Int = 0, var stages: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, (String, Long, Int)] // name, dur, tasks
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (record) {
        val r = JobRec(js.jobId)
        r.start = js.time
        r.desc = Option(js.properties.getProperty("spark.job.description")).getOrElse("")
        r.stages = js.stageInfos.length
        r.tasks = js.stageInfos.map(_.numTasks).sum
        jobs.synchronized { jobs(js.jobId) = r }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (record) {
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (record) {
        val si = sc.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        stages.synchronized {
          stages(si.stageId) = (si.name + " | " + si.details.linesIterator
            .filterNot(_.contains("org.apache.spark"))
            .filterNot(_.contains("java.")).take(3).mkString(" <- "), dur, si.numTasks)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def runOnce(): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warm (twice: first pass pays JIT+codegen, second confirms steady state)
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      runOnce()
      println(f"[profq] $name warm ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (r <- 1 to runs) {
      jobs.synchronized { jobs.clear() }
      stages.synchronized { stages.clear() }
      record = true
      val t0 = System.nanoTime()
      runOnce()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(300) // let the listener bus drain
      println(f"[profq] $name run$r wall=$wall%.3f s, jobs:")
      var sum = 0.0
      jobs.synchronized {
        jobs.values.foreach { j =>
          val d = (j.end - j.start) / 1e3
          sum += d
          println(f"[profq]   job=${j.id}%3d ${d}%8.3f s stages=${j.stages} tasks=${j.tasks}%4d ${j.desc.take(90)}")
        }
      }
      println(f"[profq]   sum_jobs=$sum%.3f s (wall $wall%.3f — gap = driver/planning time)")
      println("[profq]   slow stages (>0.2s):")
      stages.synchronized {
        stages.toSeq.sortBy(-_._2._2).takeWhile(_._2._2 > 200).foreach { case (id, (nm, d, nt)) =>
          println(f"[profq]     stage=$id%4d ${d / 1e3}%7.3f s tasks=$nt%4d $nm")
        }
      }
    }
    spark.stop()
  }
}
