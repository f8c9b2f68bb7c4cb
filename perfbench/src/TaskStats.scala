package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics of one finished stage. Times in seconds. */
final case class StageStat(
    wallS: Double, taskS: Seq[Double], shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteS: Double, fetchWaitS: Double, spillBytes: Long) {
  def runS: Double = taskS.sum
  /** Slowest task over the median task. */
  def skew: Double = if (taskS.isEmpty) 1.0 else taskS.max / math.max(1e-6, Stats.median(taskS))
}

/** A `SparkListener` and `QueryExecutionListener` owned by the
  * benchmark: it keeps every finished stage's task metrics and every
  * `observe()` result, so the traced run reads shuffle bytes, write
  * time, fetch wait, spill and task skew per layer without touching
  * the program.
  */
final class TaskStats(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Acc {
    val tasks = mutable.ArrayBuffer.empty[Double]
    var readB, writeB, spill = 0L
    var writeNs, fetchMs = 0L
  }
  private val accs = mutable.Map.empty[Int, Acc]
  private val done = mutable.ArrayBuffer.empty[StageStat]
  private val observed = mutable.ArrayBuffer.empty[(String, Row)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accs.getOrElseUpdate(e.stageId, new Acc)
    a.tasks += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) {
      a.readB += m.shuffleReadMetrics.totalBytesRead
      a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      a.writeB += m.shuffleWriteMetrics.bytesWritten
      a.writeNs += m.shuffleWriteMetrics.writeTime
      a.spill += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = accs.remove(i.stageId).getOrElse(new Acc)
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3).getOrElse(0.0)
    done += StageStat(wall, a.tasks.toList, a.readB, a.writeB, a.writeNs / 1e9, a.fetchMs / 1e3, a.spill)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qe.observedMetrics.foreach(observed += _) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Everything recorded since the last `take`, and forget it. */
  def take(): (Seq[StageStat], Seq[(String, Row)]) = {
    drain()
    synchronized {
      val r = (done.toList, observed.toList)
      done.clear(); observed.clear()
      r
    }
  }
}

object TaskStats {
  def attach(spark: SparkSession): TaskStats = {
    val t = new TaskStats(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def detach(spark: SparkSession, t: TaskStats): Unit = {
    t.drain()
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }
}
