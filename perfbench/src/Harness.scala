package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The run's one local Spark session, `local[nproc]`. */
object Sessions {
  val ShufflePartitions = 16

  def start(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Runs an operation at a smaller task width inside the `local[nproc]`
  * session: a blocker job first occupies `nproc - width` task slots
  * with idle tasks, so the operation's tasks run on the remaining
  * `width` slots. Unlike a second `local[width]` session this keeps
  * one session, one warm JVM and the same physical plans (AQE sizes
  * its coalescing from the session's default parallelism), and lets
  * the two widths alternate operation by operation.
  */
object Width {
  private val parked = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var gate = new java.util.concurrent.CountDownLatch(0)

  /** Body of a blocker task: wait until the operation is over. */
  def park(): Unit = { parked.incrementAndGet(); gate.await() }

  def limit[A](spark: SparkSession, nproc: Int, width: Int)(f: => A): A = {
    val hold = nproc - width
    if (hold <= 0) return f
    parked.set(0)
    val release = new java.util.concurrent.CountDownLatch(1)
    gate = release
    val blocker = new Thread(() =>
      spark.sparkContext.parallelize(0 until hold, hold).foreach(_ => Width.park()))
    blocker.start()
    while (parked.get < hold) Thread.sleep(2)
    try f
    finally {
      release.countDown()
      blocker.join()
    }
  }
}

/** Heap and GC readings from the JVM's own beans. For every
  * collection, `afterGc` keeps the heap still in use when it ended
  * (`GarbageCollectionNotificationInfo`, the figure
  * `MemoryPoolMXBean.getCollectionUsage` keeps per pool), tagged with
  * the collection's start on the JVM uptime clock.
  */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = gcs.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.add((info.getGcInfo.getStartTime, used))
        }
      }, null, null)
    case _ => ()
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def gcMillis: Long = gcs.map(_.getCollectionTime).sum

  /** Largest heap-after-collection among collections that started in
    * `[fromMs, toMs]` of uptime (0 when there was none). */
  def peakAfterGc(fromMs: Long, toMs: Long): Long =
    afterGc.asScala.collect { case (t, u) if t >= fromMs && t <= toMs => u }
      .foldLeft(0L)(math.max)

  /** Let pending GC notifications arrive before they are read. */
  def settle(): Unit = Thread.sleep(50)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Prints one `[perfbench]` line per event on stderr. */
object Log {
  def apply(msg: String): Unit = System.err.println(f"[perfbench ${Jvm.uptimeMs / 1e3}%6.1fs] $msg")
}
