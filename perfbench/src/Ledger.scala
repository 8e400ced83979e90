package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task as the listener saw it (times in ms, cpu in ns). */
final case class TaskRow(launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long)

/** Passive SparkListener: counts jobs and keeps every finished task's
  * metrics. It only observes the scheduler; it never changes the program. */
final class TaskLedger extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRow]()
  private val jobs = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRow(i.launchTime, i.finishTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Runs `body` and returns the scheduler ledger of exactly its jobs. */
  def measure(spark: SparkSession)(body: => Unit): OpLedger = {
    org.apache.spark.BusDrain(spark.sparkContext)
    tasks.clear(); jobs.set(0)
    val t0 = System.currentTimeMillis()
    body
    val t1 = System.currentTimeMillis()
    org.apache.spark.BusDrain(spark.sparkContext)
    OpLedger(t0, t1, jobs.get, tasks.asScala.toVector)
  }
}

/** Scheduler view of one op. */
final case class OpLedger(start: Long, end: Long, jobs: Int, tasks: Vector[TaskRow]) {
  def wallS: Double = math.max(end - start, 1L) / 1000.0

  /** Wall time inside the op during which no task was running: planning,
    * driver-side collects and job scheduling. */
  def driverGapS: Double = {
    val iv = tasks.map(t => (math.max(t.launch, start), math.min(t.finish, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (end - start) - covered) / 1000.0
  }

  def metrics: Seq[(String, Double)] = {
    val durs = tasks.map(t => (t.finish - t.launch).toDouble).sorted
    val median = if (durs.isEmpty) 0.0 else durs(durs.length / 2)
    Seq(
      "spark.jobs" -> jobs.toDouble,
      "spark.tasks" -> tasks.length.toDouble,
      "spark.driver_gap_s" -> driverGapS,
      "spark.exec_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "spark.busy_cores" -> durs.sum / 1000.0 / wallS,
      "spark.task_skew" -> (if (median > 0) durs.last / median else 1.0),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1048576.0,
      "spark.spill_mb" -> tasks.map(_.spill).sum / 1048576.0)
  }
}

/** Peak old-generation occupancy right after a collection: the live heap,
  * sampled every 20 ms while an op runs and once more after a full GC at
  * its end (caches and broadcast tables the op left behind stay live). */
final class LiveHeapProbe {
  private val pools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(p => p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  @volatile private var peak = 0L
  @volatile private var running = false

  private def sample(): Unit = pools.foreach { p =>
    val u = p.getCollectionUsage
    if (u != null) peak = math.max(peak, u.getUsed)
  }

  def measure(body: => Unit): Double = {
    peak = 0L; running = true
    val t = new Thread(() => while (running) { sample(); Thread.sleep(20) })
    t.setDaemon(true); t.start()
    try body finally { running = false; t.join(); System.gc(); sample() }
    peak / 1048576.0
  }
}
