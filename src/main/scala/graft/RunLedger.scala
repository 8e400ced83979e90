package graft

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The run ledger: one passive SparkListener that rolls the scheduler's view
  * of a measured body up into the layer split a profile needs — jobs, stages
  * and tasks; executor run and CPU time; shuffle, spill and input bytes; the
  * driver gap (wall time no job covered: planning, driver-side collects and
  * table builds, job submission); and the task skew (max / median task
  * time).
  *
  * Jobs are grouped by local properties they already carry: the
  * `graft.phase` label [[RunLedger.phase]] sets around an action, and the
  * micro-batch id Structured Streaming sets on every job of a trigger.
  *
  * The ledger only observes: it sets no conf, runs no job and caches
  * nothing. A window is read only after the listener bus has drained, so no
  * event of a finished body is missed. */
final class RunLedger private (sc: SparkContext) extends SparkListener {
  import RunLedger._

  private var recording = false
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val phase = prop(PhaseKey)
      val batch = prop(BatchIdKey).map(b => (prop(QueryIdKey).getOrElse(""), b.toLong))
      jobs(e.jobId) = Job(e.time, e.time, phase, batch)
      phase.foreach(p => e.stageIds.foreach(stagePhase(_) = p))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (recording) stageTasks += e.stageInfo.numTasks }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (i, m) = (e.taskInfo, e.taskMetrics)
    if (recording && i != null && m != null)
      tasks += Task(i.finishTime - i.launchTime, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        stagePhase.get(e.stageId))
  }

  /** Runs `body` and returns its result with the ledger window of exactly
    * the jobs it submitted (measure calls must not nest). */
  def measure[T](body: => T): (T, Window) = {
    ListenerBusDrain(sc)
    synchronized {
      jobs.clear(); stagePhase.clear(); stageTasks.clear(); tasks.clear()
      recording = true
    }
    val t0 = System.currentTimeMillis()
    var t1 = t0
    val out = try body finally {
      t1 = System.currentTimeMillis()
      ListenerBusDrain(sc)
      synchronized { recording = false }
    }
    (out, synchronized(Window(t1 - t0, jobs.values.toVector,
      stageTasks.toVector, tasks.toVector)))
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object RunLedger {
  /** The local property [[phase]] sets; every job submitted inside carries
    * it. */
  val PhaseKey = "graft.phase"
  // set by Structured Streaming on every job of a micro-batch
  private val BatchIdKey = "streaming.sql.batchId"
  private val QueryIdKey = "sql.streaming.queryId"

  def attach(spark: SparkSession): RunLedger = {
    val l = new RunLedger(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Labels every job `body` submits with `name`, then restores the
    * enclosing label. Costs nothing when no ledger is attached. */
  def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  /** One job: scheduler start/end times (ms), phase label, and the
    * (streaming query id, batch id) it ran for. */
  final case class Job(start: Long, end: Long, phase: Option[String],
      batch: Option[(String, Long)])

  /** One finished task (times in ms, CPU in ns, sizes in bytes). */
  final case class Task(durMs: Long, runMs: Long, cpuNs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, inputB: Long,
      phase: Option[String])

  /** Scheduler rows of one or more measured bodies; `++` pools windows (a
    * lane's reps) before the roll-up. */
  final case class Window(wallMs: Long, jobs: Vector[Job],
      stageTasks: Vector[Int], tasks: Vector[Task]) {
    def ++(o: Window): Window = Window(wallMs + o.wallMs, jobs ++ o.jobs,
      stageTasks ++ o.stageTasks, tasks ++ o.tasks)

    /** Wall time covered by at least one job. Pooled windows never overlap
      * in time, so one union over all their jobs is exact. */
    def jobWallMs: Long = spanUnionMs(jobs)
    def driverGapS: Double = math.max(0L, wallMs - jobWallMs) / 1000.0
    def execCpuS: Double = tasks.map(_.cpuNs).sum / 1e9

    /** Max / median task time (1.0 with no tasks). */
    def taskSkew: Double = {
      val d = tasks.map(_.durMs).sorted
      if (d.isEmpty || d(d.length / 2) <= 0) 1.0
      else d.last.toDouble / d(d.length / 2)
    }

    /** Jobs per streaming micro-batch, in (query, batch id) order. A fed
      * trigger of a watermarked query runs two micro-batches: the data
      * batch and the no-data batch that advances the watermark. */
    def jobsByBatch: Vector[Int] = jobs.flatMap(_.batch)
      .groupBy(identity).toVector.sortBy(_._1).map(_._2.length)

    /** Per phase label: (jobs, wall covered by its jobs, executor CPU). */
    def phases: Seq[(String, (Int, Double, Double))] =
      jobs.flatMap(_.phase).distinct.sorted.map { p =>
        val pj = jobs.filter(_.phase.contains(p))
        p -> ((pj.length, spanUnionMs(pj) / 1000.0,
          tasks.filter(_.phase.contains(p)).map(_.cpuNs).sum / 1e9))
      }

    def toJson: String = {
      def mb(f: Task => Long) = num(tasks.map(f).sum / 1e6)
      val phaseJson = phases.map { case (p, (n, wall, cpu)) =>
        s""""$p":{"jobs":$n,"wall_s":${num(wall)},"exec_cpu_s":${num(cpu)}}"""
      }.mkString("{", ",", "}")
      val batches = jobsByBatch
      s"""{"jobs":${jobs.length},"stages":${stageTasks.length}""" +
        s""","tasks":${tasks.length},"wall_s":${num(wallMs / 1000.0)}""" +
        s""","job_wall_s":${num(jobWallMs / 1000.0)}""" +
        s""","driver_gap_s":${num(driverGapS)}""" +
        s""","exec_run_s":${num(tasks.map(_.runMs).sum / 1000.0)}""" +
        s""","exec_cpu_s":${num(execCpuS)}""" +
        s""","shuffle_read_mb":${mb(_.shuffleReadB)}""" +
        s""","shuffle_write_mb":${mb(_.shuffleWriteB)}""" +
        s""","spill_mb":${mb(_.spillB)},"input_mb":${mb(_.inputB)}""" +
        s""","task_skew":${num(taskSkew)},"phases":$phaseJson""" +
        (if (batches.isEmpty) ""
         else s""","jobs_by_batch":${batches.mkString("[", ",", "]")}""") +
        "}"
    }
  }

  val EmptyWindow: Window = Window(0L, Vector.empty, Vector.empty, Vector.empty)

  private def spanUnionMs(js: Seq[Job]): Long = {
    var covered = 0L; var a = -1L; var b = -1L
    for (j <- js.sortBy(_.start) if j.end > j.start) {
      if (j.start > b) { covered += b - a; a = j.start; b = j.end }
      else b = math.max(b, j.end)
    }
    covered + b - a
  }

  private def num(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}
