package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Context-free work counters plus the Catalyst phase times, as deltas
  * between two [[Probe.snapshot]]s. Counts and bytes repeat exactly for
  * the same plan on the same input; only the `*Ms`/`*Ns` fields are times.
  */
final case class Work(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    failedTasks: Long = 0,
    taskRunMs: Long = 0,
    taskCpuNs: Long = 0,
    gcMs: Long = 0,
    maxTaskMs: Long = 0,
    inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0,
    spillBytes: Long = 0,
    jobBusyMs: Long = 0,
    queries: Long = 0,
    analysisMs: Long = 0,
    optimizationMs: Long = 0,
    planningMs: Long = 0
) {
  def -(o: Work): Work = Work(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    maxTaskMs, // a maximum, not a sum: the later snapshot's max since [[Probe.resetMax]]
    inputBytes - o.inputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    jobBusyMs - o.jobBusyMs, queries - o.queries, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs
  )

  /** Two windows' work together; the maximum stays a maximum. */
  def +(o: Work): Work = Work(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, failedTasks + o.failedTasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    math.max(maxTaskMs, o.maxTaskMs),
    inputBytes + o.inputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    jobBusyMs + o.jobBusyMs, queries + o.queries, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs
  )

  /** The counters that decide "code or context": they move only when the
    * work itself changes.
    */
  def counters: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble, "input_bytes" -> inputBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "spill_bytes" -> spillBytes.toDouble
  )

  def times: Seq[(String, Double)] = Seq(
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "max_task_s" -> maxTaskMs / 1e3, "job_busy_s" -> jobBusyMs / 1e3,
    "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
    "planning_s" -> planningMs / 1e3
  )
}

/** Spark's own hooks, registered from outside the program: a
  * [[SparkListener]] for job/stage/task metrics and a
  * [[QueryExecutionListener]] for the `QueryPlanningTracker` phases.
  */
final class Probe(spark: SparkSession) {
  private val jobs, stages, tasks, failedTasks = new AtomicLong
  private val taskRunMs, taskCpuNs, gcMs, maxTaskMs = new AtomicLong
  private val inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
  private val jobBusyMs, queries, analysisMs, optimizationMs, planningMs = new AtomicLong
  // Union of running-job intervals, from the events' own timestamps.
  private var running = 0
  private var busySince = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      if (running == 0) busySince = e.time
      running += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running = math.max(0, running - 1)
      if (running == 0) jobBusyMs.addAndGet(math.max(0L, e.time - busySince))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (!e.taskInfo.successful) failedTasks.incrementAndGet()
      maxTaskMs.accumulateAndGet(e.taskInfo.duration, (a: Long, b: Long) => math.max(a, b))
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      queries.incrementAndGet()
      val p = qe.tracker.phases
      p.get("analysis").foreach(s => analysisMs.addAndGet(s.durationMs))
      p.get("optimization").foreach(s => optimizationMs.addAndGet(s.durationMs))
      p.get("planning").foreach(s => planningMs.addAndGet(s.durationMs))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  /** Counter totals so far, after every posted event has been delivered. */
  def snapshot(): Work = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    Work(
      jobs.get, stages.get, tasks.get, failedTasks.get, taskRunMs.get, taskCpuNs.get, gcMs.get,
      maxTaskMs.get, inputBytes.get, shuffleWriteBytes.get, shuffleReadBytes.get,
      spillBytes.get, jobBusyMs.get, queries.get, analysisMs.get, optimizationMs.get,
      planningMs.get
    )
  }

  /** Starts a new window for the longest-task maximum. */
  def resetMax(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    maxTaskMs.set(0)
  }
}

/** The work and host steal of the timed parts of one pass: each `apply`
  * adds the counters of one timed window, so untimed work between windows
  * (a catalogue query's warmup run) stays out of them.
  */
final class Meter(probe: Probe) {
  private var total = Work()
  private var steal = 0.0

  def work: Work = total
  def stealS: Double = steal

  def apply[A](body: => A): A = {
    probe.resetMax()
    val w0 = probe.snapshot()
    val s0 = Host.stealSeconds()
    try body
    finally {
      steal += Host.stealSeconds() - s0
      total = total + (probe.snapshot() - w0)
    }
  }
}

/** Host context read from the kernel, not from the program. */
object Host {

  /** Cumulative CPU steal time of the whole host in seconds (all CPUs),
    * from the `cpu` line of /proc/stat; 0 where the file is absent.
    */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map { l =>
          val f = l.trim.split("\\s+")
          if (f.length > 8) f(8).toDouble / 100.0 else 0.0 // USER_HZ = 100
        }.getOrElse(0.0)
      } finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** Peak resident set size of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try {
        src.getLines().find(_.startsWith("VmHWM:")).map { l =>
          l.split("\\s+")(1).toDouble / 1024.0
        }.getOrElse(Double.NaN)
      } finally src.close()
    } catch { case _: java.io.IOException => Double.NaN }
}
