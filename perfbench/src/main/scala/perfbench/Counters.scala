package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Counters of one window of work: the engine's own accounting (jobs,
  * tasks, executor CPU, shuffle bytes, ...) plus the JVM's and the
  * host's. CPU, jobs, tasks and bytes are what hypervisor steal cannot
  * move, so they sit beside every wall-clock number.
  */
final case class Snap(
    wallNs: Long,
    jobs: Long,
    stages: Long,
    tasks: Long,
    cpuNs: Long,
    runMs: Long,
    taskGcMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    inputRecords: Long,
    outputBytes: Long,
    outputRecords: Long,
    compiles: Long,
    jvmGcMs: Long,
    stealTicks: Long,
    hostTicks: Long,
    stageIdx: Int,
) {
  def -(o: Snap): Snap = Snap(
    wallNs - o.wallNs, jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, runMs - o.runMs, taskGcMs - o.taskGcMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, outputBytes - o.outputBytes,
    outputRecords - o.outputRecords, compiles - o.compiles,
    jvmGcMs - o.jvmGcMs, stealTicks - o.stealTicks, hostTicks - o.hostTicks,
    stageIdx)

  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9

  def stealShare: Double = if (hostTicks > 0) stealTicks.toDouble / hostTicks else 0.0

  /** 1 − task busy time ÷ (wall × cores): the share of the slots that
    * sat idle, e.g. between the jobs of a scheduling-bound loop.
    */
  def idleShare(cores: Int): Double =
    if (wallNs <= 0) 0.0 else 1.0 - (runMs / 1e3) / (wallS * cores)

  def toMap: Map[String, Any] = Map(
    "wall_s" -> wallS, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_s" -> cpuS, "task_run_s" -> runMs / 1e3, "task_gc_s" -> taskGcMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "codegen_compiles" -> compiles, "jvm_gc_s" -> jvmGcMs / 1e3,
    "steal_share" -> stealShare)
}

/** One completed stage: its task durations (for skew) and bytes. */
final case class StageStat(
    stageId: Int,
    taskMs: Vector[Long],
    runMs: Long,
    cpuNs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
) {
  /** Max over median task time; 1.0 for a single task. */
  def skew: Double = {
    val s = taskMs.sorted
    if (s.isEmpty) 1.0
    else {
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
  }
}

/** Spark listener accumulating [[Snap]] counters, plus a streaming
  * listener keeping every micro-batch's progress. Attached by the
  * benchmark to each session it builds; the engine is not touched.
  */
final class Counters extends SparkListener {
  private var jobs, stages, tasks, cpuNs, runMs, taskGcMs = 0L
  private var shuffleRead, shuffleWrite, spill = 0L
  private var inBytes, inRecords, outBytes, outRecords = 0L
  private val openStages = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageRun = mutable.Map.empty[Int, Array[Long]]
  private val done = mutable.ArrayBuffer.empty[StageStat]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized { progress += e.progress }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      taskGcMs += m.jvmGCTime
      val sr = m.shuffleReadMetrics.totalBytesRead
      val sw = m.shuffleWriteMetrics.bytesWritten
      shuffleRead += sr
      shuffleWrite += sw
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
      outRecords += m.outputMetrics.recordsWritten
      openStages.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val acc = stageRun.getOrElseUpdate(e.stageId, new Array[Long](4))
      acc(0) += m.executorRunTime
      acc(1) += m.executorCpuTime
      acc(2) += sr
      acc(3) += sw
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val id = e.stageInfo.stageId
    val durations = openStages.remove(id).map(_.toVector).getOrElse(Vector.empty)
    val acc = stageRun.remove(id).getOrElse(new Array[Long](4))
    done += StageStat(id, durations, acc(0), acc(1), acc(2), acc(3))
  }

  /** Counters now, after every event of finished work has arrived. */
  def snap(spark: SparkSession): Snap = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val (steal, total) = Counters.procStat()
    synchronized {
      Snap(System.nanoTime(), jobs, stages, tasks, cpuNs, runMs, taskGcMs,
        shuffleRead, shuffleWrite, spill, inBytes, inRecords, outBytes, outRecords,
        Counters.compiles(), Counters.jvmGcMs(), steal, total, done.size)
    }
  }

  /** Stages completed between two snaps. */
  def stagesBetween(a: Snap, b: Snap): Vector[StageStat] =
    synchronized { done.slice(a.stageIdx, b.stageIdx).toVector }

  def progressSince(n: Int): Vector[StreamingQueryProgress] =
    synchronized { progress.drop(n).toVector }

  def progressCount: Int = synchronized { progress.size }
}

object Counters {
  def attach(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(c.streams)
    c
  }

  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** (steal, total) jiffies of the host's aggregate `cpu` line. */
  def procStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
