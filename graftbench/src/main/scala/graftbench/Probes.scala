package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work as the listener bus reports it, kept per job; a job's stages
  * and tasks follow it. Events arrive on the listener thread; readers call
  * [[org.apache.spark.BenchAccess]] first. */
final class JobProbe extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var inputBytes = 0L
    @volatile var shuffleWriteBytes = 0L
    @volatile var spillBytes = 0L
  }

  private val byId = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  def jobs: Seq[Job] = byId.values.asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    byId.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** JVM-wide counters read before and after each op. In local mode the
  * executors run inside this JVM, so GC and JIT cover them too. */
final case class JvmCounters(gcMs: Long, jitMs: Long, codegenCompiles: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs,
      codegenCompiles - o.codegenCompiles)
}

object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount)
}

object Host {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/status")))
    "VmHWM:\\s*(\\d+) kB".r.findFirstMatchIn(s)
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def loadAvg1(): Double =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble

  @volatile private var sink = 0L

  /** A fixed pure-JVM CPU loop (an LCG over a small array), timed. Its
    * time moves only with the host, so it dates each run's speed. */
  def calibrate(): Double = {
    val a = new Array[Long](4096)
    var x = 1L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 40000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      a((x >>> 52).toInt) += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    sink = a.sum // keeps the loop from being elided
    dt
  }
}
