package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Scheduler, task, shuffle and I/O totals, accumulated by the harness's
  * own listener. Only the listener-bus thread writes them; readers call
  * [[Counters.snapshot]], which drains the bus first. */
final class TaskListener extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var taskMs, runMs, cpuNs = 0L
  @volatile var shuffleWrite, shuffleRead, fetchWaitMs, memSpill, diskSpill = 0L
  @volatile var inBytes, outBytes, peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      outBytes += m.outputMetrics.bytesWritten
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Cumulative layer counters: the listener's totals (when tracing) plus the
  * JVM's JIT and GC time and Spark's codegen compile totals, which cost
  * nothing to read and are taken in every run. */
final class Counters(spark: SparkSession, trace: Boolean) {
  private val listener = new TaskListener
  if (trace) spark.sparkContext.addSparkListener(listener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def jobs: Long = { if (trace) BusDrain(spark.sparkContext); listener.jobs }

  /** Counter totals so far, in the units the metrics are reported in. */
  def snapshot(): Map[String, Double] = {
    if (trace) BusDrain(spark.sparkContext)
    val l = listener
    val mb = 1024.0 * 1024.0
    Map(
      "sched.jobs" -> l.jobs.toDouble,
      "sched.stages" -> l.stages.toDouble,
      "sched.tasks" -> l.tasks.toDouble,
      "sched.task_ms" -> l.taskMs.toDouble,
      "exec.run_s" -> l.runMs / 1e3,
      "exec.cpu_s" -> l.cpuNs / 1e9,
      "shuffle.write_mb" -> l.shuffleWrite / mb,
      "shuffle.read_mb" -> l.shuffleRead / mb,
      "shuffle.fetch_wait_s" -> l.fetchWaitMs / 1e3,
      "spill.mem_mb" -> l.memSpill / mb,
      "spill.disk_mb" -> l.diskSpill / mb,
      "io.input_mb" -> l.inBytes / mb,
      "io.output_mb" -> l.outBytes / mb,
      "codegen.compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      "codegen.classes" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.jit_s" -> jit.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1e3)
  }

  /** Largest per-task peak execution memory since the last call. */
  def takePeakExecMb(): Double = {
    if (trace) BusDrain(spark.sparkContext)
    val p = listener.peakExecMem
    listener.peakExecMem = 0L
    p / (1024.0 * 1024.0)
  }

  /** Heap in use after the most recent collection of each heap pool. Read
    * right after a full collection it is the live heap. */
  def heapAfterGcMb(): Double =
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum /
      (1024.0 * 1024.0)
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
