package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters at one instant; deltas of two snapshots are what a
  * span records.
  */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
                        shuffleBytes: Long, spillBytes: Long,
                        filesRead: Long, scanRowsByRoot: Map[String, Long],
                        streamRows: Long, cpuNs: Long, taskTimesMs: Vector[Long]) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    filesRead - o.filesRead,
    scanRowsByRoot.map { case (k, v) => k -> (v - o.scanRowsByRoot.getOrElse(k, 0L)) },
    streamRows - o.streamRows, cpuNs - o.cpuNs, taskTimesMs.drop(o.taskTimesMs.size))
  /** max over median task time of the tasks in this window (1 when none) */
  def taskSkew: Double =
    if (taskTimesMs.isEmpty) 1.0
    else {
      val s = taskTimesMs.sorted
      val med = math.max(s(s.size / 2), 1L)
      s.last.toDouble / med
    }
  def scanRows(rootSuffix: String): Long =
    scanRowsByRoot.collect { case (k, v) if k.endsWith(rootSuffix) => v }.sum
}

/** Listener-based counts for the traced run: a SparkListener for jobs,
  * stages, tasks, shuffle, spill, task time and cached bytes, and a
  * QueryExecutionListener that walks each executed plan for files and
  * rows read by scans. Plan metrics are cumulative per plan node, so each
  * node's last-seen value is kept and only the growth is counted.
  */
final class Telemetry(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  private val cpu = new AtomicLong
  private val taskTimes = mutable.ArrayBuffer[Long]()
  private val cachedBlocks = mutable.HashMap[String, Long]()
  private var cachedNow = 0L
  private var cachedPeak = 0L
  private val seen = new java.util.IdentityHashMap[AnyRef, (Long, Long)]()
  private var filesRead = 0L
  private val scanRows = mutable.HashMap[String, Long]()
  private var streamRows = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        cpu.addAndGet(m.executorCpuTime)
        taskTimes.synchronized { taskTimes += m.executorRunTime }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) cachedBlocks.synchronized {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val prev = cachedBlocks.getOrElse(info.blockId.name, 0L)
        if (size == 0L) cachedBlocks.remove(info.blockId.name)
        else cachedBlocks(info.blockId.name) = size
        cachedNow += size - prev
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      walk(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      walk(qe.executedPlan)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan): Unit = seen.synchronized {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case i: InMemoryTableScanExec =>
        walk(i.relation.cachedPlan)
      case f: FileSourceScanExec =>
        val rows = metric(f, "numOutputRows")
        val files = metric(f, "numFiles")
        val (r0, f0) = Option(seen.get(f)).getOrElse((0L, 0L))
        seen.put(f, (rows, files))
        filesRead += math.max(files - f0, 0L)
        val root = f.relation.location.rootPaths.headOption.map(_.toString).getOrElse("?")
        scanRows(root) = scanRows.getOrElse(root, 0L) + math.max(rows - r0, 0L)
      // a micro-batch's rows: foreachBatch hands the batch over as an
      // RDD scan, which re-reads the source each time it is evaluated
      case s @ (_: DataSourceV2ScanExecBase | _: RDDScanExec) =>
        val rows = metric(s, "numOutputRows")
        val (r0, _) = Option(seen.get(s)).getOrElse((0L, 0L))
        seen.put(s, (rows, 0L))
        streamRows += math.max(rows - r0, 0L)
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Wait until both listener buses have delivered every event posted so
    * far, so that a snapshot taken now covers the work just finished.
    */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def snapshot(): Counts = {
    drain()
    seen.synchronized {
      Counts(jobs.get, stages.get, tasks.get, shuffle.get, spill.get, filesRead,
        scanRows.toMap, streamRows, cpu.get,
        taskTimes.synchronized(taskTimes.toVector))
    }
  }

  def cachedPeakBytes: Long = { drain(); cachedBlocks.synchronized(cachedPeak) }
  def resetCachedPeak(): Unit = cachedBlocks.synchronized { cachedPeak = cachedNow }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}
