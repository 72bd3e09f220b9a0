package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{GraftCatalog, KVMultiPartition, KVPartition, KVRing, KVTable}

/** One interval at a layer boundary. Times are wall-clock milliseconds, the
  * clock Spark's listener events carry, so benchmark-side spans and
  * listener-side spans nest on one axis. `op` is the timed operation the
  * span belongs to (-1: none), `parent` the index of the enclosing span. */
final case class Span(name: String, start: Double, end: Double, op: Long,
    parent: Int) {
  def dur: Double = end - start
}

/** What one finished query execution touched, read from its executed plan
  * after the fact (scan nodes, their metrics and planned input splits) and
  * from the Catalyst phase tracker. */
final case class QeStat(endMs: Double, durMs: Double,
    phases: Map[String, (Double, Double)],
    files: Long, fileRows: Long, fileScanMs: Double,
    kvSplits: Long, kvNonEmpty: Long, kvNonReplica: Long, kvHosts: Set[String],
    kvRows: Long, catRows: Long, catalogWrite: Boolean)

final case class TaskStat(stage: Int, launch: Long, finish: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleReadB: Long, fetchWaitMs: Long,
    shuffleWriteB: Long, spillB: Long, failed: Boolean)

final case class ProgressStat(atMs: Double, durations: Map[String, Long],
    stateRows: Long)

/** Records spans on the benchmark's own thread and collects Spark's public
  * listener events (jobs, stages, tasks, query executions, streaming
  * progress). Nothing inside the engine is instrumented: every number comes
  * from a public hook or from timing a call into a layer. */
final class Tracer {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  /** whether listeners are attached and spans are being recorded */
  var on = false

  /** Times `body` as a span; nested calls become its children. */
  def span[T](name: String, op: Long)(body: => T): T = if (!on) body else {
    val idx = spans.length
    val parent = open.headOption.getOrElse(-1)
    // a nested span belongs to its enclosing op
    val opId = if (op < 0 && parent >= 0) spans(parent).op else op
    spans += Span(name, now(), Double.NaN, opId, parent)
    open.push(idx)
    try body
    finally {
      open.pop()
      spans(idx) = spans(idx).copy(end = now())
    }
  }

  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start, end
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stagesDone = new ConcurrentLinkedQueue[(Int, Long)]() // id, completion
  val tasks = new ConcurrentLinkedQueue[TaskStat]()
  val qes = new ConcurrentLinkedQueue[QeStat]()
  val progress = new ConcurrentLinkedQueue[ProgressStat]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((e.jobId, s, e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add((e.stageInfo.stageId,
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks.add(if (m == null) TaskStat(e.stageId, info.launchTime, info.finishTime,
          0, 0, 0, 0, 0, 0, 0, failed = true)
        else TaskStat(e.stageId, info.launchTime, info.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, e.reason != Success))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try qes.add(Plans.stat(qe, durationNs))
      catch { case e: Throwable => System.err.println(s"[perfbench] plan stat: $e") }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressStat(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the asynchronous listener queues have gone quiet. */
  def drain(): Unit = {
    def size = jobs.size + tasks.size + qes.size + progress.size
    var last = -1
    while (size != last) { last = size; Thread.sleep(300) }
  }
}

/** Post-execution plan inspection: scan nodes, their metrics, planned splits. */
object Plans extends AdaptiveSparkPlanHelper {
  private def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  def stat(qe: QueryExecution, durationNs: Long): QeStat = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    val files = nodes.collect { case f: FileSourceScanExec => f }
    val kvScans = nodes.collect { case b: BatchScanExec if b.table.isInstanceOf[KVTable] => b }
    val catScans = nodes.collect {
      case b: BatchScanExec if b.table.getClass.getName.startsWith("graft.sources.G") => b
    }
    val splits = kvScans.flatMap(_.inputPartitions)
    // a split is off-replica when the hosts it asks to run on are not the
    // ring's replica set of its key (the paper's locality KPI)
    val nonReplica = splits.count {
      case p: KVPartition =>
        p.preferredLocations().toSet != KVRing.replicasOf(p.keyInternal.toSeq).toSet
      case _ => false
    }
    val nonEmpty = splits.count {
      case p: KVPartition => p.rows.nonEmpty
      case p: KVMultiPartition => p.rows.nonEmpty
      case _ => false
    }
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
    def inCatalog(t: LogicalPlan) = t.exists {
      case r: DataSourceV2Relation => r.catalog.exists(_.isInstanceOf[GraftCatalog])
      case _ => false
    }
    // a write command's target table is a field, not always a child
    val catalogWrite = qe.analyzed.exists {
      case w: V2WriteCommand => inCatalog(w.table)
      case m: MergeIntoTable => inCatalog(m.targetTable)
      case d: DeleteFromTable => inCatalog(d.table)
      case u: UpdateTable => inCatalog(u.table)
      case _ => false
    }
    QeStat(System.currentTimeMillis().toDouble, durationNs / 1e6, phases,
      files.map(metric(_, "numFiles")).sum,
      files.map(metric(_, "numOutputRows")).sum,
      files.map(f => metric(f, "scanTime") + metric(f, "metadataTime")).sum.toDouble,
      splits.length, nonEmpty, nonReplica,
      splits.flatMap(_.preferredLocations().headOption).toSet,
      kvScans.map(metric(_, "numOutputRows")).sum,
      catScans.map(metric(_, "numOutputRows")).sum,
      catalogWrite)
  }
}
