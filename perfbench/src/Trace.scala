package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Spans of one op share `op`;
  * `parent` is the enclosing span's id (0 at an op's root). */
final case class Span(id: Int, parent: Int, op: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. With `on = false` every call is a plain
  * by-name evaluation, so the untraced loop pays nothing but the call. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var op: Long = -1L
  // Epoch-ms timestamps (Catalyst's phase tracker) → this JVM's nanoTime.
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, layer, t0, System.nanoTime())
      }
    }

  /** A span known only by epoch-ms bounds; its parent is resolved later by
    * time containment within the same op. */
  def synthetic(name: String, layer: String, startMs: Long, endMs: Long): Unit =
    if (on) {
      spans += Span(nextId, -1, op, name, layer,
        startMs * 1000000L + epochToNano, endMs * 1000000L + epochToNano)
      nextId += 1
    }

  /** Tag every Spark job the current thread starts with the op id and the
    * op phase (`build` = before the terminal action). */
  def phase(p: String): Unit =
    if (on) {
      spark.sparkContext.setLocalProperty("perfbench.op", op.toString)
      spark.sparkContext.setLocalProperty("perfbench.phase", p)
    }

  /** Stop tagging: jobs the thread starts from here on belong to no op. */
  def untag(): Unit =
    if (on) {
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      spark.sparkContext.setLocalProperty("perfbench.phase", null)
    }

  def resolved: Seq[Span] = {
    val byOp = spans.groupBy(_.op)
    spans.toSeq.map { s =>
      if (s.parent >= 0) s
      else {
        val host = byOp(s.op).filter(h => h.parent >= 0 && h.startNs <= s.startNs &&
          h.endNs >= s.endNs)
        s.copy(parent = if (host.isEmpty) 0 else host.maxBy(_.startNs).id)
      }
    }
  }

  /** Self time per layer: a span's duration minus the part of it covered
    * by its children. */
  def selfTimeMs(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map { c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        }.sum
        (s.endNs - s.startNs - covered).max(0L) / 1e6
      }.sum
    }
  }
}

/** Per-op execution counters, attributed through the job-group style
  * local property the tracer sets. */
final class OpStats {
  var jobs, eagerJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var streamBatches, streamBatchMs = 0L
  val streamStateRows = mutable.Map.empty[String, Long]
}

final class ExecListener(tracer: Tracer) extends SparkListener {
  val byOp = mutable.Map.empty[Long, OpStats]
  private val stageOp = mutable.Map.empty[Int, Long]

  private def tag(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.op"))).map(_.toLong)
  def stats(op: Long): OpStats = synchronized(byOp.getOrElseUpdate(op, new OpStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = tag(e.properties).foreach { op =>
    val s = stats(op)
    synchronized {
      s.jobs += 1
      if (e.properties.getProperty("perfbench.phase") == "build") s.eagerJobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tag(e.properties).foreach { op =>
      val s = stats(op)
      synchronized { s.stages += 1; stageOp(e.stageInfo.stageId) = op }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = byOp.getOrElseUpdate(op, new OpStats)
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Streaming progress, attributed to the op running when it arrives
    * (the bus is drained at every op boundary). */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val s = stats(tracer.op)
      ExecListener.this.synchronized {
        s.streamBatches += 1
        s.streamBatchMs += Option(p.batchDuration).getOrElse(0L)
        s.streamStateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }
}

/** Plan shape and Catalyst phase times of an executed DataFrame. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Shape(analysisMs: Double, optimizerMs: Double, planningMs: Double,
      codegenStages: Int, exchanges: Int)

  def of(df: DataFrame, tracer: Tracer): Shape = {
    val qe = df.queryExecution
    val ph = qe.tracker.phases
    ph.foreach { case (k, p) => tracer.synthetic(s"plan.$k", "plan", p.startTimeMs, p.endTimeMs) }
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    Shape(ms("analysis"), ms("optimization"), ms("planning"),
      collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }.size,
      collectWithSubqueries(plan) { case x: Exchange => x }.size)
  }

  /** Names of the generated tables (`<name>.parquet`) a plan scans. */
  def tables(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.getName)
      case _ => Nil
    }.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).distinct
}

object Jvm {
  private def mb(b: Long) = b / 1048576.0
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def heapPeakMb: Double = mb(ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum)
  def codeCacheMb: Double = mb(ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum)
  /** Peak resident set of this process (Linux VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
