package ubabench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a workload, a pass, a query or stage, or one call
  * into a layer. `parent` is the id of the enclosing span (-1 at the root). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = 0L
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Engine counters gathered for one span from Spark's listener events. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakExecMem = 0L
  var runMs, cpuNs, gcMs, recordsRead, bytesRead = 0L
  var exchanges, nonCodegenOps = 0L
}

/** Span recorder. Spans are kept in memory; the caller writes them out when
  * the run ends. While recording, the id of the innermost open span is set
  * as a Spark local property, so every job started from this thread (and
  * from threads it starts, such as a streaming query's) carries the span
  * that caused it. Off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var recording = false

  def start(): Unit = recording = true
  def stop(): Unit = recording = false

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** The innermost span open at wall-clock time `ms`, or NoSpan. */
  def spanAt(ms: Long): Int = {
    val covering = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (covering.isEmpty) Tracer.NoSpan else covering.maxBy(_.start).id
  }

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  val SpanKey = "ubabench.span"
  val NoSpan = -1
}

/** Per-span engine counters from the public listener APIs: jobs, stages and
  * task metrics from a [[SparkListener]], and the final (post-AQE) plan
  * shape of each query execution from a [[QueryExecutionListener]]. Both
  * callbacks run on the listener bus's shared-queue thread. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val perSpan = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  /** (planning end, epoch ms; exchanges; operators outside codegen) of
    * each finished query execution. A QueryExecution carries no local
    * properties, so these attach to spans by time ([[Tracer.spanAt]]):
    * planning ends inside the span whose call started the execution. */
  val plans = mutable.ArrayBuffer[(Long, Long, Long)]()
  val totalJobs = new AtomicLong
  val checkpointRdds = mutable.HashSet[Int]()
  var storageBytes = 0L

  private def of(span: Int): Counters = perSpan.getOrElseUpdate(span, new Counters)

  /** Adds the plan shapes to the counters of the spans they ran in. */
  def attributePlans(tracer: Tracer): Unit = synchronized {
    plans.foreach { case (ms, ex, nc) =>
      val c = of(tracer.spanAt(ms))
      c.exchanges += ex
      c.nonCodegenOps += nc
    }
    plans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs.incrementAndGet()
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(Tracer.NoSpan)(_.toInt)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, Tracer.NoSpan)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, Tracer.NoSpan))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      b.blockId.asRDDId.foreach(r => checkpointRdds += r.rddId)
      storageBytes += b.memSize + b.diskSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val planned = qe.tracker.phases.values.map(_.endTimeMs).maxOption
        .getOrElse(System.currentTimeMillis())
      val (ex, nc) = EngineListener.planShape(qe.executedPlan, inCodegen = false)
      plans += ((planned, ex, nc))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object EngineListener {
  /** (exchanges, operators outside whole-stage codegen) of a final plan.
    * Plumbing nodes (AQE wrappers and readers, query stages, input
    * adapters, exchanges, write commands) are not operators here. */
  def planShape(p: SparkPlan, inCodegen: Boolean): (Long, Long) = {
    def sum(children: Seq[SparkPlan], cg: Boolean): (Long, Long) =
      children.map(planShape(_, cg)).foldLeft((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
    p match {
      case a: AdaptiveSparkPlanExec => planShape(a.executedPlan, inCodegen = false)
      case s: QueryStageExec => planShape(s.plan, inCodegen = false)
      case _: ReusedExchangeExec => (0L, 0L)
      case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
        val (ex, nc) = sum(e.children, cg = false)
        (ex + 1, nc)
      case w: WholeStageCodegenExec => planShape(w.child, inCodegen = true)
      case i: InputAdapter => planShape(i.child, inCodegen = false)
      case _: AQEShuffleReadExec | _: V2TableWriteExec | _: DataWritingCommandExec |
          _: ExecutedCommandExec => sum(p.children, cg = false)
      case _ =>
        val (ex, nc) = sum(p.children, inCodegen)
        (ex, nc + (if (inCodegen) 0 else 1))
    }
  }
}
