package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends. A span is one
  * call the benchmark makes into a layer; `parent` is the span that caused
  * it on the same thread, and every span of one run shares `runId`. With
  * tracing off nothing is recorded.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => List(0))
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.head
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(id, parent, name, t0, System.nanoTime())
        spans.synchronized(spans += s)
        stack.set(stack.get.tail)
      }
    }

  def count: Int = spans.synchronized(spans.size)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.synchronized(spans.toList).sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Spark exec-layer counts between `reset` and `snapshot`: jobs, stages and
  * tasks, executor run and CPU time, shuffle, spill, GC, skew and the run
  * time spent after an exchange.
  */
final class ExecListener extends SparkListener {
  import ExecListener.Snapshot

  private var jobs, stages = 0
  private val taskRun = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val scanStages = scala.collection.mutable.Set.empty[Int]
  private var cpuNs, shuffleRead, shuffleWrite, spill, gcMs, postShuffleMs = 0L

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; taskRun.clear(); scanStages.clear()
    cpuNs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0; gcMs = 0; postShuffleMs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD")))
      scanStages += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskRun.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
      cpuNs += m.executorCpuTime
      val sr = m.shuffleReadMetrics
      shuffleRead += sr.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      if (sr.totalBlocksFetched > 0) postShuffleMs += m.executorRunTime
    }
  }

  def snapshot(): Snapshot = synchronized {
    val skews = taskRun.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
    val scan = taskRun.filter { case (id, _) => scanStages(id) }.values
    Snapshot(jobs, stages, taskRun.values.map(_.size).sum,
      taskRun.values.map(_.sum).sum, cpuNs, shuffleRead, shuffleWrite, spill,
      gcMs, if (skews.isEmpty) 1.0 else skews.max, postShuffleMs,
      scan.map(_.size).sum, scan.map(_.sum).sum)
  }
}

object ExecListener {
  final case class Snapshot(jobs: Int, stages: Int, tasks: Int, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      gcMs: Long, skew: Double, postShuffleMs: Long, scanTasks: Int,
      scanRunMs: Long)
}

/** seamf scan counters (the source's DSv2 custom SQL metrics) and action
  * durations, read from each finished query execution.
  */
final class ScanListener extends QueryExecutionListener {
  import ScanListener.Action
  private var counts = Map.empty[String, Long].withDefaultValue(0L)
  private val actions = ArrayBuffer.empty[Action]

  def reset(): Unit = synchronized { counts = counts.empty; actions.clear() }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val found = scans(qe.executedPlan)
    synchronized {
      actions += Action(funcName, durationNs)
      for (s <- found; (k, m) <- s.metrics if k.startsWith("seamf"))
        counts = counts.updated(k, counts(k) + m.value)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[DataSourceV2ScanExecBase] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: DataSourceV2ScanExecBase => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def count(metric: String): Long = synchronized(counts(metric))
  def actionsSnapshot(): Seq[Action] = synchronized(actions.toList)
}

object ScanListener {
  final case class Action(funcName: String, durationNs: Long)
}

/** Per-batch phase durations of streaming queries. */
final class StreamListener extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[Map[String, Long]]
  def reset(): Unit = synchronized(progress.clear())
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      import scala.jdk.CollectionConverters._
      progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }
  def batches: Int = synchronized(progress.size)
  def totalMs(phase: String): Long = synchronized(progress.map(_.getOrElse(phase, 0L)).sum)
}
