package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Spans of one run share `runId`; each names the
  * span that caused it. With tracing off only ids are handed out, so the
  * harness code is the same in both modes. */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, kind: String, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) spans.add(Span(id, parent, kind, name, startMs, endMs, attrs))

  /** Time `body` as a span; the body receives its own span id. */
  def span[T](kind: String, name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    val start = nowMs
    try body(id) finally add(id, parent, kind, name, start, nowMs)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s =>
      w.write(Json(Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs)))
      w.write('\n')
    } finally w.close()
  }
}

/** Local properties the job threads set, read back from Spark job events. */
object Props {
  val Span = "perfbench.span"
  val Entry = "perfbench.entry"
}

/** Micro-batch progress of every streaming query (needed with tracing off
  * too: `microbatch_p*` are end-to-end metrics). A SparkListener rather
  * than a StreamingQueryListener: the latter sees only its own session's
  * queries, and entries start streams on sessions of their own. */
final class StreamProbe(tracer: Tracer, currentJob: () => Long) extends SparkListener {
  final case class Batch(triggerMs: Double, durations: Map[String, Long], inputRows: Long,
      stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)
  private val started = mutable.Map.empty[java.util.UUID, (Long, Double, Long)] // runId → span, start, parent
  private val firstBatch = mutable.Map.empty[java.util.UUID, Double]
  val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var queries = 0
  @volatile var startupMs = 0.0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: StreamingQueryListener.QueryStartedEvent    => onQueryStarted(s)
    case p: StreamingQueryListener.QueryProgressEvent   => onQueryProgress(p)
    case t: StreamingQueryListener.QueryTerminatedEvent => onQueryTerminated(t)
    case _                                              => ()
  }

  private def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    queries += 1
    val t = java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble
    started(e.runId) = (tracer.nextId(), t, currentJob())
  }

  private def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val b = Batch(d.getOrElse("triggerExecution", 0L).toDouble, d, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum)
    batches.add(b)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      started.get(p.runId).foreach { case (qSpan, qStart, _) =>
        if (!firstBatch.contains(p.runId)) {
          firstBatch(p.runId) = start
          startupMs += start - qStart
        }
        tracer.add(tracer.nextId(), qSpan, "micro_batch", s"${p.name}#${p.batchId}", start,
          start + b.triggerMs, Map("input_rows" -> p.numInputRows))
      }
    }
  }

  private def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    started.remove(e.runId).foreach { case (id, start, parent) =>
      tracer.add(id, parent, "stream_query", e.id.toString, start, tracer.nowMs)
    }
  }
}

/** Spark scheduler counters and job/stage spans (traced runs only). */
final class ExecProbe(tracer: Tracer) extends SparkListener {
  private val jobSpans = mutable.Map.empty[Int, (Long, Long, Double, String)] // span, parent, start, entry
  private val stageJob = mutable.Map.empty[Int, Long]
  val execToSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val entryJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  var sparkJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    sparkJobs += 1
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Props.Span))).map(_.toLong).getOrElse(0L)
    val entry = props.flatMap(p => Option(p.getProperty(Props.Entry))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execToSpan.putIfAbsent(x.toLong, parent))
    if (entry.nonEmpty) entryJobs.computeIfAbsent(entry, _ => new AtomicLong()).incrementAndGet()
    val id = tracer.nextId()
    jobSpans(e.jobId) = (id, parent, e.time.toDouble, entry)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (id, parent, start, entry) =>
      tracer.add(id, parent, "spark_job", s"job ${e.jobId}", start, e.time.toDouble,
        Map("entry" -> entry))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.add(tracer.nextId(), stageJob.getOrElse(i.stageId, 0L), "stage",
        s"stage ${i.stageId}", s.toDouble, c.toDouble, Map("tasks" -> i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Catalyst phase times and the plan census of every executed query
  * (traced runs only). */
final class PlanProbe(tracer: Tracer, exec: ExecProbe, currentJob: () => Long)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  var planNodes, maxExprNodes, hofLambdas, planTextBytes = 0L
  var exchanges, smj, bhj, windows, generates, cachedScans, graftExecs = 0L

  def addPhases(qe: QueryExecution, parent: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phaseMs.contains(phase)) {
        phaseMs(phase) += s.durationMs
        tracer.add(tracer.nextId(), parent, "catalyst", phase, s.startTimeMs.toDouble,
          s.endTimeMs.toDouble)
      }
    }
  }

  private def exprNodes(e: Expression): Long = 1L + e.children.map(exprNodes).sum

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val parent = Option(exec.execToSpan.get(qe.id)).map(_.longValue).getOrElse(currentJob())
    addPhases(qe, parent)
    val plan: SparkPlan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val text = plan.toString.length
    synchronized {
      planNodes += nodes.size
      planTextBytes += text
      nodes.foreach { n =>
        n.expressions.foreach { e =>
          maxExprNodes = math.max(maxExprNodes, exprNodes(e))
          hofLambdas += e.collect { case l: LambdaFunction => l }.size
        }
        n match {
          case _: ShuffleExchangeLike    => exchanges += 1
          case _: SortMergeJoinExec      => smj += 1
          case _: BroadcastHashJoinExec  => bhj += 1
          case _: WindowExec             => windows += 1
          case _: GenerateExec           => generates += 1
          case _: InMemoryTableScanExec  => cachedScans += 1
          case _                         => ()
        }
        if (n.getClass.getName.startsWith("graft.")) graftExecs += 1
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe, Option(exec.execToSpan.get(qe.id)).map(_.longValue).getOrElse(currentJob()))
}

/** Janino compile counters: Spark's static codegen histograms, read as
  * deltas. Compile and source totals are count × reservoir mean (the
  * histograms keep a sample, not a sum). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(compiles: Long, meanCompileMs: Double, sourceCount: Long,
      meanSourceBytes: Double, maxMethodBytes: Long)
  def snap(): Snap = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val m = CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
    Snap(t.getCount, t.getSnapshot.getMean, s.getCount, s.getSnapshot.getMean, m.getSnapshot.getMax)
  }
}

/** Storage memory held by cached blocks, sampled (traced runs only). */
final class CacheSampler(spark: SparkSession) extends Thread("perfbench-cache-sampler") {
  setDaemon(true)
  @volatile var peakBytes = 0L
  @volatile var running = true
  override def run(): Unit = while (running) {
    try {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      if (used > peakBytes) peakBytes = used
    } catch { case _: Throwable => () }
    Thread.sleep(100)
  }
}
