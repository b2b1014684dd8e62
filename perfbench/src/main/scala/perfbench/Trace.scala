package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a query phase, a domain call or a write. Spans of
  * one operation share `op`; `parent` is the span that caused this one. */
final case class Span(id: Int, parent: Int, op: String, name: String,
    startMs: Long, endMs: Long, ns: Long)

/** Summed task metrics of one Spark job. */
final class TaskSums {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Streaming micro-batch progress. */
final case class Batch(startMs: Long, inputRows: Long, ms: Long, stateRows: Long)

/** A write or action seen by the session's execution listener. */
final case class Exec(funcName: String, target: String, endMs: Long, ns: Long)

/** The traced run's recorder: spans kept in memory, plus Spark listeners
  * registered by the benchmark itself. Listener state is read only after
  * [[drain]], which is always called outside timed intervals. */
final class Recorder(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)] // (job id, submit ms)
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val jobTasks = new ConcurrentHashMap[Int, TaskSums]
  val batches = new ConcurrentLinkedQueue[Batch]
  val execs = new ConcurrentLinkedQueue[Exec]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStarts.add((e.jobId, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = jobTasks.computeIfAbsent(stageJob.getOrDefault(e.stageId, -1), _ => new TaskSums)
        t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime; t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val writes = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val target = qe.logical.collectFirst {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName
      }.getOrElse("")
      execs.add(Exec(funcName, target, System.currentTimeMillis(), durationNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.stateOperators.map(_.numRowsTotal).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(writes)
    spark.streams.addListener(streams)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(writes)
    spark.streams.removeListener(streams)
    attached = false
  }
  def drain(): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  /** Times `body` as a top-level span. */
  def span(op: String, name: String)(body: => Unit): Span = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    body
    record(Span(newId(), 0, op, name, ms, System.currentTimeMillis(), System.nanoTime() - t0))
  }
  def record(s: Span): Span = { spans.add(s); s }
  def newId(): Int = nextId.getAndIncrement()
  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Jobs submitted in [from, to] ms, and their summed task metrics. */
  def jobsIn(from: Long, to: Long): Seq[Int] =
    jobStarts.asScala.collect { case (j, t) if t >= from && t <= to => j }.toSeq
  def tasksOf(jobIds: Seq[Int]): TaskSums = {
    val s = new TaskSums
    jobIds.foreach(j => Option(jobTasks.get(j)).foreach(s.add))
    s
  }

  /** The `spark.*` layer: task metrics of `jobIds`, per pass over `passes`. */
  def sparkTotals(jobIds: Seq[Int], passes: Double): Map[String, Double] = {
    val t = tasksOf(jobIds)
    Map("spark.tasks" -> t.tasks / passes, "spark.task_cpu_ms" -> t.cpuNs / 1e6 / passes,
      "spark.gc_ms" -> t.gcMs / passes, "spark.shuffle_mb" -> t.shuffleBytes / 1048576.0 / passes,
      "spark.spill_mb" -> t.spillBytes / 1048576.0 / passes)
  }
}

/** Janino compile time and count, read from Spark's process-wide counters. */
object Codegen {
  def ms: Double = CodeGenerator.compileTime / 1e6
  def count: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
