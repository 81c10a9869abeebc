package storebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Embeddings.EmbeddingProvider

/** Instants in nanoseconds since the epoch, so spans the benchmark times
  * with `System.nanoTime` line up with Spark's event times (epoch ms). */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** A timed interval of one kind of work, [start, end) in Clock nanos. */
final case class Span(kind: String, start: Long, end: Long) {
  def nanos: Long = end - start
  def contains(t: Long): Boolean = t >= start && t < end
}

object Spans {
  val Other = "other"

  /** Split `op` among its children: each instant of the op goes to the
    * first kind in `priority` whose span covers it, or to [[Other]].
    * Children are clipped to the op, so the parts sum to `op.nanos`
    * exactly, however the children overlap. */
  def selfTimes(op: Span, children: Seq[Span],
      priority: Seq[String]): Map[String, Long] = {
    val clipped = children
      .map(c => c.copy(start = math.max(c.start, op.start), end = math.min(c.end, op.end)))
      .filter(c => c.end > c.start)
    val cuts = (clipped.flatMap(c => Seq(c.start, c.end)) ++ Seq(op.start, op.end))
      .distinct.sorted
    val out = scala.collection.mutable.Map[String, Long]()
    (priority :+ Other).foreach(k => out(k) = 0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val covering = clipped.filter(c => c.start <= a && c.end >= b).map(_.kind).toSet
      val kind = priority.find(covering.contains).getOrElse(Other)
      out(kind) += b - a
    }
    out.toMap
  }
}

/** Maps a stage's call-site name ("collect at KbStore.scala:1073") to
  * the program module it was issued from. */
object Sites {
  val Modules: Seq[String] = Seq("KbStore", "VectorIndex", "SimilaritySearch",
    "TextRetrieval", "StreamingIngest")
  val Other = "other"
  private val At = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  def module(callSite: String): String =
    At.findFirstMatchIn(Option(callSite).getOrElse("")).map(_.group(1))
      .filter(Modules.contains).getOrElse(Other)
}

/** Provider calls, recorded process-wide: in local mode the executor
  * tasks that embed inside `mapPartitions` run in this JVM, and the
  * provider they run is a deserialized copy, so a static log is the one
  * place both the client thread and the tasks can reach. */
object EmbedLog {
  final case class Call(span: Span, texts: Int)
  @volatile var on: Boolean = false
  val calls = new ConcurrentLinkedQueue[Call]()
}

/** Wraps the benchmark's provider and times every `embed` call while
  * tracing is on; otherwise a pass-through. */
final case class TracedProvider(inner: EmbeddingProvider) extends EmbeddingProvider {
  def name: String = inner.name
  override def params: Map[String, String] = inner.params
  def dim: Int = inner.dim
  def embed(texts: Seq[String]): Seq[Array[Float]] =
    if (!EmbedLog.on) inner.embed(texts)
    else {
      val t0 = Clock.now()
      val out = inner.embed(texts)
      EmbedLog.calls.add(EmbedLog.Call(Span("embed", t0, Clock.now()), texts.size))
      out
    }
}

/** Everything the benchmark's listeners saw while registered. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(OpProperty)))
      .orElse(props.flatMap(p => Option(p.getProperty(BatchProperty)))
        .map(_ => StreamTag))
      .getOrElse(Untagged)
    open.put(e.jobId, (tag, e.time))
    e.stageIds.foreach(s => stageOwner.put(s, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (tag, t0) =>
      jobs.add(Job(tag, Span("job", Clock.fromMillis(t0), Clock.fromMillis(e.time))))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(stageOwner.getOrDefault(i.stageId, Untagged),
        Sites.module(i.name), Span("stage", Clock.fromMillis(s), Clock.fromMillis(c))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val sh = m.shuffleReadMetrics
      tasks.add(Task(stageOwner.getOrDefault(e.stageId, Untagged),
        Clock.fromMillis(e.taskInfo.launchTime),
        cpuNs = m.executorCpuTime, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        inputBytes = m.inputMetrics.bytesRead, recordsRead = m.inputMetrics.recordsRead,
        shuffleBytes = sh.remoteBytesRead + sh.localBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (_, p) =>
      plans.add(Span("plan", Clock.fromMillis(p.startTimeMs), Clock.fromMillis(p.endTimeMs)))
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (e.progress.numInputRows > 0) progress.add(Progress(e.progress.batchId, d))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every posted event, then stop listening. */
  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.StorebenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Recorder {
  /** The local property the benchmark sets on its client thread around
    * each operation: `<op>#<call>`. */
  val OpProperty = "storebench.op"
  /** Set by Structured Streaming on every micro-batch job. */
  val BatchProperty = "streaming.sql.batchId"
  val StreamTag = "stream"
  val Untagged = ""

  final case class Job(tag: String, span: Span)
  final case class Stage(tag: String, module: String, span: Span)
  final case class Task(tag: String, launch: Long, cpuNs: Long, runMs: Long,
      gcMs: Long, inputBytes: Long, recordsRead: Long, shuffleBytes: Long,
      spillBytes: Long)
  final case class Progress(batchId: Long, durationMs: Map[String, Long])
}
