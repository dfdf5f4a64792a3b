package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval: times are milliseconds since the tracer started. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, String]) {
  def durMs: Double = endMs - startMs
}

/** One Spark job as the listener saw it, with its completed stages' task
  * metrics summed. `span` is the harness span that was current on the
  * submitting thread (-1 if none); `batchId` the streaming micro-batch. */
final class JobRec(val id: Int, val span: Long, val batchId: Long,
    val callSite: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var stages, tasks = 0
  var taskMs, inBytes, inRecords, shuffleBytes, spillBytes, outBytes = 0L
  def durMs: Double = endMs - startMs
  def isCheckpoint: Boolean = Trace.CheckpointSite.findFirstIn(callSite).isDefined
  def isSchema: Boolean = Trace.SchemaSite.findFirstIn(callSite).isDefined
}

object Trace {
  /** Local property that carries the current span id to every job the
    * thread submits (Spark copies local properties into AQE's stage
    * futures and into threads started from the tagged thread). */
  val SpanKey = "perfbench.span"
  val CheckpointSite = """(?:localCheckpoint|checkpoint) at \w+\.scala""".r
  val SchemaSite = """parquet at Tables\.scala""".r
}

/** Spans kept in memory and written once at exit. With `enabled` false
  * the harness still times each call (end-to-end numbers need the
  * durations) but records nothing. Only while the tracer is attached is
  * the job listener registered and each span's id set as the thread's
  * local property. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  val jobs = new JobListener(t0Epoch)
  @volatile private var on = false

  def attach(): Unit = if (!on) { sc.addSparkListener(jobs); on = true }
  def detach(): Unit = if (on) { settle(); sc.removeSparkListener(jobs); on = false }

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - t0Epoch).toDouble

  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }
  /** Recorded spans plus one span per job the listener saw, below the
    * span `parentOf` assigns it (by default the span it was tagged with). */
  def allSpans(parentOf: JobRec => Long = _.span): Seq[Span] =
    spans.synchronized(spans.toList) ++
    jobs.all.map(j => Span(-j.id - 1L, parentOf(j), "job", j.startMs, j.endMs,
      Map("job" -> j.id.toString, "callSite" -> j.callSite) ++
        (if (j.batchId >= 0) Map("batchId" -> j.batchId.toString) else Map())))

  /** Run `body` as span `name` below `parent`; returns its result and its
    * duration in seconds. The previous span id is restored afterwards. */
  def span[T](name: String, parent: Long, attrs: Map[String, String] = Map())(
      body: Long => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Trace.SpanKey)
    val tagged = on
    if (tagged) sc.setLocalProperty(Trace.SpanKey, id.toString)
    val start = nowMs
    try {
      val r = body(id)
      val end = nowMs
      record(Span(id, parent, name, start, end, attrs))
      (r, (end - start) / 1e3)
    } finally if (tagged) sc.setLocalProperty(Trace.SpanKey, prev)
  }

  /** Wait until the listener has seen the end of every job it saw start:
    * listener events are delivered asynchronously. */
  def settle(): Unit = if (on) {
    val deadline = System.nanoTime() + 10_000_000_000L
    Thread.sleep(200)
    while (jobs.open > 0 && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = Double.NegativeInfinity
      ivs.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

/** Job/stage census keyed by job id; stages are attributed to the job
  * that submitted them. */
final class JobListener(t0Epoch: Long) extends SparkListener {
  private val byJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  def all: Seq[JobRec] = byJob.values().asScala.toSeq.sortBy(_.id)
  def open: Int = byJob.values().asScala.count(_.endMs.isNaN)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId,
      prop(Trace.SpanKey).map(_.toLong).getOrElse(-1L),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("callSite.short").orElse(e.stageInfos.lastOption.map(_.name)).getOrElse(""),
      (e.time - t0Epoch).toDouble)
    byJob.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      val m = e.stageInfo.taskMetrics
      j.synchronized {
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.endMs = (e.time - t0Epoch).toDouble)
}

/** Micro-batch progress as the stream reports it, keyed by batch id.
  * Events arrive asynchronously; [[terminated]] opens once the stream's
  * termination, posted after its last progress, has been delivered. */
final class TickListener extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[Long, org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val terminated = new java.util.concurrent.CountDownLatch(1)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.countDown()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress)
}
