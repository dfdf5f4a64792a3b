package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.CdcPipeline

/** Open-loop CDC workload: `CdcPipeline.start` in diff mode on a
  * `customer` table. After untimed warm-up drops, a burst of drops lands
  * at once, then one generator thread lands pre-staged snapshot drops on
  * a fixed schedule, then a second burst lands. */
object CdcStream {
  /** Trigger interval of the monitoring stream: short, so a drop waits
    * for the next poll by at most this long. */
  val TriggerMs = 100L

  final case class Plan(warm: Int, scheduled: Int, burst: Int, rate: Double,
      changed: IndexedSeq[Boolean]) {
    def total: Int = warm + 2 * burst + scheduled
    /** First drop of the scheduled phase: it follows the first burst. */
    def firstScheduled: Int = warm + burst
  }

  def run(spark: SparkSession, tr: Tracer, res: Result, work: String,
      plan: Plan, trace: Boolean, sessionStartNs: Long): Unit = {
    val in = s"$work/input"
    def staged(k: Int) = Paths.get(in, f".drop_$k%05d.parquet")
    def landed(k: Int) = Paths.get(in, f"drop_$k%05d.parquet")
    def land(k: Int): Unit = Files.move(staged(k), landed(k), StandardCopyOption.ATOMIC_MOVE)
    val cfg = CdcPipeline.Config(inputDir = in, outputDir = s"$work/out",
      metadataDir = s"$work/meta", checkpointDir = s"$work/checkpoint",
      tableName = "customer", triggerMs = TriggerMs, mode = "diff",
      keyCols = Seq("c_custkey"))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val ticks = new TickListener
    if (trace) { tr.attach(); spark.streams.addListener(ticks) }

    // the nanoTime clock paces the generator; progress reports wall-clock
    // epoch milliseconds, so due and landing times are kept in both
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def epochOf(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
    val dueMs = new Array[Double](plan.scheduled)
    val landedMs = new Array[Double](plan.scheduled)
    // (landing time, last drop) of each burst
    val bursts = scala.collection.mutable.ArrayBuffer[(Double, Int)]()
    var setupS = 0.0
    var runId = 0L
    var query: org.apache.spark.sql.streaming.StreamingQuery = null

    tr.span("run", 0, Map("workload" -> "cdc_diff_stream")) { id =>
      runId = id
      // the stream thread starts from this one, so it inherits the run's
      // span tag
      land(0) // the bootstrap drop gives the stream its schema
      query = CdcPipeline.start(spark, cfg, spark.read.parquet(landed(0).toString).schema)
      query.processAllAvailable()
      (1 until plan.warm).foreach { k => land(k); query.processAllAvailable() }
      setupS = (System.nanoTime() - sessionStartNs) / 1e9
      // Two bursts, one on each side of the scheduled phase, so the drain
      // time is sampled twice, about half a run apart.
      def burst(first: Int): Unit = {
        bursts += ((epochOf(System.nanoTime()), first + plan.burst - 1))
        (first until first + plan.burst).foreach(land)
        query.processAllAvailable()
      }
      burst(plan.warm)
      val periodNs = (1e9 / plan.rate).toLong
      val start = System.nanoTime()
      val generator = new Thread(() =>
        (0 until plan.scheduled).foreach { j =>
          val due = start + j * periodNs
          var wait = due - System.nanoTime()
          while (wait > 0) {
            Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
            wait = due - System.nanoTime()
          }
          land(plan.firstScheduled + j)
          dueMs(j) = epochOf(due)
          landedMs(j) = epochOf(System.nanoTime())
        }, "drop-generator")
      generator.start()
      generator.join()
      query.processAllAvailable()
      burst(plan.firstScheduled + plan.scheduled)
    }
    // metrics come from the stream's own progress in both modes; the
    // listener only records the tick spans of a traced run
    val progress: Map[Long, StreamingQueryProgress] =
      query.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap
    query.stop()
    if (trace) ticks.terminated.await(10, java.util.concurrent.TimeUnit.SECONDS)
    tr.settle()
    val jobs = tr.jobs.all // the stream's and the run's jobs, before the checks below

    def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli.toDouble
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def commitMs(k: Int) = progress.get(k.toLong).map(p => startMs(p) + dur(p, "triggerExecution"))

    res.attempted += plan.total
    val missing = (0 until plan.total).filterNot(k => progress.contains(k.toLong))
    if (missing.nonEmpty) res.fail(s"no committed micro-batch for drops ${missing.mkString(",")}")
    if (progress.keys.exists(_ >= plan.total)) res.fail("more micro-batches than drops")

    // The ledger must hold the checksum of the last drop: read both
    // through the public API, outside the timed region.
    val last = spark.read.parquet(landed(plan.total - 1).toString)
    def timed[T](name: String)(body: => T): (T, Double) = {
      val (r, s) = tr.span(name, 0)(_ => body)
      (r, s * 1e3)
    }
    val ledger = (0 until 3).map(_ =>
      timed("lastChecksum")(CdcPipeline.lastChecksum(spark, cfg.metadataDir, "customer")))
    val digest = (0 until 3).map(_ => timed("batchChecksum")(CdcPipeline.batchChecksum(last)))
    if (!ledger.map(_._1).forall(_.contains(digest.head._1)))
      res.fail(s"ledger checksum ${ledger.head._1} != checksum of the last drop ${digest.head._1}")

    val sched = (0 until plan.scheduled)
    val lags = sched.flatMap(j => commitMs(plan.firstScheduled + j).map(_ - dueMs(j)))
    val drains = bursts.toSeq.flatMap { case (at, last) => commitMs(last).map(c => (c - at) / 1e3) }
    res.endToEnd("setup_s", setupS, "s")
    res.endToEnd("latency_ms", Stats.median(lags), "ms")
    res.endToEnd("pass_s", Stats.median(drains), "s")
    res.info("output_dir") = cfg.outputDir
    res.info("lags_ms") = lags.map(math.round).asJava
    res.info("drains_ms") = drains.map(d => math.round(d * 1e3)).asJava
    res.info("ticks_ms") = (0 until plan.total).flatMap(k => progress.get(k.toLong))
      .map(p => math.round(dur(p, "triggerExecution"))).asJava
    if (!trace) return

    val measured = (plan.warm until plan.total).flatMap(k => progress.get(k.toLong))
    def p50(f: StreamingQueryProgress => Double) = Stats.median(measured.map(f))
    res.layer("streaming.tick_ms_p50", p50(dur(_, "triggerExecution")), "ms")
    res.layer("streaming.add_batch_ms_p50", p50(dur(_, "addBatch")), "ms")
    res.layer("streaming.offset_ms_p50", p50(p => dur(p, "latestOffset") + dur(p, "walCommit")), "ms")
    res.layer("streaming.commit_ms_p50", p50(dur(_, "commitOffsets")), "ms")
    val byBatch = jobs.filter(_.batchId >= plan.warm).groupBy(_.batchId.toInt)
    def perTick(changed: Boolean)(f: Seq[JobRec] => Double): Double = {
      val ks = (plan.warm until plan.total).filter(plan.changed(_) == changed)
      if (ks.isEmpty) 0.0 else ks.map(k => f(byBatch.getOrElse(k, Nil))).sum / ks.size
    }
    res.layer("streaming.jobs_per_changed_tick", perTick(true)(_.size.toDouble), "count")
    res.layer("streaming.jobs_per_unchanged_tick", perTick(false)(_.size.toDouble), "count")
    val allTicks = (plan.warm until plan.total).map(k => byBatch.getOrElse(k, Nil))
    res.layer("streaming.output_bytes_per_tick",
      allTicks.map(_.map(_.outBytes).sum.toDouble).sum / allTicks.size, "bytes")
    res.layer("streaming.input_bytes_per_tick",
      allTicks.map(_.map(_.inBytes).sum.toDouble).sum / allTicks.size, "bytes")
    res.layer("streaming.ledger_read_ms", Stats.median(ledger.map(_._2)), "ms")
    res.layer("streaming.batch_checksum_ms", Stats.median(digest.map(_._2)), "ms")
    // drops landed but not yet committed, seen at each scheduled landing
    val commits = sched.flatMap(j => commitMs(plan.firstScheduled + j))
    res.layer("streaming.backlog_max", sched.map(j =>
      (0 to j).count(i => !commits.lift(i).exists(_ <= landedMs(j)))).max.toDouble, "count")
    res.layer("streaming.generator_late_ms_max",
      sched.map(j => landedMs(j) - dueMs(j)).max, "ms")
    res.layer("trace.untagged_jobs", jobs.count(_.span < 0).toDouble, "count")

    // spans: run -> tick -> job; a job's tick is its micro-batch
    val tickId = (b: Long) => 1000000000L + b
    ticks.progress.values.asScala.foreach { p =>
      val s = tr.epochToMs(Instant.parse(p.timestamp).toEpochMilli)
      tr.record(Span(tickId(p.batchId), runId, "tick", s, s + dur(p, "triggerExecution"),
        Map("batchId" -> p.batchId.toString)))
    }
    tr.detach()
    spark.streams.removeListener(ticks)
    val spans = tr.allSpans(j => if (j.batchId >= 0) tickId(j.batchId) else j.span)
    Main.writeSpans(tr, spans, tr.selfTimes(spans))
  }
}
