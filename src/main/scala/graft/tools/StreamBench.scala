package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming throughput baseline (round-14 verdict #5): the north star
  * leads with "CDC via Structured Streaming", but BASELINE.md carried
  * zero streaming perf rows — every pipeline was parity-spec'd, none
  * was RATED. Two measurements, each a JSON line:
  *
  *  1. s_poll_pipeline END-TO-END: K pre-staged snapshot drops of the
  *     sf table (one file per drop, atomically moved in), processed
  *     drop→checksum→envelope→JSONL by CdcPipeline.start with
  *     maxFilesPerTrigger=1. rows/s = captured rows / (first-batch
  *     start → last-batch commit); per-batch p50/p99 come from each
  *     progress's triggerExecution duration (data batches only). The
  *     trigger is 50 ms so the measurement rates the PIPELINE, not the
  *     reference's 1 s poll floor (which would dominate by design).
  *
  *  2. s_stream_dedup admission gate: the same drops streamed through
  *     dropDuplicatesWithinWatermark on event_id (Stateful
  *     .dedupedStream) into a noop-equivalent memory count — the
  *     watermark-bounded keyed-state shuffle is the cost.
  *
  * Run: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StreamBench [K]
  */
object StreamBench {
  /** Modes: no args / `[K]` = the original CDC + dedup pair;
    * `stateful [K]` = rate the keyed-state pipelines
    * (s_stream_concurrency, s_stream_topk, s_session_window);
    * `fanout [K] [D]` = rate multi-table consistent ticks vs
    * query-per-table (round-15 ask #6, R22's Spark disposition);
    * `gates [K]` = rate the state-heavy ingest gates (round-16 ask #4). */
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("stateful") => statefulMain(args.drop(1))
    case Some("fanout") => fanoutMain(args.drop(1))
    case Some("gates") => gatesMain(args.drop(1))
    case Some("longrun") => longrunMain(args.drop(1))
    case _ => cdcMain(args)
  }

  /** `longrun [T]` (round-17 verdict #4): drive the triangle gate for
    * T ≥ 100 small ticks — the uptime regime where the pre-compaction
    * overlay grew without bound — and emit, beside the usual rating,
    * the per-tick p50 of the FIRST and LAST quartile of ticks. Flat
    * (q4 ≈ q1) means the fold policy holds tick latency constant as
    * admitted history accumulates; monotone growth is the regression
    * this mode exists to catch. Uses the gates deployment shape (tail
    * orders admitted as trade pairs) and the default compactEvery. */
  private def longrunMain(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ticks = if (args.nonEmpty) args(0).toInt else 120
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-longrun").toString
    val (triSplit, triHandle) = {
      val t0 = System.nanoTime()
      val r = graft.streaming.Stateful.triangleHandleOf(spark, sfDir)
      println(s"""{"metric":"model_build","kind":"tri-base","sec":${fmt((System.nanoTime() - t0) / 1e9)},"sf":"$sfDir"}""")
      r
    }
    val pairs = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") >= triSplit)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), "ok")
    val rows = stageSlices(spark, pairs, "ok", ticks, work, s"$work/pairs")
    val pairSchema = spark.read.parquet(s"$work/pairs/drop_0.parquet").schema
    val pairStream = spark.readStream.schema(pairSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/pairs")
      .select(col("c"), col("s"))
    val sink = (b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () }
    val lat = scala.collection.mutable.Map.empty[Long, Double]
    val t0 = System.nanoTime()
    val q = graft.streaming.Stateful.triangleStream(pairStream, triHandle)(sink)
    val deadline = t0 + 1800L * 1000 * 1000 * 1000
    def harvest(): Unit = q.recentProgress.filter(_.numInputRows > 0)
      .foreach(pr => lat(pr.batchId) =
        pr.durationMs.get("triggerExecution").toDouble)
    while ({ harvest(); lat.size < ticks } &&
      System.nanoTime() < deadline) Thread.sleep(100)
    require(lat.size == ticks, s"longrun timed out: ${lat.size}/$ticks ticks")
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    val byId = lat.toSeq.sortBy(_._1).map(_._2)
    val quart = math.max(1, ticks / 4)
    emit(s"""{"metric":"s_stream_triangles","engine":"foreachbatch-overlay-longrun","drops":$ticks,"rows_in":$rows,"wall_sec":${fmt(sec)},"rows_per_sec":${fmt(rows / sec)},"tick_ms_p50":${fmt(pct(byId, 0.5))},"tick_ms_p99":${fmt(pct(byId, 0.99))},"tick_ms_p50_q1":${fmt(pct(byId.take(quart), 0.5))},"tick_ms_p50_q4":${fmt(pct(byId.takeRight(quart), 0.5))},"compact_every":${triHandle.compactEvery},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Rate the three state-heavy ingest gates the round-16 verdict named
    * as spec'd-but-unrated (ask #4): s_stream_containment,
    * s_stream_novelty (frozen-artifact admission gates over arriving
    * document batches) and s_stream_triangles (overlay-state graph-impact
    * census over arriving trade pairs). Same drops protocol as the
    * stateful mode: K contiguous id slices, one file per drop,
    * maxFilesPerTrigger=1, count sink. The frozen artifacts
    * (containment-base, novelty-base, tri-base) are built BEFORE the
    * stream starts — their cost prints as its own model_build line, so
    * batch 0 rates the gate, not the artifact train (the same separation
    * Bench.scala's model_train itemization enforces). state_share reads
    * 0 here by construction: these gates hold state in driver-side
    * overlay frames / frozen artifacts, not in a state store — the
    * per-batch p50/p99 decomposition is the bottleneck signal. */
  private def gatesMain(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val drops = if (args.nonEmpty) args(0).toInt else 10
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-gatesbench").toString

    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docRows = stageSlices(spark, docs, "doc_id", drops, work, s"$work/docs")
    val docSchema = spark.read.parquet(s"$work/docs/drop_0.parquet").schema
    def docStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/docs")

    def build[T](kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(s"""{"metric":"model_build","kind":"$kind","sec":${fmt((System.nanoTime() - t0) / 1e9)},"sf":"$sfDir"}""")
      r
    }
    // warm the PINNED gate views (round-18: what the streams now probe),
    // so their one-time materialization lands on these model_build lines
    // instead of inside the first tick's latency
    build("containment-base")(graft.ops.Dedup.containmentGateView(spark, sfDir))
    build("novelty-base")(graft.ops.Dedup.noveltySeenView(spark, sfDir))
    val (triSplit, triHandle) =
      build("tri-base")(graft.streaming.Stateful.triangleHandleOf(spark, sfDir))

    // the gate's documented deployment: base frozen at the 7/8 orderkey
    // split, the stream ADMITS the tail — so the drops are the tail's
    // order lines in arrival order, not a re-admission of the base
    val pairs = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") >= triSplit)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s")), "ok")
    val pairRows = stageSlices(spark, pairs, "ok", drops, work, s"$work/pairs")
    val pairSchema = spark.read.parquet(s"$work/pairs/drop_0.parquet").schema
    def pairStream = spark.readStream.schema(pairSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/pairs")
      .select(col("c"), col("s"))

    val sink = (b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () }
    rateQuery("s_stream_containment", "foreachbatch-artifact", drops, docRows,
      sfDir, cpus.toInt) {
      graft.streaming.Stateful.containmentStream(docStream, sfDir)(sink)
    }
    rateQuery("s_stream_novelty", "foreachbatch-artifact", drops, docRows,
      sfDir, cpus.toInt) {
      graft.streaming.Stateful.noveltyStream(docStream, sfDir)(sink)
    }
    rateQuery("s_stream_triangles", "foreachbatch-overlay", drops, pairRows,
      sfDir, cpus.toInt) {
      graft.streaming.Stateful.triangleStream(pairStream, triHandle)(sink)
    }
    spark.stop()
  }

  /** Round-16 ask #3: the streaming twin of bench_history.jsonl. Every
    * rating line is (1) printed, (2) appended (with a UTC `ts`) to
    * stream_history.jsonl — env GRAFT_STREAM_HISTORY overrides the path,
    * "off" disables — and (3) checked against history: the printed
    * `stream_check` line carries this run's rows_per_sec ratio vs the
    * MEDIAN of the last ≤3 prior entries sharing the same identity
    * (metric, engine, mode, tables, drops, sf). Median-of-3 rather than
    * single-last so one contaminated window can't skew every later
    * comparison, and a missing reference is LOGGED rather than silently
    * skipped (both per the round-16 advice on the batch anchor check).
    * Interpretation discipline mirrors the batch bench: host windows
    * swing 1.2–1.4× on byte-identical code, so a single ratio inside
    * that band is weather; two consecutive runs past it is a regression
    * (BASELINE.md "stream history" row). */
  private def emit(line: String): Unit = {
    println(line)
    val path = sys.env.getOrElse("GRAFT_STREAM_HISTORY", "stream_history.jsonl")
    if (path == "off") return
    def field(src: String, k: String): Option[String] =
      ("\"" + k + "\":\"?([^,\"}]+)\"?").r.findFirstMatchIn(src).map(_.group(1))
    val idKeys = Seq("metric", "engine", "mode", "tables", "drops", "sf")
    def ident(src: String) = idKeys.map(k => field(src, k))
    val metric = field(line, "metric").getOrElse("?")
    try {
      val me = ident(line)
      val p = Paths.get(path)
      val prior =
        if (Files.exists(p))
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            Files.lines(p).iterator()).asScala.toList
        else Nil
      val refs = prior.filter(ident(_) == me)
        .flatMap(field(_, "rows_per_sec")).flatMap(_.toDoubleOption)
        .takeRight(3)
      (refs, field(line, "rows_per_sec").flatMap(_.toDoubleOption)) match {
        case (rs, Some(cur)) if rs.nonEmpty =>
          val med = rs.sorted.apply(rs.size / 2)
          println(f"""{"stream_check":"$metric","rows_per_sec_ratio_vs_median":${cur / med}%.3f,"n_ref":${rs.size}}""")
        case _ =>
          println(s"""{"stream_check":"$metric","note":"no prior matching history entry — ratio check skipped"}""")
      }
      val stamped = line.dropRight(1) +
        s""","ts":"${java.time.Instant.now()}"}""" + "\n"
      Files.write(p, stamped.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case e: Exception =>
        println(s"""{"stream_check":"$metric","note":"history append failed: ${e.getClass.getSimpleName}"}""")
    }
  }

  private def cdcMain(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val drops = if (args.nonEmpty) args(0).toInt else 10
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-streambench").toString

    def fmt(v: Double): String =
      BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) -1.0
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

    // ---- stage K distinct customer drops (one part-file each) ----------
    val src = spark.read.parquet(s"$sfDir/customer.parquet")
    val nRows = src.count()
    val inDir = s"$work/in"; Files.createDirectories(Paths.get(inDir))
    (0 until drops).foreach { i =>
      val stage = s"$work/stage$i"
      // vary one column per drop so every drop's checksum CHANGES and
      // the capture path (not the no-change fast path) is what's rated
      src.withColumn("c_acctbal", col("c_acctbal") + i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$inDir/drop_$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    // ---- 1. s_poll_pipeline end-to-end ---------------------------------
    val cfg = graft.streaming.CdcPipeline.Config(
      inputDir = inDir, outputDir = s"$work/out",
      metadataDir = s"$work/meta", checkpointDir = s"$work/ckpt",
      tableName = "customer", triggerMs = 50L)
    // recentProgress is a bounded ring (default 100) — at a 50 ms trigger
    // the empty ticks would evict the data batches, so accumulate by
    // batchId in the poll loop instead of reading the ring once
    val prog = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    val t0 = System.nanoTime()
    val q = graft.streaming.CdcPipeline.start(spark, cfg, src.schema)
    val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
    def harvest(query: org.apache.spark.sql.streaming.StreamingQuery,
        into: scala.collection.mutable.Map[Long, (Long, Double)]): Unit =
      query.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
        into(pr.batchId) =
          (pr.numInputRows, pr.durationMs.get("triggerExecution").toDouble)
      }
    // exit on BATCH COUNT, not numInputRows: foreachBatch runs several
    // actions per batch (emptiness probe, checksum agg, envelope write),
    // and the file source's numInputRows counts each action's re-scan —
    // measured 2x inflation, which made a row-sum condition exit after
    // half the drops. One drop per batch is pinned by maxFilesPerTrigger.
    while ({ harvest(q, prog); prog.size < drops } &&
      System.nanoTime() < deadline) Thread.sleep(100)
    // the deadline must FAIL loudly, not fall through to stats over a
    // partial harvest (round-15 advice: lat.max on an empty seq throws
    // an unrelated error; a part-harvest prints rates as if complete)
    require(prog.size == drops,
      s"timed out: harvested ${prog.size}/$drops batches before the deadline")
    val sec = (System.nanoTime() - t0) / 1e9
    val lat = prog.values.map(_._2).toSeq
    q.stop()
    val captured = spark.read.json(s"$work/out").count()
    require(captured == nRows * drops,
      s"end-to-end loss: captured $captured of ${nRows * drops}")
    emit(s"""{"metric":"s_poll_pipeline","drops":$drops,"rows_per_drop":$nRows,"rows_captured":$captured,"wall_sec":${fmt(sec)},"rows_per_sec":${fmt(captured / sec)},"batch_ms_p50":${fmt(pct(lat, 0.5))},"batch_ms_p99":${fmt(pct(lat, 0.99))},"batch_ms_max":${fmt(lat.max)},"sf":"$sfDir"}""")

    // ---- 2. s_stream_dedup admission gate over the same drops ----------
    // events-shaped input: give each customer row an event_id/ts; every
    // drop repeats the same ids, so the gate admits drop 0 and rejects
    // the K-1 duplicate waves — the worst case for the keyed-state store
    val dedupIn = s"$work/dedup_in"; Files.createDirectories(Paths.get(dedupIn))
    (0 until drops).foreach { i =>
      val stage = s"$work/dstage$i"
      src.select(col("c_custkey").as("event_id"),
          lit(new java.sql.Timestamp(1700000000000L)).as("ts"),
          col("c_name").as("payload"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$dedupIn/drop_$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val dSchema = spark.read.parquet(s"$dedupIn/drop_0.parquet").schema
    val admitted = new java.util.concurrent.atomic.AtomicLong(0)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val t1 = System.nanoTime()
    val dq = graft.streaming.Stateful.dedupedStream(
        spark.readStream.schema(dSchema).option("maxFilesPerTrigger", 1)
          .parquet(dedupIn))
      .writeStream.option("checkpointLocation", s"$work/dckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        admitted.addAndGet(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    val dProg = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    val dDeadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
    while ({ harvest(dq, dProg); dProg.size < drops } &&
      System.nanoTime() < dDeadline) Thread.sleep(100)
    require(dProg.size == drops,
      s"timed out: harvested ${dProg.size}/$drops dedup batches before the deadline")
    val dSec = (System.nanoTime() - t1) / 1e9
    val dLat = dProg.values.map(_._2).toSeq
    dq.stop()
    seen.set(nRows * drops)
    require(admitted.get() == nRows,
      s"gate must admit exactly one wave: admitted ${admitted.get()} of $nRows")
    emit(s"""{"metric":"s_stream_dedup","drops":$drops,"rows_in":${seen.get()},"rows_admitted":${admitted.get()},"wall_sec":${fmt(dSec)},"rows_per_sec":${fmt(seen.get() / dSec)},"batch_ms_p50":${fmt(pct(dLat, 0.5))},"batch_ms_p99":${fmt(pct(dLat, 0.99))},"batch_ms_max":${fmt(dLat.max)},"sf":"$sfDir"}""")
    spark.stop()
  }

  private def fmt(v: Double): String =
    BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  /** Slice `df` into `k` single-file drops by contiguous ranges of
    * `idCol` (the stream-arrival order) under `dir`, atomically moved in
    * so the file source sees whole drops. Returns total staged rows. */
  private def stageSlices(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      idCol: String, k: Int, work: String, dir: String): Long = {
    Files.createDirectories(Paths.get(dir))
    val r = df.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = hi - lo + 1
    var total = 0L
    (0 until k).foreach { i =>
      val a = lo + span * i / k
      val b = if (i == k - 1) hi + 1 else lo + span * (i + 1) / k
      val stage = s"$work/stage$i"
      val slice = df.filter(col(idCol) >= a && col(idCol) < b)
      total += slice.count()
      slice.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$dir/drop_$i.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    total
  }

  /** Poll a started query until `drops` data batches commit (loud fail
    * on the 600 s deadline), then emit one JSON rating line carrying
    * rows/s, per-batch p50/p99, and the STATE-STORE share of each batch.
    * The store metrics (commitTimeMs + allUpdatesTimeMs +
    * allRemovalsTimeMs) are summed ACROSS TASKS by Spark, so the raw
    * sum routinely exceeds the batch's wall duration; `state_share`
    * therefore normalizes by the state-partition count (`parts`):
    * share = Σ state-task-ms / (Σ trigger-ms × parts) — the fraction of
    * each parallel slot's batch time spent in the store. High share →
    * the store is the bottleneck; low share → shuffle/compute is. */
  private def rateQuery(metric: String, engine: String, drops: Int,
      rowsIn: Long, sfDir: String, parts: Int)
      (start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prog = scala.collection.mutable.Map.empty[Long, (Double, Double)]
    val t0 = System.nanoTime()
    val q = start
    val deadline = t0 + 600L * 1000 * 1000 * 1000
    def harvest(): Unit = q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
      val so = pr.stateOperators
      prog(pr.batchId) = (
        pr.durationMs.get("triggerExecution").toDouble,
        so.map(s => s.commitTimeMs + s.allUpdatesTimeMs + s.allRemovalsTimeMs)
          .sum.toDouble)
    }
    while ({ harvest(); prog.size < drops } &&
      System.nanoTime() < deadline) Thread.sleep(100)
    require(prog.size == drops,
      s"$metric/$engine timed out: ${prog.size}/$drops batches")
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    val trig = prog.values.map(_._1).toSeq
    val st = prog.values.map(_._2).toSeq
    val share = if (trig.sum > 0) st.sum / (trig.sum * parts) else -1.0
    emit(s"""{"metric":"$metric","engine":"$engine","drops":$drops,"rows_in":$rowsIn,"wall_sec":${fmt(sec)},"rows_per_sec":${fmt(rowsIn / sec)},"batch_ms_p50":${fmt(pct(trig, 0.5))},"batch_ms_p99":${fmt(pct(trig, 0.99))},"state_task_ms_p50":${fmt(pct(st, 0.5))},"state_share":${BigDecimal(share).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"sf":"$sfDir"}""")
  }

  /** Rate the keyed-state pipelines on the SAME drops protocol as
    * cdcMain: K contiguous event-id slices of the sf events table (the
    * stream in arrival order) and K doc-id slices of the documents token
    * stream, one file per drop, maxFilesPerTrigger=1, 50 ms trigger,
    * foreachBatch count sink, default HDFS-backed state store — the
    * state_share column separates store cost from shuffle/compute.
    * changeSignals is deliberately NOT rated: its input is one digest
    * row per table per tick — rating it measures the harness, not the
    * engine. */
  private def statefulMain(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val drops = if (args.nonEmpty) args(0).toInt else 10
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft-statefulbench").toString

    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val evRows = stageSlices(spark, ev, "event_id", drops, work, s"$work/ev")
    val evSchema = spark.read.parquet(s"$work/ev/drop_0.parquet").schema
    def evStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/ev")

    val toks = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tokRows = stageSlices(spark, toks, "doc_id", drops, work, s"$work/tok")
    val tokSchema = spark.read.parquet(s"$work/tok/drop_0.parquet").schema
    def tokStream = spark.readStream.schema(tokSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/tok")
      .select(col("token")).as[String]

    def sinkCount(ds: org.apache.spark.sql.DataFrame, ckpt: String) =
      ds.writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/$ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))

    rateQuery("s_stream_concurrency", "fmgws-hdfs", drops, evRows, sfDir, cpus.toInt) {
      sinkCount(graft.streaming.Stateful.concurrencyEvents(evStream).toDF(),
        "c1").start()
    }
    rateQuery("s_stream_topk", "fmgws-hdfs", drops, tokRows, sfDir, cpus.toInt) {
      sinkCount(graft.streaming.Stateful.runningTokenCounts(tokStream).toDF(),
        "t1").start()
    }
    rateQuery("s_session_window", "native-agg-hdfs", drops, evRows, sfDir, cpus.toInt) {
      sinkCount(graft.streaming.Stateful.sessionCounts(
          evStream.select(col("user_id"), col("ts"))),
        "s1").start()
    }
    spark.stop()
  }

  /** Rate R22's multi-table fan-out (round-15 ask #6): K table configs
    * driven through ONE consistent tick stream (pollTickAll under
    * startConsistent — the reference's one-copy-per-tick semantics) vs
    * K INDEPENDENT per-table streaming queries (startAll), vs the K=1
    * baseline. Protocol: every table gets the same sf customer data (so
    * fan-out cost is isolated from table-size variance), D generations
    * are dropped live — each next generation lands only after the
    * previous one's captures are visible in every output — and the line
    * reports captured rows/s plus the tick/batch duration spread. */
  private def fanoutMain(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = if (args.length > 0) args(0).toInt else 6
    val gens = if (args.length > 1) args(1).toInt else 5
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val src = spark.read.parquet(s"$sfDir/customer.parquet")
    val nRows = src.count()

    def runProtocol(label: String, nTables: Int,
        mkQueries: (String, Seq[graft.streaming.CdcPipeline.Config])
          => Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit = {
      val work = Files.createTempDirectory(s"graft-fanout-$label").toString
      val cfgs = (0 until nTables).map { t =>
        graft.streaming.CdcPipeline.Config(
          inputDir = s"$work/in$t", outputDir = s"$work/out$t",
          metadataDir = s"$work/meta$t", checkpointDir = s"$work/ckpt$t",
          tableName = s"t$t", triggerMs = 50L)
      }
      cfgs.foreach(c => Files.createDirectories(Paths.get(c.inputDir)))
      // pre-build every generation's file once; drops are atomic moves
      val genFiles = (0 until gens).map { g =>
        val stage = s"$work/gen$g"
        src.withColumn("c_acctbal", col("c_acctbal") + g)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
      }
      val queries = mkQueries(work, cfgs)
      def captured(t: Int): Long = {
        val out = Paths.get(cfgs(t).outputDir)
        if (!Files.exists(out)) 0L
        else spark.read.json(cfgs(t).outputDir).count()
      }
      val t0 = System.nanoTime()
      (0 until gens).foreach { g =>
        cfgs.zipWithIndex.foreach { case (c, t) =>
          Files.copy(Paths.get(genFiles(g)),
            Paths.get(s"${c.inputDir}/gen_$g.parquet"))
        }
        val want = nRows * (g + 1)
        val dl = System.nanoTime() + 600L * 1000 * 1000 * 1000
        while ((0 until nTables).exists(t =>
            (try captured(t) catch { case _: Throwable => 0L }) < want) &&
          System.nanoTime() < dl) Thread.sleep(100)
        require((0 until nTables).forall(t => captured(t) >= want),
          s"$label gen $g: capture timed out")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val lats = queries.flatMap(_.recentProgress.toSeq)
        .map(_.durationMs.get("triggerExecution").toDouble)
      queries.foreach(_.stop())
      val total = nRows * gens * nTables
      emit(s"""{"metric":"cdc_fanout","mode":"$label","tables":$nTables,"gens":$gens,"rows_captured":$total,"wall_sec":${fmt(sec)},"rows_per_sec":${fmt(total / sec)},"tick_ms_p50":${fmt(pct(lats, 0.5))},"tick_ms_p99":${fmt(pct(lats, 0.99))},"tick_ms_max":${fmt(if (lats.isEmpty) -1.0 else lats.max)},"sf":"$sfDir"}""")
    }

    // K=1 baseline, then consistent ticks over K, then query-per-table
    runProtocol("single", 1, (w, cfgs) => Seq(
      graft.streaming.CdcPipeline.startConsistent(spark, cfgs, s"$w/cons-ckpt",
        triggerMs = 50L)))
    runProtocol("consistent", k, (w, cfgs) => Seq(
      graft.streaming.CdcPipeline.startConsistent(spark, cfgs, s"$w/cons-ckpt",
        triggerMs = 50L)))
    runProtocol("per-table", k, (_, cfgs) =>
      graft.streaming.CdcPipeline.startAll(spark,
        cfgs.map(c => (c, src.schema))))
    spark.stop()
  }
}
