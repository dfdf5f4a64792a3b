package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{ModelCache, Q}
import graft.ops._

/** The closed-loop batch workload: one client runs the mix's queries one
  * after another, pass after pass, each to the `noop` sink. */
object Batch {
  /** Declaring module of each query a mix draws from. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Cdc" -> Cdc.all, "Graph" -> Graph.all,
    "Dedup" -> Dedup.all, "TextAnalysis" -> TextAnalysis.all)

  /** The query mix. A whole module costs 20-60 s a pass on 4 cores, so
    * the mix is a fixed subset whose pass fits twice into one run: scan,
    * aggregate, join, window and CDC batch queries whose cost is mostly
    * per-query fixed cost and that touch no ModelCache, fixpoint or
    * kernel; a graph delta served over a ModelCache base with a
    * checkpointed fixpoint; and text queries that run the codegen
    * kernels. */
  val Mix: Seq[String] = Seq(
    "q_scan_project_filter", "q_group_agg", "q_join_3way", "q_window_rank",
    "q_table_checksum", "q_cdc_diff", "q_components_delta", "q_dedup_minhash",
    "q_dedup_simhash", "q_char_ngrams", "q_repetition_filter", "q_token_count")

  /** Planned length of one warm pass of the mix on 4 cores: a run measures
    * round(--seconds / NominalPassS) whole passes (at least 2), so every
    * run does the same work and every query has the same sample count. */
  val NominalPassS = 10.0

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
      .getOrElse(sys.error(s"$name is not declared in a batch module"))

  final case class Sample(query: String, module: String, pass: Int,
      constructS: Double, executeS: Double) {
    def totalS: Double = constructS + executeS
  }

  def run(spark: SparkSession, tr: Tracer, res: Result, data: String,
      work: String, seconds: Double, cores: Int, trace: Boolean,
      sessionStartNs: Long): Unit = {
    val names = Mix
    val oracles = SparkEntry.oracleSql
    val results = s"$work/results"
    val samples = ArrayBuffer[Sample]()
    val passes = ArrayBuffer[(Int, Long, Boolean)]() // (pass, span id, traced)
    // digest of each no-oracle query's result per pass: must never change
    val digests = scala.collection.mutable.Map[String, Set[String]]()
    var setupS = 0.0
    var trainedInSetup = Map.empty[String, Double]
    var trainedInMeasured = Map.empty[String, Double]

    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

    def runQuery(pid: Int, passSpan: Long, name: String, sink: DataFrame => Unit)
        : Option[DataFrame] = {
      res.attempted += 1
      val module = moduleOf(name)
      try {
        val ((df, cS, eS), _) = tr.span("query", passSpan,
            Map("query" -> name, "module" -> module)) { qid =>
          val (built, c) = tr.span("construct", qid)(_ => SparkEntry.queries(name)(spark, data))
          val (_, e) = tr.span("execute", qid)(_ => sink(built))
          (built, c, e)
        }
        if (pid > 0) samples += Sample(name, module, pid, cS, eS)
        Some(df)
      } catch {
        case e: Throwable =>
          res.fail(s"$name (pass $pid): ${Main.message(e)}")
          None
      }
    }

    if (trace) tr.attach()
    tr.span("run", 0, Map("workload" -> "batch_mix")) { runId =>
      // Set-up: the first pass writes every result for the oracle check
      // (outside the timed region) and pays JIT, codegen and ModelCache
      // training.
      tr.span("pass", runId, Map("pass" -> "setup")) { passSpan =>
        names.foreach(n => runQuery(0, passSpan, n,
          _.coalesce(1).write.mode("overwrite").parquet(s"$results/$n")))
      }
      setupS = (System.nanoTime() - sessionStartNs) / 1e9
      trainedInSetup = ModelCache.buildCosts
      val nPasses = math.max(2, math.round(seconds / NominalPassS).toInt)
      // A traced run alternates untraced and traced passes, starting and
      // ending untraced, so the ratio of their times (the tracing
      // overhead) is not confounded with the passes getting faster.
      (1 to (if (trace) math.max(3, nPasses | 1) else nPasses)).foreach { pid =>
        val traced = trace && pid % 2 == 0
        if (traced) tr.attach() else tr.detach()
        tr.span("pass", runId, Map("pass" -> pid.toString)) { passSpan =>
          passes += ((pid, passSpan, traced))
          names.foreach { n =>
            runQuery(pid, passSpan, n, noop)
              .filterNot(_ => oracles.contains(n))
              .foreach(df => digests(n) = digests.getOrElse(n, Set()) + Main.digest(df))
          }
        }
      }
      tr.detach()
      val after = ModelCache.buildCosts
      trainedInMeasured = after.filter { case (k, v) => trainedInSetup.get(k).forall(_ < v) }
    }

    digests.foreach { case (n, ds) =>
      if (ds.size != 1) res.fail(s"$n: result digest changed between passes")
      if (ds.contains(Main.EmptyDigest)) res.fail(s"$n: empty result")
    }
    Main.writeOracleInputs(results, names, oracles)
    res.info("oracle_results") = results

    val perQuery = samples.groupBy(_.query).map { case (q, ss) => q -> Stats.median(ss.map(_.totalS).toSeq) }
    res.endToEnd("setup_s", setupS, "s")
    // geometric mean over the mix's queries of each one's median latency:
    // with a handful of queries of different cost, a median over all
    // samples jumps between queries from run to run
    res.endToEnd("latency_ms",
      math.exp(perQuery.values.map(v => math.log(v * 1e3)).sum / math.max(perQuery.size, 1)), "ms")
    res.endToEnd("pass_s", perQuery.values.sum, "s")
    res.info("samples_ms") = samples.groupBy(_.query).map { case (q, ss) =>
      q -> ss.sortBy(_.pass).map(s => math.round(s.totalS * 1e3)).asJava }.asJava
    res.info("samples") = samples.size
    res.info("passes") = passes.size

    if (trace) layers(tr, res, samples.toSeq, passes.toSeq, cores,
      trainedInSetup, trainedInMeasured, spark, data)
  }

  /** Per-layer numbers, each averaged over the traced measured passes. */
  private def layers(tr: Tracer, res: Result, samples: Seq[Sample],
      passes: Seq[(Int, Long, Boolean)], cores: Int,
      trainedInSetup: Map[String, Double], trainedInMeasured: Map[String, Double],
      spark: SparkSession, data: String): Unit = {
    val spans = tr.allSpans()
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Long): List[Span] =
      byId.get(id).map(s => s :: ancestors(s.parent)).getOrElse(Nil)
    val tracedIds = passes.filter(_._3).map(_._2).toSet
    val tracedPasses = passes.filter(_._3).map(_._1).toSet
    val n = math.max(tracedIds.size, 1).toDouble
    val jobs = tr.jobs.all
    // each job with the chain of harness spans above it
    val chains = jobs.map(j => j -> ancestors(j.span))
    val inTraced = chains.filter(_._2.exists(s => tracedIds(s.id)))
    def jobsUnder(name: String) = inTraced.filter(_._2.headOption.exists(_.name == name)).map(_._1)
    val tracedSamples = samples.filter(s => tracedPasses(s.pass))
    val wallS = tracedSamples.map(_.totalS).sum
    val all = inTraced.map(_._1)
    val stages = all.map(_.stages).sum.toDouble
    val tasks = all.map(_.tasks).sum.toDouble
    val taskS = all.map(_.taskMs).sum / 1e3

    res.layer("ops.construct_s", tracedSamples.map(_.constructS).sum / n, "s")
    res.layer("ops.construct_jobs", jobsUnder("construct").size / n, "count")
    res.layer("ops.execute_s", tracedSamples.map(_.executeS).sum / n, "s")
    res.layer("ops.execute_jobs", jobsUnder("execute").size / n, "count")
    res.layer("ops.stages", stages / n, "count")
    res.layer("ops.tasks", tasks / n, "count")
    res.layer("ops.tasks_per_stage", if (stages > 0) tasks / stages else 0.0, "ratio")
    res.layer("ops.task_s", taskS / n, "s")
    res.layer("ops.core_util", if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio")
    res.layer("ops.shuffle_bytes", all.map(_.shuffleBytes).sum / n, "bytes")
    res.layer("ops.spill_bytes", all.map(_.spillBytes).sum / n, "bytes")
    modules.foreach { case (m, _) =>
      res.layer(s"ops.$m.s", tracedSamples.filter(_.module == m).map(_.totalS).sum / n, "s")
    }
    val schema = all.filter(_.isSchema)
    res.layer("core.tables.schema_jobs", schema.size / n, "count")
    res.layer("core.tables.schema_s", schema.map(_.durMs).sum / 1e3 / n, "s")
    res.layer("core.tables.scan_bytes", all.map(_.inBytes).sum / n, "bytes")
    res.layer("core.tables.scan_rows", all.map(_.inRecords).sum / n, "count")
    val ckpt = all.filter(_.isCheckpoint)
    res.layer("core.session.checkpoint_jobs", ckpt.size / n, "count")
    res.layer("core.session.checkpoint_s", ckpt.map(_.durMs).sum / 1e3 / n, "s")
    res.layer("core.modelcache.train_s", trainedInSetup.values.sum, "s")
    res.layer("core.modelcache.trains_in_measured", trainedInMeasured.size.toDouble, "count")
    res.layer("trace.untagged_jobs", jobs.count(_.span < 0).toDouble, "count")

    val passWall = passes.map { case (_, id, traced) => traced -> byId.get(id).map(_.durMs) }
    val tracedWall = Stats.median(passWall.collect { case (true, Some(d)) => d })
    val plainWall = Stats.median(passWall.collect { case (false, Some(d)) => d })
    res.layer("trace.overhead_ratio", if (plainWall > 0) tracedWall / plainWall else 0.0, "ratio")
    val self = tr.selfTimes(spans)
    res.layer("trace.construct_self_s",
      spans.filter(s => s.name == "construct" && ancestors(s.parent).exists(p => tracedIds(p.id)))
        .map(s => self(s.id)).sum / 1e3 / n, "s")

    Kernels.measure(spark, tr, res, data)
    Main.writeSpans(tr, spans, self)
  }
}
