package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** Per-tick job/time census for the containment/novelty gate verdict
  * paths (round-17 verdict #2): with the corpus views PINNED, what does
  * a verdict tick still pay, and how much of the first tick is one-time
  * plan/codegen warmup vs per-tick work? Runs the exact batch kernels
  * the streams serve, three rounds on the same static micro-batch —
  * round 1 is the stream's cold first tick, rounds 2-3 its steady
  * state.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.GateProbe
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // diagnosis knobs: separate codegen-compile
    // cost from data cost in the cold-first-tick decomposition
    if (sys.env.get("GATE_PROBE_NO_WSC").contains("1"))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
    if (sys.env.get("GATE_PROBE_NO_AQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    // a 1/10 tail slice — the gates-bench drop shape
    val batch = docs.filter(col("doc_id") > maxId - maxId / 10)
      .localCheckpoint()
    def probe(name: String)(body: => org.apache.spark.sql.DataFrame): Unit = {
      (1 to 3).foreach { round =>
        Thread.sleep(50)
        val j0 = jobs.get(); val t0 = System.nanoTime()
        body.count()
        println(f"[gateprobe] $name round$round jobs=${jobs.get() - j0}%3d " +
          f"sec=${(System.nanoTime() - t0) / 1e9}%7.3f")
      }
    }
    val t0 = System.nanoTime()
    val gv = graft.ops.Dedup.containmentGateView(spark, sfDir)
    val seen = graft.ops.Dedup.noveltySeenView(spark, sfDir)
    println(f"[gateprobe] view builds ${(System.nanoTime() - t0) / 1e9}%.1f s")
    probe("containment")(
      graft.streaming.Stateful.containmentVerdictsBatch(batch, gv.full, gv.rareIdx))
    probe("novelty")(
      graft.streaming.Stateful.noveltyVerdictsBatch(batch, seen))
    // `stream` arg: run the real containment STREAM over 10 staged drops
    // and print each batch's durationMs decomposition — names where the
    // cold first tick goes (addBatch vs source/offset plumbing)
    if (args.headOption.contains("stream")) {
      val work = java.nio.file.Files.createTempDirectory("graft-gateprobe")
      val step = math.max(1L, (maxId + 1) / 10)
      (0 until 10).foreach { i =>
        docs.filter(col("doc_id") >= i * step && col("doc_id") < (i + 1) * step)
          .coalesce(1).write.parquet(s"$work/d/batch_$i.parquet.dir")
        val part = java.nio.file.Files.list(
            java.nio.file.Paths.get(s"$work/d/batch_$i.parquet.dir"))
          .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        java.nio.file.Files.move(java.nio.file.Paths.get(part),
          java.nio.file.Paths.get(s"$work/drop_$i.parquet"))
      }
      val schema = spark.read.parquet(s"$work/drop_0.parquet").schema
      val ds = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(work.toString)
      // inline twin of containmentStream with the body phases timed —
      // names what the cold first tick pays (artifact resolve vs plan
      // construction vs execution)
      val q = ds.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val g = graft.ops.Dedup.containmentGateView(batch.sparkSession, sfDir)
          val t1 = System.nanoTime()
          val v = graft.streaming.Stateful
            .containmentVerdictsBatch(batch, g.full, g.rareIdx)
          val t2 = System.nanoTime()
          v.count()
          println(f"[gateprobe] inner batch $id resolve=${(t1 - t0) / 1e9}%.3f " +
            f"plan=${(t2 - t1) / 1e9}%.3f exec=${(System.nanoTime() - t2) / 1e9}%.3f")
          ()
      }.start()
      val seenIds = scala.collection.mutable.Set.empty[Long]
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (seenIds.size < 10 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
          if (seenIds.add(pr.batchId))
            println(s"[gateprobe] stream batch ${pr.batchId} " +
              s"rows=${pr.numInputRows} durationMs=${pr.durationMs}")
        }
      }
      q.stop()
    }
    spark.stop()
  }
}
