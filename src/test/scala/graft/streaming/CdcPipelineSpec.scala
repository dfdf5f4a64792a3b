package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** Port of the reference's test scenarios (duckdb_cdc_test.go):
  * TestChangeDetection (125-208) without the wall-clock sleep, plus
  * checksum no-change and mutation cases the reference only exercises
  * via its README demo.
  */
class CdcPipelineSpec extends SparkSuite {
  import spark.implicits._

  /** The reference fixture: users(id, name, email, created_at)
    * (FIXTURES.md §1, setup.sql:5-15). */
  private val t0 = Timestamp.valueOf("2024-12-20 10:00:00")
  private def seedUsers = Seq(
    (1, "John Doe", "john@example.com", t0),
    (2, "Jane Smith", "jane@example.com", t0)
  ).toDF("id", "name", "email", "created_at")

  private def cfg(base: String) = CdcPipeline.Config(
    inputDir = s"$base/in", outputDir = s"$base/out",
    metadataDir = s"$base/meta", checkpointDir = s"$base/ckpt",
    tableName = "users")

  private def jsonlLines(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) return Seq.empty
    def once(): Seq[String] = Files.walk(d).iterator().asScala
      .filter(p => p.toString.endsWith(".json"))
      // only COMMITTED output: Spark stages in-flight task files under
      // _temporary; sampling those races the committer — a stop() can
      // abort exactly the file a wait loop just saw (observed flake:
      // orders' capture visible mid-write, gone after stop)
      .filterNot(p => p.toString.contains("_temporary"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq
    // Files.walk itself also races the committer: it throws if a staged
    // _temporary entry vanishes between listing and visiting (observed
    // flake under the 100 ms consistent ticker). A vanished in-flight
    // file is by definition not committed output — retry the listing.
    var attempt = 0
    while (true) {
      try return once()
      catch {
        case e @ (_: java.io.UncheckedIOException | _: java.io.IOException)
            if attempt < 5 =>
          attempt += 1; Thread.sleep(50)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  test("bootstrap capture: first snapshot is captured as SNAPSHOT envelopes") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    val lines = jsonlLines(c.outputDir)
    assert(lines.size == 2)
    assert(lines.forall(_.contains("\"table\":\"users\"")))
    assert(lines.forall(_.contains("\"operation\":\"SNAPSHOT\"")))
    assert(lines.exists(_.contains("john@example.com")))
  }

  test("no-change: identical snapshot (even reordered) is not re-captured") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    val reordered = seedUsers.orderBy($"id".desc)
    assert(!CdcPipeline.processBatch(spark, reordered, c))
    assert(jsonlLines(c.outputDir).size == 2)
  }

  test("change detection: INSERT + UPDATE + DELETE each trigger a capture") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    // the reference README demo mutations (README.md:58-67)
    val afterInsert = seedUsers.unionAll(
      Seq((3, "Bob Wilson", "bob@example.com", t0))
        .toDF("id", "name", "email", "created_at"))
    assert(CdcPipeline.processBatch(spark, afterInsert, c))
    val afterUpdate = afterInsert
      .withColumn("email",
        org.apache.spark.sql.functions.when($"id" === 1,
          org.apache.spark.sql.functions.lit("john.doe@example.com"))
          .otherwise($"email"))
    assert(CdcPipeline.processBatch(spark, afterUpdate, c))
    val afterDelete = afterUpdate.filter($"id" =!= 2)
    assert(CdcPipeline.processBatch(spark, afterDelete, c))
    // captures: 2 + 3 + 3 + 2 envelope rows
    assert(jsonlLines(c.outputDir).size == 10)
    // metadata history holds one checksum per capture
    assert(spark.read.parquet(c.metadataDir).count() == 4)
  }

  test("truncation: an empty snapshot is captured when captureEmpty is set") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    val empty = seedUsers.filter($"id" < 0)
    assert(CdcPipeline.processBatch(spark, empty, c, captureEmpty = true))
    // no envelope rows, but the new (empty-table) checksum is recorded …
    assert(jsonlLines(c.outputDir).size == 2)
    assert(spark.read.parquet(c.metadataDir).count() == 2)
    // … so re-seeing the empty table is a no-op
    assert(!CdcPipeline.processBatch(spark, empty, c, captureEmpty = true))
  }

  test("partition checksums localize change to the touched bucket") {
    import org.apache.spark.sql.functions.{col, pmod}
    val bucket = pmod(col("id"), org.apache.spark.sql.functions.lit(2))
    val before = CdcPipeline.partitionChecksums(seedUsers, bucket)
    // mutate only id=1 (bucket 1); bucket 0 must keep its digest
    val mutated = seedUsers.withColumn("email",
      org.apache.spark.sql.functions.when($"id" === 1,
        org.apache.spark.sql.functions.lit("new@example.com")).otherwise($"email"))
    val after = CdcPipeline.partitionChecksums(mutated, bucket)
    val changed = CdcPipeline.changedBuckets(before, after).collect()
    assert(changed.length == 1)
    assert(changed.head.getInt(0) == 1 && changed.head.getString(1) == "CHANGED")
    // removing all rows of a bucket reports REMOVED
    val dropped = CdcPipeline.partitionChecksums(seedUsers.filter($"id" =!= 2), bucket)
    val removed = CdcPipeline.changedBuckets(before, dropped).collect()
    assert(removed.map(r => (r.getInt(0), r.getString(1))).toSet == Set((0, "REMOVED")))
  }

  test("multi-table fan-out over JSONL drops: independent captures per table") {
    val base = tmpDir("cdc")
    val users = cfg(base)
      .copy(inputFormat = "json", inputDir = s"$base/in_users",
        outputDir = s"$base/out_users", checkpointDir = s"$base/ckpt_users")
    val orders = cfg(base)
      .copy(tableName = "orders", inputFormat = "json",
        inputDir = s"$base/in_orders", outputDir = s"$base/out_orders",
        metadataDir = s"$base/meta", checkpointDir = s"$base/ckpt_orders")
    Files.createDirectories(Paths.get(users.inputDir))
    Files.createDirectories(Paths.get(orders.inputDir))
    seedUsers.coalesce(1).write.mode("append").json(users.inputDir)
    val orderRows = Seq((100L, 1, 9.99), (101L, 2, 19.99))
      .toDF("order_id", "user_id", "total")
    orderRows.coalesce(1).write.mode("append").json(orders.inputDir)
    val qs = CdcPipeline.startAll(spark,
      Seq(users -> seedUsers.schema, orders -> orderRows.schema))
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    assert(jsonlLines(users.outputDir).size == 2)
    assert(jsonlLines(orders.outputDir).size == 2)
    // shared metadata dir holds one checksum per table
    val meta = spark.read.parquet(s"$base/meta")
    assert(meta.select("table_name").distinct().count() == 2)
  }

  test("CSV snapshot drops: header-aware capture, change detection across drops") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(inputFormat = "csv")
    Files.createDirectories(Paths.get(c.inputDir))
    // CSV drops carry ids + strings; the stream reads with header=true
    // against the declared schema (no timestamp col — CSV's type fidelity
    // is the format's own limitation, not the pipeline's)
    val snap1 = Seq((1, "John Doe", "john@example.com"),
      (2, "Jane Smith", "jane@example.com")).toDF("id", "name", "email")
    snap1.coalesce(1).write.mode("append").option("header", "true").csv(c.inputDir)
    val q = CdcPipeline.start(spark, c, snap1.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)
    // changed drop: one mutated row → whole-snapshot re-capture
    val snap2 = Seq((1, "John Doe", "john@new.example.com"),
      (2, "Jane Smith", "jane@example.com")).toDF("id", "name", "email")
    snap2.coalesce(1).write.mode("append").option("header", "true").csv(c.inputDir)
    q.processAllAvailable()
    q.stop()
    assert(jsonlLines(c.outputDir).size == 4)
    assert(jsonlLines(c.outputDir).count(_.contains("john@new.example.com")) == 1)
    // two distinct checksums recorded
    assert(spark.read.parquet(c.metadataDir)
      .select("checksum").distinct().count() == 2)
  }

  test("restart from checkpoint: processed drops are not re-captured") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q1 = CdcPipeline.start(spark, c, seedUsers.schema)
    q1.processAllAvailable()
    q1.stop()
    assert(jsonlLines(c.outputDir).size == 2)
    // restart against the SAME checkpoint: the already-processed drop must
    // not produce a new batch; a new drop must
    val q2 = CdcPipeline.start(spark, c, seedUsers.schema)
    q2.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)   // no re-capture
    Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at")
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q2.processAllAvailable()
    q2.stop()
    assert(jsonlLines(c.outputDir).size == 3)
    assert(spark.read.parquet(c.metadataDir).count() == 2)
  }

  test("schema drift between polls triggers a capture (reference probes schema per tick)") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    // same rows, new column — the checksum is schema-driven (rowCanon
    // reads df.schema per batch, like duckdb_cdc.go:146-159 re-probing)
    val drifted = seedUsers.withColumn("plan",
      org.apache.spark.sql.functions.lit("free"))
    assert(CdcPipeline.processBatch(spark, drifted, c))
    assert(jsonlLines(c.outputDir).size == 4)
  }

  test("mid-stream schema drift: a column-added drop is captured with the new column") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)
    // SAME rows + a new column, dropped under the still-running stream.
    // Read through the stale 4-column stream schema this drop is
    // byte-identical to the last capture — without the per-batch schema
    // re-probe it would not even register as a change.
    seedUsers.withColumn("plan", org.apache.spark.sql.functions.lit("free"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val lines = jsonlLines(c.outputDir)
    assert(lines.size == 4)
    // data is a nested JSON string, so its quotes arrive escaped
    assert(lines.exists(_.contains("\\\"plan\\\":\\\"free\\\"")), lines.mkString("\n"))
  }

  test("q_schema_drift classification agrees with the streaming reprobe on the same drop sequence") {
    import org.apache.spark.sql.functions.lit
    val base = tmpDir("cdc")
    // epoch 1: the reference users fixture; epoch 2: email dropped, plan
    // added, id retyped int → bigint — one column per drift class
    val epoch1 = s"$base/epoch1"
    val epoch2 = s"$base/epoch2"
    seedUsers.coalesce(1).write.parquet(epoch1)
    seedUsers.drop("email")
      .withColumn("id", $"id".cast("long"))
      .withColumn("plan", lit("free"))
      .coalesce(1).write.parquet(epoch2)
    val drift = graft.ops.Cdc.schemaDriftDirs(spark, epoch1, epoch2)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(drift == Map("id" -> "retyped", "name" -> "unchanged",
      "email" -> "dropped", "created_at" -> "unchanged", "plan" -> "added"),
      s"got $drift")
    // cross-check against the STREAMING reprobe on the same sequence:
    // run epoch 1 then the plan-added epoch through a live stream; the
    // columns the second capture carries beyond the first must be
    // exactly the batch classifier's 'added' set, and the 'dropped'
    // column must be absent from the second capture.
    // (column-SET drift only on the stream leg: the reprobe triggers on
    // set difference, and a retyped column under the stale fixed stream
    // schema is a read error, not a silent capture — so the stream drop
    // keeps id at its original type while the batch classifier above
    // covers the retype class)
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    val firstLines = jsonlLines(c.outputDir)
    seedUsers.drop("email").withColumn("plan", lit("free")).coalesce(1)
      .write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val secondLines = jsonlLines(c.outputDir).diff(firstLines)
    assert(secondLines.nonEmpty, "drifted drop must be captured")
    val added = drift.filter(_._2 == "added").keySet
    val droppedCols = drift.filter(_._2 == "dropped").keySet
    added.foreach(cn => assert(secondLines.forall(_.contains(s"\\\"$cn\\\"")),
      s"reprobe must surface added column $cn"))
    droppedCols.foreach(cn => assert(secondLines.forall(!_.contains(s"\\\"$cn\\\"")),
      s"reprobe must not carry dropped column $cn"))
    added.foreach(cn => assert(firstLines.forall(!_.contains(s"\\\"$cn\\\""))))
  }

  test("diff mode: insert, update, delete surface as row-level envelopes") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    // bootstrap: every row of the first snapshot is an INSERT
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    val boot = jsonlLines(c.outputDir)
    assert(boot.size == 2)
    assert(boot.forall(_.contains("\"operation\":\"INSERT\"")))
    // next snapshot: id=1 updated, id=2 deleted, id=3 inserted
    val next = Seq(
      (1, "John Doe", "john.doe@example.com", t0),
      (3, "Bob Wilson", "bob@example.com", t0)
    ).toDF("id", "name", "email", "created_at")
    assert(CdcPipeline.processBatch(spark, next, c))
    val delta = jsonlLines(c.outputDir).diff(boot)
    assert(delta.size == 3)
    def opOf(frag: String) = delta.filter(_.contains(frag))
    assert(opOf("\"operation\":\"UPDATE\"").exists(_.contains("john.doe@example.com")))
    assert(opOf("\"operation\":\"DELETE\"").exists(_.contains("jane@example.com")))
    assert(opOf("\"operation\":\"INSERT\"").exists(_.contains("bob@example.com")))
    // unchanged re-drop: no capture, no new envelopes
    assert(!CdcPipeline.processBatch(spark, next, c))
    assert(jsonlLines(c.outputDir).size == 5)
  }

  test("diff mode end-to-end: streaming drops produce per-batch I/U/D envelopes") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)   // bootstrap INSERTs
    seedUsers.filter($"id" =!= 2).unionAll(
      Seq((3, "Bob Wilson", "bob@example.com", t0))
        .toDF("id", "name", "email", "created_at"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val lines = jsonlLines(c.outputDir)
    // second batch: DELETE(id=2) + INSERT(id=3); id=1 unchanged → silent
    assert(lines.size == 4)
    assert(lines.count(_.contains("\"operation\":\"DELETE\"")) == 1)
    assert(lines.count(_.contains("\"operation\":\"INSERT\"")) == 3)
  }

  test("diff-mode stream: an unchanged drop runs at most 2 Spark jobs, a changed drop at most 9") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    Files.createDirectories(Paths.get(c.inputDir))
    // jobs of THIS query only, by micro-batch: stream jobs carry the
    // query id and batch id as local properties; other suites' jobs and
    // this thread's own writes carry neither. A marker job run from this
    // thread afterwards flushes the asynchronous listener bus.
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val query = CdcPipeline.start(spark, c, seedUsers.schema)
    query.processAllAvailable()                             // batch 0: bootstrap
    val marker = s"cdc-job-count-${query.id}"
    val batchJobs = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("graft.spec.marker").contains(marker)) flushed = true
        if (prop("sql.streaming.queryId").contains(query.id.toString))
          prop("streaming.sql.batchId").foreach(b => batchJobs.merge(b.toLong, 1, _ + _))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val changedDrop = seedUsers.filter($"id" =!= 2).unionAll(
      Seq((3, "Bob Wilson", "bob@example.com", t0)).toDF("id", "name", "email", "created_at"))
    try {
      changedDrop.coalesce(1).write.mode("append").parquet(c.inputDir)
      query.processAllAvailable()                           // batch 1: changed
      changedDrop.coalesce(1).write.mode("append").parquet(c.inputDir)
      query.processAllAvailable()                           // batch 2: unchanged
      spark.sparkContext.setLocalProperty("graft.spec.marker", marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.marker", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!flushed && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(flushed, "listener bus did not deliver the marker job")
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    // the drops did what their names say: DELETE + INSERT, then nothing
    assert(jsonlLines(c.outputDir).size == 4)
    val changed = batchJobs.getOrDefault(1L, 0)
    val unchanged = batchJobs.getOrDefault(2L, 0)
    assert(unchanged >= 1 && unchanged <= 2, s"unchanged tick ran $unchanged jobs")
    assert(changed >= 1 && changed <= 9, s"changed tick ran $changed jobs")
  }

  test("state maintenance under a live diff stream: prune+compact between triggers never breaks the next diff") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    val stateDir = s"${c.metadataDir}/state/table_name=${c.tableName}"
    Files.createDirectories(Paths.get(c.inputDir))
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    // batch 0: bootstrap; batch 1: update id=2 — two state versions accrete
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    seedUsers.withColumn("email",
      org.apache.spark.sql.functions.when($"id" === 2,
        org.apache.spark.sql.functions.lit("jane2@example.com")).otherwise($"email"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 3) // 2 INSERTs + 1 UPDATE
    // maintenance runs between triggers while the query is STILL ACTIVE:
    // retention drops the bootstrap version, compaction bin-packs the
    // survivor leaf
    assert(q.isActive)
    val dropped = graft.core.Maintenance.pruneVersions(spark, stateDir, keep = 1)
    assert(dropped.nonEmpty, "the bootstrap state version should be pruned")
    import scala.jdk.CollectionConverters._
    val leaf = Files.list(Paths.get(stateDir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("v=")).toSeq match {
      case Seq(one) => one.toString
      case other    => fail(s"expected exactly one surviving version, got $other")
    }
    graft.core.Maintenance.compact(spark, leaf)
    // batch 2 diffs against the pruned+compacted state: DELETE id=1 only
    seedUsers.filter($"id" =!= 1)
      .withColumn("email",
        org.apache.spark.sql.functions.when($"id" === 2,
          org.apache.spark.sql.functions.lit("jane2@example.com")).otherwise($"email"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val lines = jsonlLines(c.outputDir)
    assert(lines.size == 4, lines.mkString("\n"))
    assert(lines.count(_.contains("\"operation\":\"DELETE\"")) == 1)
    assert(lines.filter(_.contains("\"operation\":\"DELETE\"")).head
      .contains("\\\"id\\\":1"))
  }

  test("diff mode survives schema drift: added column surfaces as UPDATEs with the new field") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    // same rows + a new column: state is the (key, digest, json)
    // projection, so the wider snapshot diffs row-by-row — every row's
    // digest changed → UPDATE, with the new field in the emitted data
    val drifted = seedUsers.withColumn("plan",
      org.apache.spark.sql.functions.lit("free"))
    assert(CdcPipeline.processBatch(spark, drifted, c))
    val lines = jsonlLines(c.outputDir)
    assert(lines.size == 4)
    val updates = lines.filter(_.contains("\"operation\":\"UPDATE\""))
    assert(updates.size == 2)
    assert(updates.forall(_.contains("\\\"plan\\\":\\\"free\\\"")))
  }

  test("diff mode: an empty (truncation) drop emits DELETEs for every live key") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)      // bootstrap INSERTs
    // truncation: a discovered drop file with zero rows
    seedUsers.filter($"id" < 0).coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val lines = jsonlLines(c.outputDir)
    assert(lines.count(_.contains("\"operation\":\"DELETE\"")) == 2,
      lines.mkString("\n"))
  }

  test("diff mode: duplicate natural keys do not fan out into spurious updates") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    // dirty snapshot: id=1 appears twice
    val dup = seedUsers.unionAll(
      Seq((1, "John Doe", "john+alt@example.com", t0))
        .toDF("id", "name", "email", "created_at"))
    assert(CdcPipeline.processBatch(spark, dup, c))
    val boot = jsonlLines(c.outputDir)
    assert(boot.size == 2)    // one logical row per key, both INSERTs
    // identical re-drop: silent (the digest covers the key's row multiset)
    assert(!CdcPipeline.processBatch(spark, dup, c))
    // mutating ONE of the duplicated rows surfaces as a single UPDATE
    val mutated = dup.withColumn("email",
      org.apache.spark.sql.functions.when($"email" === "john+alt@example.com",
        org.apache.spark.sql.functions.lit("changed@example.com")).otherwise($"email"))
    assert(CdcPipeline.processBatch(spark, mutated, c))
    val delta = jsonlLines(c.outputDir).diff(boot)
    assert(delta.size == 1 && delta.head.contains("\"operation\":\"UPDATE\""))
  }

  test("diff mode + schema drift, streaming: a column-added drop yields UPDATEs with the new field") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)   // bootstrap INSERTs
    // same rows + a new column under the running stream: the re-probe
    // widens the batch, the per-row digests change, and the diff emits
    // UPDATEs carrying the new field
    seedUsers.withColumn("plan", org.apache.spark.sql.functions.lit("pro"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    val lines = jsonlLines(c.outputDir)
    val updates = lines.filter(_.contains("\"operation\":\"UPDATE\""))
    assert(updates.size == 2, lines.mkString("\n"))
    assert(updates.forall(_.contains("\\\"plan\\\":\\\"pro\\\"")))
  }

  test("changedBuckets: NULL bucket keys match null-safely") {
    import org.apache.spark.sql.functions.{col, when}
    val withNull = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
      .withColumn("b", when($"id" === 3, null).otherwise($"id" % 2))
    val base = CdcPipeline.partitionChecksums(withNull, col("b"))
    // unchanged input: no bucket (including the NULL one) may report
    assert(CdcPipeline.changedBuckets(base, base).isEmpty)
    // mutate only the NULL bucket's row
    val mutated = withNull.withColumn("v",
      when($"id" === 3, "Z").otherwise($"v"))
    val after = CdcPipeline.partitionChecksums(mutated, col("b"))
    val changed = CdcPipeline.changedBuckets(base, after).collect()
    assert(changed.length == 1)
    assert(changed.head.isNullAt(0) && changed.head.getString(1) == "CHANGED")
  }

  test("two drops before one trigger become two batches, not one doubled state") {
    // Default maxFilesPerTrigger=1: a backlog of snapshot drops must be
    // processed one per micro-batch — an uncapped trigger would union both
    // drops and checksum/capture a doubled "table state".
    val base = tmpDir("cdc")
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    seedUsers.unionAll(
      Seq((3, "Bob Wilson", "bob@example.com", t0))
        .toDF("id", "name", "email", "created_at"))
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    q.stop()
    // two captures (2-row then 3-row snapshot) — never one 5-row batch
    assert(jsonlLines(c.outputDir).size == 5)
    assert(spark.read.parquet(c.metadataDir).count() == 2)
  }

  test("graceful shutdown: CdcMain's hook stops every active stream (reference R23)") {
    val base = tmpDir("cdc")
    val c1 = cfg(s"$base/a"); val c2 = cfg(s"$base/b")
    Files.createDirectories(Paths.get(c1.inputDir))
    Files.createDirectories(Paths.get(c2.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c1.inputDir)
    seedUsers.coalesce(1).write.mode("append").parquet(c2.inputDir)
    val qs = CdcPipeline.startAll(spark,
      Seq((c1, seedUsers.schema), (c2, seedUsers.schema)))
    qs.foreach(_.processAllAvailable())
    assert(qs.forall(_.isActive))
    // the hook must be registerable and removable (daemon embedding), and
    // its stream-stopping body must terminate every active query. The
    // session itself is shared across suites, so stopSession=false here —
    // main() runs the same body with stopSession=true.
    val hook = graft.CdcMain.installShutdownHook(spark)
    assert(Runtime.getRuntime.removeShutdownHook(hook))
    graft.CdcMain.shutdown(spark, stopSession = false)
    assert(qs.forall(!_.isActive), "shutdown must stop every active stream")
    assert(jsonlLines(c1.outputDir).size == 2 && jsonlLines(c2.outputDir).size == 2)
  }

  test("crash replay: re-delivered batchId after a mid-batch kill does not duplicate envelopes") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    // First delivery of batch 0: capture committed (envelopes + checksum).
    assert(CdcPipeline.processBatch(spark, seedUsers, c, batchId = Some(0L)))
    // capture wall-clock differs between runs by design — compare payloads
    def payloads = jsonlLines(c.outputDir)
      .map(_.replaceAll("\"timestamp\":\"[^\"]*\",", "")).sorted
    val afterFirst = payloads
    assert(afterFirst.size == 2)
    // Kill AFTER envelope write but BEFORE the checksum record commits —
    // the worst-case boundary. Simulate by erasing the checksum metadata;
    // the file-source checkpoint then re-delivers the same batchId.
    Files.walk(Paths.get(c.metadataDir)).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.delete)
    assert(CdcPipeline.processBatch(spark, seedUsers, c, batchId = Some(0L)))
    assert(payloads == afterFirst,
      "per-batch overwrite must replace, not append, the replayed capture")
    // Kill after FULL commit: replay of the same snapshot is a no-change
    assert(!CdcPipeline.processBatch(spark, seedUsers, c, batchId = Some(0L)))
    assert(payloads == afterFirst)
  }

  test("effectively-once: a stream killed between capture and checksum record does not duplicate envelopes on restart") {
    // Round-12 verdict #5, the REAL-STREAM version of the processBatch
    // replay test above: run CdcPipeline.start, then reconstruct the
    // worst-case kill window — envelopes written, checksum record and
    // micro-batch commit both lost — and restart against the same
    // checkpoint. The file source re-delivers batch 0 with its pinned
    // file set; the batchId-deterministic capture dir (batch=0, written
    // with overwrite) must REPLACE the orphaned envelopes, not append.
    val base = tmpDir("cdc")
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable(); q.stop()
    def payloads = jsonlLines(c.outputDir)
      .map(_.replaceAll("\"timestamp\":\"[^\"]*\",", "")).sorted
    val afterFirst = payloads
    assert(afterFirst.size == 2)
    // the kill window: capture landed, but neither the checksum record
    // nor the streaming commit did. Erase exactly those two artifacts —
    // what a kill -9 inside foreachBatch after the envelope write leaves.
    Files.walk(Paths.get(c.metadataDir)).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.delete)
    val commit0 = Paths.get(s"${c.checkpointDir}/commits/0")
    assert(Files.exists(commit0), "test premise: batch 0 committed a marker")
    Files.delete(commit0)
    // the local ChecksumFileSystem shadows every file with .<name>.crc;
    // a stale shadow makes the replay's commit rename fail and read as
    // "multiple queries on one checkpoint" — a kill -9 would have lost
    // both files together, so model that
    Files.deleteIfExists(Paths.get(s"${c.checkpointDir}/commits/.0.crc"))
    // restart: the checkpoint holds offsets/0 without commits/0, so the
    // stream re-executes batch 0 against the same discovered file
    val q2 = CdcPipeline.start(spark, c, seedUsers.schema)
    q2.processAllAvailable(); q2.stop()
    assert(jsonlLines(c.outputDir).size == 2,
      "replayed batch must yield exactly the original row count — zero duplicates")
    assert(payloads == afterFirst,
      "replayed capture must be payload-identical to the orphaned one")
    // and the pipeline is live afterwards: a NEW drop still captures
    Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at")
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    val q3 = CdcPipeline.start(spark, c, seedUsers.schema)
    q3.processAllAvailable(); q3.stop()
    assert(jsonlLines(c.outputDir).size == 3)
  }

  test("streaming end-to-end: snapshot drops are discovered and captured") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    Files.createDirectories(Paths.get(c.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(c.inputDir)
    val q = CdcPipeline.start(spark, c, seedUsers.schema)
    q.processAllAvailable()
    assert(jsonlLines(c.outputDir).size == 2)
    // drop a changed snapshot (new row) — discovered on the next tick
    Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at")
      .coalesce(1).write.mode("append").parquet(c.inputDir)
    q.processAllAvailable()
    q.stop()
    assert(jsonlLines(c.outputDir).size == 3)
  }

  // --------------------------------------------------------------------
  // Consistent multi-table ticks (round 6): the reference's single
  // per-tick copy semantics — one upstream transaction touching two
  // tables is captured under ONE shared snapshot epoch.
  // --------------------------------------------------------------------

  private def epochsIn(dir: String): Seq[Long] =
    jsonlLines(dir).map { l =>
      val m = "\"snapshot_epoch\":(\\d+)".r.findFirstMatchIn(l)
      assert(m.isDefined, s"envelope missing snapshot_epoch: $l")
      m.get.group(1).toLong
    }

  test("consistent tick: one two-table transaction yields one shared snapshot epoch") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    val orders = cfg(s"$base/orders").copy(tableName = "orders")
    Files.createDirectories(Paths.get(users.inputDir))
    Files.createDirectories(Paths.get(orders.inputDir))
    // the "transaction": both tables' snapshots dropped before the tick
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    Seq((100, 1, "widget"), (101, 2, "gadget")).toDF("order_id", "user_id", "item")
      .coalesce(1).write.mode("append").parquet(orders.inputDir)
    val changed = CdcPipeline.pollTickAll(spark, Seq(users, orders), epoch = 7L)
    assert(changed == Seq(true, true))
    // BOTH tables' envelopes carry the same epoch — the consumer's join key
    assert(epochsIn(users.outputDir).distinct == Seq(7L))
    assert(epochsIn(orders.outputDir).distinct == Seq(7L))
    assert(jsonlLines(users.outputDir).size == 2)
    assert(jsonlLines(orders.outputDir).size == 2)
    // next tick, nothing changed: no new epochs appear anywhere
    assert(CdcPipeline.pollTickAll(spark, Seq(users, orders), epoch = 8L) ==
      Seq(false, false))
    assert(epochsIn(users.outputDir).distinct == Seq(7L))
  }

  test("consistent tick: a single-table change captures under a NEW epoch; the other table stays silent") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    val orders = cfg(s"$base/orders").copy(tableName = "orders")
    Files.createDirectories(Paths.get(users.inputDir))
    Files.createDirectories(Paths.get(orders.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    Seq((100, 1, "widget")).toDF("order_id", "user_id", "item")
      .coalesce(1).write.mode("append").parquet(orders.inputDir)
    assert(CdcPipeline.pollTickAll(spark, Seq(users, orders), 1L) == Seq(true, true))
    Thread.sleep(20) // distinct mtime for the newer drop
    // only users changes before tick 2
    seedUsers.unionAll(Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at"))
      .coalesce(1).write.mode("append").parquet(users.inputDir)
    assert(CdcPipeline.pollTickAll(spark, Seq(users, orders), 2L) == Seq(true, false))
    // users carries both epochs (5 envelopes); orders only epoch 1 — a
    // consumer joining on snapshot_epoch never pairs users@2 with a
    // phantom orders@2 state
    assert(epochsIn(users.outputDir).sorted == Seq(1L, 1L, 2L, 2L, 2L))
    assert(epochsIn(orders.outputDir).distinct == Seq(1L))
  }

  test("consistent tick streaming driver: rate-ticker epochs are shared within a tick and grow across ticks") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    val orders = cfg(s"$base/orders").copy(tableName = "orders")
    Files.createDirectories(Paths.get(users.inputDir))
    Files.createDirectories(Paths.get(orders.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    Seq((100, 1, "widget")).toDF("order_id", "user_id", "item")
      .coalesce(1).write.mode("append").parquet(orders.inputDir)
    val q = CdcPipeline.startConsistent(spark, Seq(users, orders),
      s"$base/ckpt-consistent", triggerMs = 100L)
    try {
      val deadline = System.currentTimeMillis() + 90000
      while ((jsonlLines(users.outputDir).isEmpty ||
        jsonlLines(orders.outputDir).isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    val uE = epochsIn(users.outputDir).distinct
    val oE = epochsIn(orders.outputDir).distinct
    assert(uE.size == 1 && oE.size == 1, s"one capture each: users=$uE orders=$oE")
    assert(uE == oE, "both tables' bootstrap captures must share the tick epoch")
  }

  test("torn metadata write: a meta dir holding only _temporary reads as no-checksum and the next tick re-captures") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    // Simulate a crash mid-recordChecksum: the committer created the table's
    // meta dir and its _temporary scratch space, then died before any part
    // file was committed. spark.read.parquet on this dir would throw
    // UNABLE_TO_INFER_SCHEMA — lastChecksum must instead report bootstrap.
    Files.createDirectories(Paths.get(s"${c.metadataDir}/table_name=users/_temporary/0"))
    assert(CdcPipeline.lastChecksum(spark, c.metadataDir, "users").isEmpty,
      "torn metadata (zero committed part files) must read as no checksum, not throw")
    // and the pipeline recovers: the next tick treats the table as
    // unbootstrapped and captures it (capture-then-record makes this safe)
    assert(CdcPipeline.processBatch(spark, seedUsers, c))
    assert(jsonlLines(c.outputDir).size == 2)
    assert(CdcPipeline.lastChecksum(spark, c.metadataDir, "users").nonEmpty)
    // once a real record exists alongside the leftover _temporary, reads work
    assert(!CdcPipeline.processBatch(spark, seedUsers, c))
  }

  test("ledger: rows appended out of band are honoured; every tick agrees with lastChecksum") {
    val base = tmpDir("cdc")
    val c = cfg(base)
    val current = CdcPipeline.batchChecksum(seedUsers)
    // a tick captures exactly when the on-disk ledger head differs
    def tick(): Boolean = {
      val expected = !CdcPipeline.lastChecksum(spark, c.metadataDir, "users").contains(current)
      val changed = CdcPipeline.processBatch(spark, seedUsers, c)
      assert(changed == expected, "the pipeline's ledger head must equal the disk read")
      changed
    }
    def appendRow(checksum: String, ts: Timestamp): Unit =
      Seq((checksum, ts)).toDF("checksum", "ts")
        .write.mode("append").parquet(s"${c.metadataDir}/table_name=users")
    assert(tick())
    assert(!tick())
    // another writer records a different head between two identical ticks
    appendRow("0" * 32, new Timestamp(System.currentTimeMillis()))
    assert(tick(), "an out-of-band head that differs from the batch must trigger a capture")
    assert(!tick())
    // a row stamped ahead of this process's clock stays the head even
    // after the pipeline appends its own, so the next tick captures again
    appendRow("f" * 32, new Timestamp(System.currentTimeMillis() + 3600000L))
    assert(tick())
    assert(tick())
    assert(jsonlLines(c.outputDir).size == 8)
  }

  test("torn diff-state write: a v= dir holding only _temporary is skipped and the next diff heals") {
    val base = tmpDir("cdc")
    val c = cfg(base).copy(mode = "diff", keyCols = Seq("id"))
    assert(CdcPipeline.processBatch(spark, seedUsers, c))      // bootstrap: v=0
    // crash mid-state-write for the NEXT version: only _temporary landed
    Files.createDirectories(Paths.get(
      s"${c.metadataDir}/state/table_name=users/v=1/_temporary/0"))
    val v2 = seedUsers.unionAll(Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at"))
    // the torn v=1 must be invisible: this run re-diffs against v=0
    // (emitting Bob's INSERT) and overwrites the debris as the new v=1
    assert(CdcPipeline.processBatch(spark, v2, c))
    val lines = jsonlLines(c.outputDir)
    assert(lines.count(_.contains("\"operation\":\"INSERT\"")) == 3,
      s"2 bootstrap inserts + Bob, got:\n${lines.mkString("\n")}")
    // and the healed v=1 is a real state: a no-op drop diffs to nothing
    assert(!CdcPipeline.processBatch(spark, v2, c))
  }

  test("consistent tick restart: epochs continue from the checkpoint, replayed epochs do not duplicate") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    Files.createDirectories(Paths.get(users.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    val ckpt = s"$base/ckpt-consistent"
    val q1 = CdcPipeline.startConsistent(spark, Seq(users), ckpt, triggerMs = 100L)
    try {
      val deadline = System.currentTimeMillis() + 90000
      while (jsonlLines(users.outputDir).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q1.stop()
    val firstEpochs = epochsIn(users.outputDir).distinct
    assert(firstEpochs.size == 1)
    val payloadsBefore = jsonlLines(users.outputDir).sorted
    Thread.sleep(20)
    // changed drop lands while the driver is DOWN; restart from checkpoint
    seedUsers.unionAll(Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at"))
      .coalesce(1).write.mode("append").parquet(users.inputDir)
    val q2 = CdcPipeline.startConsistent(spark, Seq(users), ckpt, triggerMs = 100L)
    try {
      val deadline = System.currentTimeMillis() + 90000
      while (jsonlLines(users.outputDir).size < 5 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q2.stop()
    val after = epochsIn(users.outputDir).distinct.sorted
    // the bootstrap capture survives untouched (replayed ticks re-checksum,
    // find no change vs metadata, and never rewrite the old epoch dir) and
    // the new capture carries a strictly LATER epoch — the rate-source
    // checkpoint keeps the epoch counter monotonic across restarts
    assert(after.size == 2, s"expected bootstrap + one new epoch, got $after")
    assert(after.last > firstEpochs.head,
      s"restarted epochs must continue, not reset: $after")
    assert(payloadsBefore.toSet.subsetOf(jsonlLines(users.outputDir).toSet),
      "replay must not rewrite or duplicate the pre-restart capture")
    assert(jsonlLines(users.outputDir).size == 5)
  }

  test("replayed epoch with a vanished pinned snapshot skips that capture instead of wedging") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    Files.createDirectories(Paths.get(users.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    val listing = s"$base/listing"
    assert(CdcPipeline.pollTickAll(spark, Seq(users), epoch = 1L,
      listingDir = Some(listing)) == Seq(true))
    // retention deletes the pinned snapshot between crash and restart
    val pinned = Files.readAllLines(Paths.get(s"$listing/epoch-1")).get(1).split("\t")(1)
    Files.delete(Paths.get(pinned.stripPrefix("file:")))
    // replay of epoch 1 re-reads the pin; the vanished file must read as
    // no-capture (changed=false), not throw and wedge the stream forever
    assert(CdcPipeline.pollTickAll(spark, Seq(users), epoch = 1L,
      listingDir = Some(listing)) == Seq(false))
    // the stream is alive: the NEXT tick's fresh listing captures current state
    Thread.sleep(20)
    seedUsers.unionAll(Seq((3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at"))
      .coalesce(1).write.mode("append").parquet(users.inputDir)
    assert(CdcPipeline.pollTickAll(spark, Seq(users), epoch = 2L,
      listingDir = Some(listing)) == Seq(true))
    assert(epochsIn(users.outputDir).distinct.sorted == Seq(1L, 2L))
  }

  test("replayed pin on a foreign scheme resolves the snapshot's own FS, not the listing dir's") {
    // The round-8 fix: pinned inputs and the listing/checkpoint dir can
    // live on DIFFERENT filesystems (s3 inputs + hdfs listing). The
    // vanished-pin existence probe must get its FileSystem from the
    // snapshot path itself — probing through the listing dir's FS throws
    // "Wrong FS" and re-wedges exactly the replay the probe un-wedges.
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users")
    Files.createDirectories(Paths.get(users.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    val listing = s"$base/listing"
    assert(CdcPipeline.pollTickAll(spark, Seq(users), epoch = 1L,
      listingDir = Some(listing)) == Seq(true))
    // rewrite the pin so the snapshot path carries a scheme that is not
    // the listing dir's (a registered test scheme backed by local disk)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftSchemeFs].getName)
    val pin = Paths.get(s"$listing/epoch-1")
    val lines = Files.readAllLines(pin).asScala.toVector
    val Array(tbl, snap) = lines(1).split("\t", 2)
    Files.write(pin, java.util.Arrays.asList(
      lines(0), s"$tbl\tgraftfs:${snap.stripPrefix("file:")}"))
    // the pin was written through Hadoop's checksummed local FS; editing
    // it behind Hadoop's back leaves a stale .crc sidecar that would fail
    // the replay's open() — drop it (production never edits pins in place)
    Files.deleteIfExists(Paths.get(s"$listing/.epoch-1.crc"))
    // replay of epoch 1: must NOT throw Wrong FS; re-checksum of the
    // (unchanged) pinned snapshot reads as no-change, and the stream lives
    assert(CdcPipeline.pollTickAll(spark, Seq(users), epoch = 1L,
      listingDir = Some(listing)) == Seq(false))
  }

  test("post-epoch maintenance hook: versions and pins pruned to floor, diffs stay correct") {
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users").copy(mode = "diff", keyCols = Seq("id"))
    Files.createDirectories(Paths.get(users.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    val ckpt = s"$base/ckpt-maint"
    val stateDir = s"${users.metadataDir}/state/table_name=${users.tableName}"
    val q = CdcPipeline.startConsistent(spark, Seq(users), ckpt,
      triggerMs = 100L, maintainEveryEpochs = 1L, keepStateVersions = 1)
    def liveVersions: Seq[String] =
      // exact v=<n> only: a stop mid-compact can strand v=N__compact_*
      // debris, which is rewrite scaffolding, not a retained version
      if (!Files.exists(Paths.get(stateDir))) Nil
      else Files.list(Paths.get(stateDir)).iterator().asScala
        .map(_.getFileName.toString).filter(_.matches("v=\\d+")).toSeq
    // An envelope line lands MID-epoch: the state write, the prune and
    // the pin prune of that epoch all follow it in the same foreachBatch,
    // so stopping (or dropping the next snapshot) on sight of the line
    // can strand a second version. Wait on stream state instead: the
    // epoch that captured `op` is settled once the stream has committed a
    // LATER batch — its whole foreachBatch, maintenance included, ran —
    // and the prune has left exactly one live version. The later batch's
    // own maintenance then has pruned pins below the captured epoch too.
    def settle(op: String): Unit = {
      val deadline = System.currentTimeMillis() + 90000
      def captured: Option[Long] = jsonlLines(users.outputDir)
        .find(_.contains(s"\"operation\":\"$op\""))
        .flatMap(l => "\"snapshot_epoch\":(\\d+)".r.findFirstMatchIn(l))
        .map(_.group(1).toLong)
      def settled: Boolean = captured.exists(e =>
        Option(q.lastProgress).exists(_.batchId > e)) && liveVersions.size == 1
      while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    try {
      settle("INSERT") // bootstrap: 2 INSERTs
      Thread.sleep(20)
      seedUsers.withColumn("email",
        org.apache.spark.sql.functions.when($"id" === 2,
          org.apache.spark.sql.functions.lit("jane2@example.com"))
          .otherwise($"email"))
        .coalesce(1).write.mode("append").parquet(users.inputDir)
      settle("UPDATE") // + 1 UPDATE — a second state version accreted,
      // then the hook pruned it back to 1 and compacted the survivor
      Thread.sleep(20)
      seedUsers.filter($"id" =!= 1).withColumn("email",
        org.apache.spark.sql.functions.when($"id" === 2,
          org.apache.spark.sql.functions.lit("jane2@example.com"))
          .otherwise($"email"))
        .coalesce(1).write.mode("append").parquet(users.inputDir)
      settle("DELETE") // the diff against the pruned+compacted state
    } finally q.stop()
    // stop() can interrupt an in-flight compact mid-swap (maintenance
    // runs EVERY epoch here) — the documented crash window, where the
    // version dir sits at its __compact_old debris path. A restart's
    // first tick recovers it (startConsistent calls recoverAllSwapDebris
    // before reading state); the asserts below model that restart.
    graft.core.Maintenance.recoverAllSwapDebris(spark, stateDir)
    val lines = jsonlLines(users.outputDir)
    assert(lines.size == 4, lines.mkString("\n"))
    assert(lines.count(_.contains("\"operation\":\"INSERT\"")) == 2)
    assert(lines.count(_.contains("\"operation\":\"UPDATE\"")) == 1)
    assert(lines.count(_.contains("\"operation\":\"DELETE\"")) == 1,
      "the diff against maintained state must still see the exact delta")
    // state pruned to the retention floor (1 version survives)
    val versions = liveVersions
    assert(versions.size == 1,
      s"keepStateVersions=1 must leave exactly one version, got $versions")
    // pins pruned to the committed floor: every epoch's maintenance drops
    // pins below the current id, so only the last tick or two survive
    val pins = Files.list(Paths.get(s"$ckpt-listing")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("epoch-"))
      .map(_.stripPrefix("epoch-").toLong).toSeq.sorted
    val maxEpoch = epochsIn(users.outputDir).max
    assert(pins.nonEmpty && pins.head >= maxEpoch - 2,
      s"pins below the committed floor must be pruned: $pins (maxEpoch $maxEpoch)")
  }

  test("consistent tick with mixed modes: diff + snapshot share the epoch, replay once is idempotent") {
    // The reference's whole job is multi-table capture under one tick
    // (duckdb_cdc.go:116-120); here the two per-table MODES compose with
    // the shared epoch: `users` emits row-level diff envelopes, `items`
    // whole-snapshot envelopes, both stamped with the SAME epoch, and a
    // crash-replay of an epoch rewrites both captures byte-identically.
    val base = tmpDir("cdc")
    val users = cfg(s"$base/users").copy(mode = "diff", keyCols = Seq("id"))
    val items = cfg(s"$base/items").copy(tableName = "items")
    Files.createDirectories(Paths.get(users.inputDir))
    Files.createDirectories(Paths.get(items.inputDir))
    seedUsers.coalesce(1).write.mode("append").parquet(users.inputDir)
    val seedItems = Seq((10, "widget"), (11, "gadget")).toDF("id", "sku")
    seedItems.coalesce(1).write.mode("append").parquet(items.inputDir)
    val listing = s"$base/listing"
    val tables = Seq(users, items)
    // epoch 1: both tables bootstrap under ONE shared epoch
    assert(CdcPipeline.pollTickAll(spark, tables, epoch = 1L,
      listingDir = Some(listing)) == Seq(true, true))
    assert(epochsIn(users.outputDir).distinct == Seq(1L))
    assert(epochsIn(items.outputDir).distinct == Seq(1L))
    val uBoot = jsonlLines(users.outputDir).sorted
    val iBoot = jsonlLines(items.outputDir).sorted
    assert(uBoot.size == 2 && uBoot.forall(_.contains("\"operation\":\"INSERT\"")),
      "diff-mode bootstrap under a consistent tick emits row-level INSERTs")
    assert(iBoot.size == 2 && iBoot.forall(_.contains("\"operation\":\"SNAPSHOT\"")),
      "snapshot-mode capture under the same tick emits snapshot envelopes")
    // crash-replay of epoch 1: the pinned listing re-checksums BOTH
    // tables against committed metadata — no change, no rewrite, and
    // the diff state is not advanced a second time
    assert(CdcPipeline.pollTickAll(spark, tables, epoch = 1L,
      listingDir = Some(listing)) == Seq(false, false))
    assert(jsonlLines(users.outputDir).sorted == uBoot,
      "replayed diff capture must leave the envelopes untouched")
    assert(jsonlLines(items.outputDir).sorted == iBoot)
    // epoch 2: users mutates (update + delete), items gets a new snapshot
    Thread.sleep(20)
    Seq((1, "John Doe", "john.doe@example.com", t0),
        (3, "Bob Wilson", "bob@example.com", t0))
      .toDF("id", "name", "email", "created_at")
      .coalesce(1).write.mode("append").parquet(users.inputDir)
    seedItems.unionAll(Seq((12, "sprocket")).toDF("id", "sku"))
      .coalesce(1).write.mode("append").parquet(items.inputDir)
    assert(CdcPipeline.pollTickAll(spark, tables, epoch = 2L,
      listingDir = Some(listing)) == Seq(true, true))
    assert(epochsIn(users.outputDir).distinct.sorted == Seq(1L, 2L))
    assert(epochsIn(items.outputDir).distinct.sorted == Seq(1L, 2L))
    val uDelta = jsonlLines(users.outputDir).diff(uBoot)
    assert(uDelta.count(_.contains("\"operation\":\"UPDATE\"")) == 1)
    assert(uDelta.count(_.contains("\"operation\":\"DELETE\"")) == 1)
    assert(uDelta.count(_.contains("\"operation\":\"INSERT\"")) == 1)
    assert(jsonlLines(items.outputDir).size == 5,
      "items re-snapshots all 3 rows under epoch 2")
    // replay epoch 2 once as well: both modes stay idempotent mid-stream
    val uAll = jsonlLines(users.outputDir).sorted
    val iAll = jsonlLines(items.outputDir).sorted
    assert(CdcPipeline.pollTickAll(spark, tables, epoch = 2L,
      listingDir = Some(listing)) == Seq(false, false))
    assert(jsonlLines(users.outputDir).sorted == uAll)
    assert(jsonlLines(items.outputDir).sorted == iAll)
  }

  test("tickGuard: a stop()-inflicted cancellation becomes a clean interruption; other failures propagate") {
    // the shape the stream thread observed when stop() raced a mid-tick
    // write: SPARK_JOB_CANCELLED nested under an async-commit wrapper
    val stopEx = new RuntimeException("wrapper",
      new org.apache.spark.SparkException(
        "[SPARK_JOB_CANCELLED] Job 7 cancelled Query [id = x, runId = y] was stopped SQLSTATE: XXKDA"))
    intercept[InterruptedException] { CdcPipeline.tickGuard(throw stopEx) }
    // stop() reaching a task mid-write before the job is cancelled: the
    // interrupt surfaces as the cause of a TASK_WRITE_FAILED job abort
    def writeFailure(cause: Throwable) = new org.apache.spark.SparkException(
      "Job aborted due to stage failure: [TASK_WRITE_FAILED] Task failed while writing rows to file:/s/v=2.",
      new org.apache.spark.SparkException(
        "[TASK_WRITE_FAILED] Task failed while writing rows to file:/s/v=2.", cause))
    Seq(new java.nio.channels.ClosedByInterruptException,
      new java.io.InterruptedIOException("interrupted"),
      new org.apache.spark.TaskKilledException("stage cancelled")).foreach { cause =>
      intercept[InterruptedException] { CdcPipeline.tickGuard(throw writeFailure(cause)) }
    }
    // a write failure for any other reason is a real tick failure
    val diskFull = writeFailure(new java.io.IOException("No space left on device"))
    assert(intercept[org.apache.spark.SparkException] {
      CdcPipeline.tickGuard(throw diskFull)
    } eq diskFull)
    // a real tick failure must NOT be converted into a clean stop
    val realEx = new org.apache.spark.SparkException("FileNotFoundException: gone")
    assert(intercept[org.apache.spark.SparkException] {
      CdcPipeline.tickGuard(throw realEx)
    } eq realEx)
    // a cancellation NOT caused by query stop (out-of-band job-group
    // kill) propagates too — only the stop() shape is a clean exit
    val oob = new org.apache.spark.SparkException(
      "[SPARK_JOB_CANCELLED] Job 7 cancelled part of cancelled job group g")
    assert(intercept[org.apache.spark.SparkException] {
      CdcPipeline.tickGuard(throw oob)
    } eq oob)
    // cyclic cause chains terminate (depth-bounded walk)
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    a.initCause(b)
    b.initCause(a)
    assert(!CdcPipeline.isStopCancellation(a))
  }
}

/** Local disk under a non-default URI scheme — lets tests exercise
  * cross-scheme paths (s3-input-vs-hdfs-checkpoint shaped) offline. */
class GraftSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
