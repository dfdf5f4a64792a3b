package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{Canonical => C}

/** The cdc-lite pipeline as Structured Streaming (s_poll_pipeline).
  *
  * Reference behavior being reproduced (/root/reference/pkg/duckdb/
  * duckdb_cdc.go): a 1 s poll loop (91-99) copies the source DB for a
  * consistent read (100-113), computes a per-table checksum inside the
  * engine (161-215), compares it to the last stored checksum (188-197),
  * and on change captures the full table as SNAPSHOT envelopes to a JSONL
  * file (217-294), then appends the new checksum to a metadata store
  * (205-208).
  *
  * Spark-first mapping:
  *  - the poll loop        → a file-source stream over snapshot drops +
  *                           Trigger.ProcessingTime (micro-batch = tick);
  *  - the consistent copy  → parquet immutability (no copy needed);
  *  - the checksum         → one shuffle-free global aggregate per batch;
  *  - changed? + capture   → foreachBatch: compare vs metadata state, and
  *                           only then write envelopes;
  *  - the JSONL sink       → df.write.json (one file per partition — the
  *                           reference's same-second-overwrite bug B2
  *                           cannot happen);
  *  - the metadata store   → append-only parquet dir, read back with
  *                           max_by(checksum, ts) (R10).
  *
  * Delivery is at-least-once, like the reference (capture precedes the
  * checksum record, SURVEY.md §5.3 B5); the streaming checkpoint bounds
  * reprocessing to one batch.
  */
object CdcPipeline {

  /** True when the cause chain carries the job cancellation a
    * StreamingQuery.stop() inflicts on a tick that is mid-write
    * ("SPARK_JOB_CANCELLED ... was stopped"). Recognized structurally
    * because the raising thread can differ from the stream thread (async
    * write commit), in which case StreamExecution's own interruption
    * check misses it and a clean stop reads as a stream failure.
    *
    * stop() can also reach a task mid-write before the job is cancelled:
    * the writer sees the interrupt (or the task kill) as an I/O failure
    * and the job fails with TASK_WRITE_FAILED instead. An interrupt or
    * task kill UNDER a write failure is therefore a stop too; a write
    * failure with any other cause is a real failure. */
  private[streaming] def isStopCancellation(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    var underWriteFailure = false
    while (c != null && depth < 16) {
      c match {
        case se: org.apache.spark.SparkException
            if se.getMessage != null &&
              se.getMessage.contains("SPARK_JOB_CANCELLED") &&
              se.getMessage.contains("was stopped") => return true
        case se: org.apache.spark.SparkException
            if se.getMessage != null && se.getMessage.contains("TASK_WRITE_FAILED") =>
          underWriteFailure = true
        case _: InterruptedException | _: java.io.InterruptedIOException |
            _: java.nio.channels.ClosedByInterruptException |
            _: org.apache.spark.TaskKilledException if underWriteFailure => return true
        case _ =>
      }
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Run one foreachBatch tick; a stop()-inflicted cancellation mid-tick
    * re-throws as InterruptedException — which every Spark version's
    * interruption check recognizes — so the stream terminates as a CLEAN
    * stop WITHOUT committing the torn epoch. On restart the checkpoint
    * replays the epoch (for the consistent stream, against its pinned
    * listing — the crash path CdcPipelineSpec already proves). Swallowing
    * the error and returning normally would instead COMMIT a half-written
    * tick and lose that replay; propagating it as-is can fail stop()
    * itself (observed: the cancellation surfacing through an async write
    * future, unrecognized by the stream thread's interruption check). */
  private[streaming] def tickGuard(body: => Unit): Unit =
    try body
    catch {
      case t: Throwable if isStopCancellation(t) =>
        throw new InterruptedException(
          "tick aborted by query stop; epoch replays from its pin on restart")
    }

  final case class Config(
      inputDir: String,
      outputDir: String,
      metadataDir: String,
      checkpointDir: String,
      tableName: String,
      triggerMs: Long = 1000L,
      /** Cap on snapshot files discovered per trigger. Defaults to 1: one
        * snapshot drop = one micro-batch. With an uncapped trigger, two
        * drops landing together would be unioned into a single batch and
        * checksummed/captured as one doubled "table state" — a bogus
        * envelope set. A snapshot that spans multiple files must be
        * dropped atomically (one directory move) and needs a higher cap
        * set explicitly. */
      maxFilesPerTrigger: Option[Int] = Some(1),
      /** Snapshot drop format: "parquet" (default), "json" (JSONL), or
        * "csv" (with header). The checksum/envelope path is
        * format-agnostic — it works off the batch DataFrame's schema. */
      inputFormat: String = "parquet",
      /** Re-probe each drop's on-disk schema (the reference re-lists
        * columns every poll, duckdb_cdc.go:146-159): a drop that adds or
        * drops a column mid-stream is captured under its OWN schema
        * instead of being read through the stale stream schema — under
        * which an added column is invisible, so an identical-rows drop
        * would not even register as a change. For parquet this costs a
        * driver-side footer read per batch file and no Spark job (the
        * batch's file names ride along in the checksum aggregate); JSON
        * and CSV re-infer by scan. Only the `start` stream reprobes. */
      reprobeSchema: Boolean = true,
      /** "snapshot" (reference-faithful full re-capture) or "diff":
        * row-level INSERT/UPDATE/DELETE envelopes against the previous
        * captured state, keyed by `keyCols` — the batch q_cdc_diff
        * classification wired into the stream. Diff mode keeps keyed
        * state as (key, digest, json) parquet versions under metadataDir:
        * state comparison never carries payload columns, so schema drift
        * between consecutive snapshots diffs cleanly. */
      mode: String = "snapshot",
      /** Natural-key columns for diff mode (must be non-empty there). */
      keyCols: Seq[String] = Nil)

  /** Envelope projection (R17): one row per captured row, reference
    * envelope shape (FIXTURES.md §2). data_json uses to_json here — no
    * cross-engine oracle reads this surface, and to_json is codegen'd.
    * `ts` defaults to capture wall time (the reference's time.Now(),
    * duckdb_cdc.go:268); the consistent-tick path passes the PINNED tick
    * timestamp instead so a replayed epoch rewrites identical bytes. */
  def toEnvelope(df: DataFrame, tableName: String,
      ts: org.apache.spark.sql.Column = current_timestamp()): DataFrame =
    df.select(
      ts.as("timestamp"),
      lit(tableName).as("table"),
      lit("SNAPSHOT").as("operation"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("data"))

  /** The reference's digest (R11-R16) over an arbitrary batch: count +
    * order-independent sum of per-row digests, md5-combined. Pure
    * aggregate — one Spark job, O(1) result rows. Uses the lossless
    * canonicalization (rowDigestExact): this digest sees arbitrary user
    * tables, so doubles keep full precision — a sub-0.01 change is
    * detected and huge magnitudes can't overflow (the money-grid
    * DECIMAL(18,2) form is reserved for oracle-compared queries). */
  def batchChecksum(df: DataFrame): String =
    df.agg(rowCount, digestSum(df)).select(checksumOf).head().getString(0)

  private val rowCount = count(lit(1)).cast(StringType).as("cnt")
  private def digestSum(df: DataFrame): Column =
    coalesce(sum(C.rowDigestExact(df)), lit(0L)).cast(StringType).as("dig")
  private val checksumOf = md5(concat_ws(",", col("cnt"), col("dig"))).as("checksum")

  /** [[batchChecksum]] of a file-source batch, its row count, and the
    * files it was read from, in ONE aggregate job (the reprobe needs the
    * files; a separate distinct-files job would cost a job per tick).
    * input_file_name() is nondeterministic, which Spark rejects inside an
    * aggregate, so it is projected first; the digest still covers only
    * the batch's own columns, so the checksum equals batchChecksum's. */
  private def checksumWithFiles(batch: DataFrame): (String, Long, Seq[String]) = {
    val r = batch.withColumn("__graft_file", input_file_name())
      .agg(rowCount, digestSum(batch), collect_set(col("__graft_file")).as("files"))
      .select(checksumOf, col("cnt"), col("files"))
      .head()
    (r.getString(0), r.getString(1).toLong, r.getSeq[String](2).filter(_.nonEmpty))
  }

  /** Scale path for change detection: one digest per horizontal bucket
    * instead of one per table. The reference re-checksums the whole table
    * every tick (duckdb_cdc.go:175-183) — O(table) per tick forever. With
    * per-bucket digests, a re-check scans only buckets whose digest is
    * missing or stale, and capture re-emits only changed buckets:
    * O(changed data). `bucket` is any deterministic expression — a date
    * column for date-partitioned tables, a key range, or a hash bucket.
    * Same shuffle shape as the global digest (partial agg per input
    * partition, then one row per bucket crosses the exchange). */
  def partitionChecksums(df: DataFrame, bucket: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).cast(StringType).as("cnt"),
        sum(C.rowDigestExact(df)).cast(StringType).as("dig"))
      .select(col("bucket"),
        md5(concat_ws(",", col("cnt"), col("dig"))).as("checksum"))

  /** Buckets whose digest differs between two snapshots (added, removed,
    * or changed) — the capture set for an incremental re-snapshot. */
  def changedBuckets(prev: DataFrame, current: DataFrame): DataFrame = {
    val p = prev.select(col("bucket").as("p_bucket"), col("checksum").as("prev_checksum"))
    val c = current.select(col("bucket").as("c_bucket"), col("checksum").as("cur_checksum"))
    // Null-safe join key: a NULL bucket (e.g. rows with a null partition
    // column) must match itself, or it would be reported ADDED+REMOVED on
    // every comparison even when unchanged.
    p.join(c, col("p_bucket") <=> col("c_bucket"), "full_outer")
      .filter(col("prev_checksum").isNull || col("cur_checksum").isNull ||
        col("prev_checksum") =!= col("cur_checksum"))
      .select(coalesce(col("p_bucket"), col("c_bucket")).as("bucket"),
        when(col("prev_checksum").isNull, "ADDED")
          .when(col("cur_checksum").isNull, "REMOVED")
          .otherwise("CHANGED").as("status"))
  }

  /** Checksum history lives in a hive-style per-table subdirectory —
    * concurrent per-table monitors (startAll) never share an output path
    * (two appending jobs on one dir race on the shared _temporary commit
    * dir), and a read of the metadata root still reconstructs table_name
    * via partition discovery. */
  private def tableMetaDir(metadataDir: String, table: String): String =
    s"$metadataDir/table_name=$table"

  /** A committed file: not a hidden or commit-protocol file. */
  private def isCommitted(s: org.apache.hadoop.fs.FileStatus): Boolean = s.isFile && {
    val n = s.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** A committed ledger file as (name, length, modification time). */
  private type LedgerFile = (String, Long, Long)

  /** The committed part files of a table's ledger dir, or None when the
    * dir does not exist. Existence via the Hadoop FileSystem of the path —
    * java.nio would be driver-local only and always-false for s3a://,
    * hdfs://, etc., silently turning every tick into a full re-capture. */
  private def ledgerFiles(spark: SparkSession, dir: String): Option[Set[LedgerFile]] = {
    val hPath = new Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) None
    else Some(fs.listStatus(hPath).iterator.filter(isCommitted)
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet)
  }

  /** Latest stored checksum for a table, or None on bootstrap (mirrors the
    * reference's sql.ErrNoRows branch, duckdb_cdc.go:196-197). Always
    * reads disk. The pipeline's own ticks read the ledger through a memo
    * of the head this JVM last read or wrote, trusted only while the
    * ledger's committed-file listing is unchanged (see [[ledgerView]]). */
  def lastChecksum(spark: SparkSession, metadataDir: String, table: String): Option[String] = {
    val dir = tableMetaDir(metadataDir, table)
    // A crash (or stop) can interrupt recordChecksum mid-write, leaving the
    // dir holding only _temporary — zero committed part files. Reading that
    // throws UNABLE_TO_INFER_SCHEMA and would kill every restart tick, so
    // treat it as "no checksum recorded": capture-then-record ordering plus
    // per-batch overwrite + pinned tick timestamps make the re-capture that
    // follows byte-identical idempotence, exactly the crash-replay contract.
    if (ledgerFiles(spark, dir).forall(_.isEmpty)) None
    else readLedger(spark, dir).map(_._1)
  }

  /** The head row of a ledger dir holding committed files:
    * (max_by(checksum, ts), max(ts) in epoch millis). */
  private def readLedger(spark: SparkSession, dir: String): Option[(String, Long)] = {
    val meta = spark.read.parquet(dir)
    if (meta.isEmpty) None
    else meta.agg(max_by(col("checksum"), col("ts")).as("checksum"),
        unix_millis(max(col("ts"))))
      .head() match {
        case r if r.isNullAt(0) => None
        case r                  => Some((r.getString(0), r.getLong(1)))
      }
  }

  /** A ledger as a tick saw it: its committed files (None: no dir yet)
    * and their head row (checksum, ts millis). */
  private final case class LedgerView(files: Option[Set[LedgerFile]],
      head: Option[(String, Long)])

  /** Per table ledger dir, the view this JVM last read or wrote. */
  private val ledgerMemo = new ConcurrentHashMap[String, LedgerView]()

  /** The ledger's current view. The listing is taken on every call; the
    * memo answers only when it matches exactly, so a restart, another
    * writer or a replaced file falls back to the disk read. */
  private def ledgerView(spark: SparkSession, metadataDir: String, table: String): LedgerView = {
    val dir = tableMetaDir(metadataDir, table)
    val files = ledgerFiles(spark, dir)
    if (files.forall(_.isEmpty)) LedgerView(files, None)
    else Option(ledgerMemo.get(dir)).filter(_.files == files).getOrElse {
      val view = LedgerView(files, readLedger(spark, dir))
      ledgerMemo.put(dir, view)
      view
    }
  }

  /** Append `checksum` to the ledger `seen` at the start of the tick. The
    * memo advances only when this append's file is the only change since
    * and its row is the new head (no row is later); otherwise — another
    * writer appended meanwhile, or a row's clock ran ahead — it is
    * dropped and the next tick reads disk. */
  private def recordChecksum(spark: SparkSession, metadataDir: String, table: String,
      checksum: String, seen: LedgerView): Unit = {
    import spark.implicits._
    val dir = tableMetaDir(metadataDir, table)
    val now = System.currentTimeMillis()
    Seq((checksum, new java.sql.Timestamp(now)))
      .toDF("checksum", "ts")
      .write.mode("append").parquet(dir)
    val prior = seen.files.getOrElse(Set.empty)
    val after = ledgerFiles(spark, dir)
    if (after.exists(a => prior.subsetOf(a) && a.size == prior.size + 1) &&
      seen.head.forall(_._2 <= now))
      ledgerMemo.put(dir, LedgerView(after, Some((checksum, now))))
    else ledgerMemo.remove(dir)
  }

  /** Diff-mode state: one row per key — the key columns, a full-width
    * (128-bit) lossless row digest, and the row's JSON rendering.
    * Comparing (and storing) only this projection means the diff join
    * carries no payload columns and two snapshots with different schemas
    * still diff row-by-row (an added column changes the digest → UPDATE,
    * exactly the reference-probe semantics applied per row).
    *
    * Rows are PRE-AGGREGATED per key: a snapshot with duplicate natural
    * keys (dirty upstream, wrong keyCols) is treated as one logical key
    * whose digest covers the sorted multiset of its row digests —
    * identical consecutive snapshots diff to nothing instead of fanning
    * out through the full-outer join into spurious UPDATE envelopes
    * every tick. The groupBy shuffles on the same key the diff join
    * needs, so the exchange is reused, not added. */
  private def keyedState(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(
      keys.map(col) ++ Seq(
        C.rowMd5Exact(df).as("__rd"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("__rj")): _*)
      .groupBy(keys.map(col): _*)
      .agg(md5(concat_ws(",", sort_array(collect_list(col("__rd"))))).as("__digest"),
        min(col("__rj")).as("__json"))

  private def diffStateDir(cfg: Config): String =
    s"${cfg.metadataDir}/state/table_name=${cfg.tableName}"

  private val VersionDir = "v=(\\d+)".r

  /** Newest committed diff-state version below `below`, or None on
    * bootstrap. Versions are `v=<n>` subdirectories: a crash between
    * envelope write and state write leaves the old version intact
    * (at-least-once, like the snapshot path), and re-running a version
    * overwrites idempotently. A version holding zero committed part files
    * (a crash mid-state-write left only `_temporary`) is NOT a version:
    * reporting it would make the next run read it as `prev` and die on
    * UNABLE_TO_INFER_SCHEMA — the same torn-write wedge lastChecksum
    * guards against. Skipping it makes the next run re-diff against the
    * last intact state and overwrite the debris when its number comes up
    * again. One listing of the version names, then committed-ness probed
    * from the newest down: a listing or two per tick however many
    * versions have accreted. */
  private def latestVersion(spark: SparkSession, dir: String,
      below: Long = Long.MaxValue): Option[Long] = {
    val hPath = new Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return None
    fs.listStatus(hPath).iterator.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case VersionDir(n) => n.toLong }
      .filter(_ < below).toSeq.sorted.reverseIterator
      .find(v => fs.listStatus(new Path(hPath, s"v=$v")).exists(isCommitted))
  }

  /** Per diff-state dir: the newest version this JVM wrote and its
    * schema, so reading it back as the next tick's `prev` needs no
    * schema-inference job. One entry per dir. */
  private val stateSchemas = new ConcurrentHashMap[String, (Long, StructType)]()

  /** State version `v` of `dir`; under the recorded schema when this JVM
    * wrote that version (the file source reads it back as nullable, as
    * inference would), else inferred — e.g. after a restart. */
  private def readState(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val reader = spark.read
    Option(stateSchemas.get(dir)).collect { case (`v`, schema) => schema }
      .foreach(reader.schema)
    reader.parquet(s"$dir/v=$v")
  }

  /** Row-level INSERT/UPDATE/DELETE envelopes between two keyed states —
    * the q_cdc_diff classification (ops/Cdc.scala) over the generic
    * (key, digest, json) projection: a key-partitioned full-outer join,
    * presence tested on the join keys, change on the digest. DELETE
    * carries the old row's JSON (there is no new row to render). */
  def diffEnvelopes(prev: DataFrame, cur: DataFrame, keys: Seq[String],
      tableName: String,
      ts: org.apache.spark.sql.Column = current_timestamp()): DataFrame = {
    val p = prev.select(
      keys.map(k => col(k).as(s"__p_$k")) ++ Seq(
        col("__digest").as("__p_digest"), col("__json").as("__p_json")): _*)
    val c = cur.select(
      keys.map(k => col(k).as(s"__c_$k")) ++ Seq(
        col("__digest").as("__c_digest"), col("__json").as("__c_json")): _*)
    // null-safe key equality: a NULL key component must match itself or
    // that row would surface as DELETE+INSERT on every unchanged batch
    val on = keys.map(k => col(s"__p_$k") <=> col(s"__c_$k")).reduce(_ && _)
    val pPresent = col("__p_digest").isNotNull
    val cPresent = col("__c_digest").isNotNull
    p.join(c, on, "full_outer")
      .filter(!pPresent || !cPresent || col("__p_digest") =!= col("__c_digest"))
      .select(
        ts.as("timestamp"),
        lit(tableName).as("table"),
        when(!pPresent, "INSERT").when(!cPresent, "DELETE")
          .otherwise("UPDATE").as("operation"),
        coalesce(col("__c_json"), col("__p_json")).as("data"))
  }

  /** One poll tick over an already-materialized batch: detect + capture +
    * record. The stream runs the same detect + capture + record path,
    * with the checksum taken by its reprobe; batch tests and backfills
    * call this directly and never reprobe. Returns true if a change was
    * captured.
    *
    * `captureEmpty`: an empty batch is ambiguous in the streaming path
    * (a spurious empty micro-batch vs an actually-empty snapshot), so the
    * stream skips them; direct callers (one-shot mode, backfills) pass
    * true so a truncated table is captured as a 0-row snapshot with its
    * checksum recorded — matching the reference, which checksums and
    * captures empty tables too (duckdb_cdc.go:175-183, 217-258). */
  def processBatch(spark: SparkSession, batch: DataFrame, cfg: Config,
      captureEmpty: Boolean = false, batchId: Option[Long] = None,
      epoch: Option[Long] = None,
      captureTs: Option[java.sql.Timestamp] = None): Boolean = {
    if (!captureEmpty && batch.isEmpty) return false
    capture(spark, batch, batchChecksum(batch), cfg, batchId, epoch, captureTs)
  }

  /** Detect + capture + record for a batch whose checksum is `current`. */
  private def capture(spark: SparkSession, batch: DataFrame, current: String,
      cfg: Config, batchId: Option[Long], epoch: Option[Long],
      captureTs: Option[java.sql.Timestamp]): Boolean = {
    val ledger = ledgerView(spark, cfg.metadataDir, cfg.tableName)
    if (ledger.head.exists(_._1 == current)) return false
    val tsCol = captureTs.map(t => lit(t)).getOrElse(current_timestamp())
    // Capture-then-record, the reference's ordering (B5). With a batchId
    // (streaming path) the capture lands in a per-batch dir written with
    // overwrite — re-running a batch after a crash replaces rather than
    // duplicates its output, upgrading the reference's at-least-once
    // floor to idempotent capture. (The reference instead TRUNCATES on
    // same-second filenames — bug B2.)
    def writeEnvelopes(envelopes: DataFrame): Unit = {
      // Consistent-tick mode stamps every envelope with the shared tick
      // epoch — the join key that lets a consumer line up captures of
      // DIFFERENT tables taken against the same listing snapshot.
      val writer = epoch.fold(envelopes)(e =>
        envelopes.withColumn("snapshot_epoch", lit(e))).write
      batchId match {
        case Some(id) => writer.mode("overwrite").json(s"${cfg.outputDir}/batch=$id")
        case None     => writer.mode("append").json(cfg.outputDir)
      }
    }
    if (cfg.mode == "diff") {
      require(cfg.keyCols.nonEmpty, "diff mode requires keyCols")
      val dir = diffStateDir(cfg)
      // state version = batchId; a crashed run that wrote v=id but not
      // its checksum re-diffs against the version BELOW id, so the
      // re-run reproduces (not empties) the envelope set
      val prevVersion = latestVersion(spark, dir, below = batchId.getOrElse(Long.MaxValue))
      val v = batchId.getOrElse(prevVersion.fold(0L)(_ + 1))
      // the envelope diff and the state write both read `cur`: computed
      // once (scan, digests, JSON, shuffle), not once per write
      val cur = keyedState(batch, cfg.keyCols).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val prev = prevVersion match {
          case Some(pv) => readState(spark, dir, pv)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cur.schema)
        }
        // envelopes BEFORE the state advance: a crash between the two
        // re-runs the diff against the old state
        writeEnvelopes(diffEnvelopes(prev, cur, cfg.keyCols, cfg.tableName, tsCol))
        cur.write.mode("overwrite").parquet(s"$dir/v=$v")
        stateSchemas.put(dir, (v, cur.schema))
      } finally cur.unpersist()
    } else writeEnvelopes(toEnvelope(batch, cfg.tableName, tsCol))
    recordChecksum(spark, cfg.metadataDir, cfg.tableName, current, ledger)
    true
  }

  /** Multi-table fan-out (R22, duckdb_cdc.go:116-120): the reference
    * checks tables sequentially inside one tick; here each table is its
    * own concurrent streaming query with its own checkpoint — per-table
    * failure isolation and parallelism for free.
    *
    * CAVEAT: independent streams give NO cross-table consistency — two
    * tables changed by one upstream transaction can be captured in
    * different micro-batches with different timestamps, so a consumer
    * joining the envelope streams can observe a state that never
    * existed. When that matters, use [[startConsistent]]. */
  def startAll(spark: SparkSession, tables: Seq[(Config, StructType)]): Seq[StreamingQuery] =
    tables.map { case (cfg, schema) => start(spark, cfg, schema) }

  // ---------------------------------------------------------------------
  // Consistent multi-table ticks (the reference's single-per-tick-copy
  // semantics, duckdb_cdc.go:100-120: ONE copyFile, then every monitored
  // table checked against that same temp DB)
  // ---------------------------------------------------------------------

  /** The newest snapshot drop in `dir` (max (modification time, name) —
    * drop order, with a deterministic tie-break; hidden/commit files
    * excluded), or None before the first drop. The consistent tick polls
    * CURRENT table state — like the reference, which re-reads whatever
    * the source DB holds each tick — so intermediate drops superseded
    * within one tick are simply skipped. */
  private[streaming] def latestSnapshot(spark: SparkSession, dir: String): Option[String] = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return None
    fs.listStatus(hPath).toSeq
      .filter(_.isFile)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .maxByOption(s => (s.getModificationTime, s.getPath.getName))
      .map(_.getPath.toString)
  }

  /** ONE consistent tick over every monitored table: list ALL tables'
    * newest snapshots first (the single "listing snapshot" — the analog
    * of the reference's one per-tick file copy), then detect + capture
    * each against that frozen listing, stamping every envelope with the
    * shared `epoch`. Two tables changed by one upstream transaction and
    * dropped together are therefore captured under ONE epoch — a consumer
    * joining envelope streams on snapshot_epoch observes only states that
    * actually existed. Returns per-table changed flags (listing order).
    *
    * `listingDir` (the streaming path sets it) PINS each epoch's listing
    * AND tick timestamp on first delivery: a tick replayed after a crash
    * re-reads the pinned file set instead of re-listing, so a drop that
    * landed between the crash and the restart cannot be captured under
    * the old epoch — without the pin, a replayed epoch would overwrite
    * its committed captures with the NEWER state while other tables'
    * same-epoch captures keep the older one, breaking exactly the
    * cross-table consistency the epoch exists to provide. The pinned
    * timestamp makes the replayed capture byte-identical (overwrite is
    * true idempotence, not just same-data-new-timestamps). One tiny file
    * per epoch; Maintenance.prunePins(listingDir, lastCommittedBatch)
    * reclaims pins that can no longer replay.
    *
    * Unchanged tables cost one checksum scan and capture nothing — the
    * reference's exact per-tick behavior (duckdb_cdc.go:175-197). Empty
    * drops ARE captured (a listed snapshot is a real table state). */
  def pollTickAll(spark: SparkSession, tables: Seq[Config], epoch: Long,
      listingDir: Option[String] = None): Seq[Boolean] = {
    val fresh: Seq[(Config, Option[String])] =
      tables.map(cfg => cfg -> latestSnapshot(spark, cfg.inputDir))
    val (listing, tickTs): (Seq[(Config, Option[String])], Long) = listingDir match {
      case None => (fresh, System.currentTimeMillis())
      case Some(dir) =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val pin = new org.apache.hadoop.fs.Path(s"$dir/epoch-$epoch")
        if (fs.exists(pin)) {
          // replayed epoch: process the PINNED listing + timestamp, not
          // current state — the rewrite is byte-identical to the original
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(fs.open(pin), "UTF-8"))
          val lines =
            try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
            finally in.close()
          val ts = lines.headOption
            .collect { case l if l.startsWith("#ts\t") => l.drop(4).toLong }
            .getOrElse(System.currentTimeMillis())
          val byTable = lines.map(_.split("\t", 2))
            .collect { case Array(t, f) if t != "#ts" => t -> f }.toMap
          // a pinned snapshot deleted between crash and restart (retention
          // ran ahead of the checkpoint) would otherwise throw on every
          // replay attempt and wedge the stream on this epoch forever.
          // Treat a vanished file as no-capture for that table: the NEXT
          // tick's fresh listing re-captures its current state.
          val pinned = tables.map { cfg =>
            val f = byTable.get(cfg.tableName).filter { p =>
              // resolve the FS from the snapshot path itself, not the
              // listing dir: pinned inputs and the checkpoint can live on
              // different schemes (s3 inputs + hdfs listing dir), and
              // fs.exists on a foreign-scheme Path throws Wrong FS —
              // which would re-wedge the replay this check un-wedges.
              val sp = new org.apache.hadoop.fs.Path(p)
              val ok = sp
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(sp)
              if (!ok) System.err.println(
                s"[cdc] epoch $epoch replay: pinned snapshot $p for " +
                  s"${cfg.tableName} vanished; skipping capture for this epoch")
              ok
            }
            cfg -> f
          }
          (pinned, ts)
        } else {
          val now = System.currentTimeMillis()
          // write-then-rename: a crash mid-write must not leave a partial
          // pin — a replay would silently trust a TRUNCATED listing and
          // skip the missing tables for that epoch. The .tmp is invisible
          // to the replay branch; rename is atomic on local/HDFS.
          val tmp = new org.apache.hadoop.fs.Path(s"$dir/.epoch-$epoch.tmp")
          val out = fs.create(tmp, true)
          try {
            out.write(s"#ts\t$now\n".getBytes("UTF-8"))
            fresh.foreach { case (cfg, f) =>
              f.foreach(p => out.write(s"${cfg.tableName}\t$p\n".getBytes("UTF-8")))
            }
          } finally out.close()
          require(fs.rename(tmp, pin), s"pin rename $tmp -> $pin failed")
          (fresh, now)
        }
    }
    // Per-table capture legs run CONCURRENTLY: each touches only its own
    // metadata/output/state dirs (processBatch has no cross-table state),
    // and Spark schedules concurrent driver-side jobs fine — so the
    // consistent tick's latency is the MAX of the per-table costs, not
    // the SUM. Measured (StreamBench fanout, 6 tables, sf0.1): the
    // sequential loop grew tick p50 761 → 2,455 ms at 6 tables; the
    // epoch/listing semantics are untouched because the shared listing
    // and pin are taken BEFORE any capture starts. Bounded pool: table
    // count is config-sized, but don't let a 100-table deployment open
    // 100 concurrent jobs.
    if (listing.size <= 1) listing.map {
      case (_, None) => false
      case (cfg, Some(file)) => tickTable(spark, cfg, file, epoch, tickTs)
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(listing.size, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // BOUNDED await + cancel-on-failure (round-16 advice): Duration.Inf
      // meant one hung table leg stalled the tick (and the stream) forever
      // with no diagnostic, and after a first failure the sibling futures
      // kept writing captures into an epoch that had already thrown. Now:
      // a generous per-tick ceiling (10 min — two orders past the rated
      // p50 of 492 ms at 6 tables) turns a hang into a named TimeoutException,
      // and the first failure cancels the still-queued legs via
      // shutdownNow + Spark job-group interrupt. Epoch-overwrite
      // idempotence already makes the replay of a half-written tick safe.
      val group = s"cdc-tick-$epoch"
      spark.sparkContext.setJobGroup(group, "consistent CDC tick",
        interruptOnCancel = true)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(listing.map {
          case (_, None) => scala.concurrent.Future.successful(false)
          case (cfg, Some(file)) => scala.concurrent.Future {
            SparkSession.setActiveSession(spark)
            spark.sparkContext.setJobGroup(group, "consistent CDC tick",
              interruptOnCancel = true)
            tickTable(spark, cfg, file, epoch, tickTs)
          }
        }), scala.concurrent.duration.Duration(10, "min"))
      catch {
        case e: Throwable =>
          pool.shutdownNow() // drop queued legs; running ones get...
          spark.sparkContext.cancelJobGroup(group) // ...their jobs killed
          throw e
      } finally {
        spark.sparkContext.clearJobGroup()
        pool.shutdown()
      }
    }
  }

  /** One table's leg of a consistent tick: read its pinned snapshot and
    * run the detect+capture path under the shared epoch/timestamp. */
  private def tickTable(spark: SparkSession, cfg: Config, file: String,
      epoch: Long, tickTs: Long): Boolean = {
    val reader = spark.read
    if (cfg.inputFormat == "csv")
      reader.option("header", "true").option("inferSchema", "true")
    val batch = reader.format(cfg.inputFormat).load(file)
    processBatch(spark, batch, cfg, captureEmpty = true,
      batchId = Some(epoch), epoch = Some(epoch),
      captureTs = Some(new java.sql.Timestamp(tickTs)))
  }

  /** Streaming driver for [[pollTickAll]]: a rate ticker fires one
    * micro-batch per trigger and the batch id IS the epoch — checkpointed,
    * so epochs survive restart and a replayed tick overwrites its own
    * `batch=<epoch>` capture dirs idempotently rather than duplicating.
    * This is the reference's poll loop with the copy step replaced by an
    * atomic listing (parquet drops are immutable; the listing pins WHICH
    * state every table is checked against). */
  /** `maintainEveryEpochs > 0` arms the POST-EPOCH MAINTENANCE HOOK:
    * every N committed epochs — from inside the stream's own
    * foreachBatch, so maintenance can never race a tick — diff-mode
    * state is pruned to `keepStateVersions` (Maintenance.pruneVersions),
    * the surviving latest version leaf is bin-packed
    * (Maintenance.compact — digest-identical, so the next diff reads
    * the same keyed state from fewer files), and listing pins below the
    * committed epoch floor are dropped (Maintenance.prunePins; epochs
    * below the current batch id are committed and can never replay).
    * With the hook disarmed (default) only the legacy every-60-epochs
    * pin prune runs. This is what months of unattended running needs:
    * state versions, small files, and pins all accrete per tick, and a
    * sink nobody compacts is a sink that dies by file-open overhead at
    * 100 TB. */
  def startConsistent(spark: SparkSession, tables: Seq[Config],
      checkpointDir: String, triggerMs: Long = 1000L,
      maintainEveryEpochs: Long = 0L,
      keepStateVersions: Int = 8): StreamingQuery = {
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, id: Long) => tickGuard {
        // listings pinned next to the checkpoint: epoch stability across
        // crash-replay comes from re-reading the pinned file set
        val listingDir = s"$checkpointDir-listing"
        // recover any compact swap a crash/stop interrupted BEFORE this
        // tick reads diff state — else the replay silently diffs against
        // an older version (the v=N dir is at its __compact_old debris
        // path during the two-rename window). UNCONDITIONAL: debris
        // existence, not the current maintenance setting, is what
        // matters — a pipeline that crashed mid-swap under maintenance
        // and restarted with maintenance disabled must still recover
        // (the sweep is one cheap listStatus when there is no debris).
        tables.filter(_.mode == "diff").foreach { cfg =>
          graft.core.Maintenance.recoverAllSwapDebris(spark, diffStateDir(cfg))
        }
        pollTickAll(spark, tables, epoch = id, listingDir = Some(listingDir))
        if (maintainEveryEpochs > 0 && id > 0 && id % maintainEveryEpochs == 0) {
          tables.filter(_.mode == "diff").foreach { cfg =>
            val sd = diffStateDir(cfg)
            graft.core.Maintenance.pruneVersions(spark, sd, keepStateVersions)
            latestVersion(spark, sd).foreach { v =>
              graft.core.Maintenance.compact(spark, s"$sd/v=$v")
            }
          }
          graft.core.Maintenance.prunePins(spark, listingDir, keepFrom = id)
        } else if (id > 0 && id % 60 == 0) {
          // hook disarmed: one pin per tick (default 1 s) still accretes
          // unboundedly over long runs — prune every 60 epochs to
          // amortize the listing cost.
          graft.core.Maintenance.prunePins(spark, listingDir, keepFrom = id)
        }
        ()
      } }
      .start()
  }

  /** The reference's per-tick column probe (duckdb_cdc.go:146-159) in
    * Spark form: re-read THIS batch's files under their actual on-disk
    * schema whenever the column set differs from the stream's fixed
    * schema. Column-set comparison (not full schema equality) keeps the
    * stable stream view when only inference noise differs — the canonical
    * digest is schema-order-driven, so swapping views without a real
    * drift would flap the checksum. Returns the batch to capture, its
    * checksum and its row count.
    *
    * batch.inputFiles is empty on a micro-batch frame, so the batch's
    * files come from input_file_name(), collected by the checksum job
    * itself. Parquet files' column names are read from their footers on
    * the driver (no Spark job); only when one differs does the probe pay
    * for an inferred re-read and a re-checksum of it. JSON and CSV have
    * no footer and always re-infer. */
  private def reprobed(batch: DataFrame, cfg: Config): (DataFrame, String, Long) = {
    val (checksum, rows, files) = checksumWithFiles(batch)
    val names = batch.schema.fieldNames.toSet
    val spark = batch.sparkSession
    if (!cfg.reprobeSchema || files.isEmpty ||
      (cfg.inputFormat == "parquet" && files.forall(footerColumns(spark, _) == names)))
      return (batch, checksum, rows)
    val reader = spark.read
    if (cfg.inputFormat == "csv")
      reader.option("header", "true").option("inferSchema", "true")
    val actual = reader.format(cfg.inputFormat).load(files: _*)
    if (actual.schema.fieldNames.toSet == names) (batch, checksum, rows)
    else (actual, batchChecksum(actual), rows)
  }

  /** Top-level column names in a parquet file's footer. */
  private def footerColumns(spark: SparkSession, file: String): Set[String] = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(new java.net.URI(file)), spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    finally in.close()
  }

  /** Start the monitoring stream: snapshot drops under inputDir/ are
    * discovered per trigger (the reference's ticker, R21), reprobed, and
    * run through processBatch's detect + capture + record path. */
  def start(spark: SparkSession, cfg: Config, schema: StructType): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    cfg.maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    if (cfg.inputFormat == "csv") reader.option("header", "true")
    reader.format(cfg.inputFormat).load(cfg.inputDir)
      .writeStream
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) => tickGuard {
        val (b, current, rows) = reprobed(batch, cfg)
        // Diff mode processes empty batches: a file-source batch exists
        // only for discovered files, so an empty one IS a truncated
        // snapshot, and skipping it would permanently swallow the DELETE
        // envelopes (state would still hold every row). Snapshot mode
        // keeps the conservative skip — a missed empty capture there
        // costs one redundant re-capture later, not correctness.
        if (cfg.mode == "diff" || rows > 0)
          capture(b.sparkSession, b, current, cfg, batchId = Some(id),
            epoch = None, captureTs = None)
        ()
      } }
      .start()
  }
}
