package graft.streaming

/** Machine-readable registry of the streaming surface (round-16 verdict
  * ask #2: the hand-maintained SURVEY streaming table had drifted from
  * source — stale file:line refs, ten rows with no line at all — exactly
  * the documentation-integrity class InventorySpec killed for batch).
  *
  * The SURVEY.md streaming table is GENERATED from this list by
  * `scripts/gen_ledger.py` (which resolves each `member` to a file:line
  * site by scanning for its top-level `def`/`class` declaration), and
  * InventorySpec re-derives the same resolution in Scala and fails the
  * build when the table, this registry, and the source disagree.
  *
  * One entry per pipeline. `file` is relative to src/main/scala/graft;
  * `member` must match exactly one top-level declaration in that file
  * (`def`/`class`/`object`/`val`, optionally `final`) — the generator
  * and the spec both error on zero or multiple matches, so renames
  * surface as build failures, not silent drift. The `note` column is
  * documentation only; key/file/member are the load-bearing fields.
  */
object StreamInventory {
  final case class Entry(key: String, file: String, member: String, note: String)

  // format: off
  val pipelines: Seq[Entry] = Seq(
    Entry("s_poll_pipeline", "streaming/CdcPipeline.scala", "start", "drop→checksum→envelope→JSONL CDC poll loop (R5/R19/R21); consistent multi-table ticks via pollTickAll (R22)"),
    Entry("s_session_window", "streaming/Stateful.scala", "sessionCounts", "native session_window aggregation, 30-min gap per user"),
    Entry("s_stateful_checksum", "streaming/Stateful.scala", "changeSignals", "per-table checksum change detector (R18)"),
    Entry("s_stream_admission", "streaming/Stateful.scala", "admissionStream", "refresh-aware exact-dedup admission gate vs the frozen dedup base"),
    Entry("s_stream_anomaly", "streaming/Stateful.scala", "anomalyGate", "per-hour rate anomaly gate vs the frozen hourly census"),
    Entry("s_stream_attribution", "streaming/Stateful.scala", "attributionGate", "at-ingest first/last-touch verdicts, bit-parity with q_attribution"),
    Entry("s_stream_audio", "ops/Multimodal.scala", "audioWindowsOn", "audio windowing over a stream (shared kernel with q_audio_windows)"),
    Entry("s_stream_bpe", "streaming/Stateful.scala", "bpeGate", "BPE tokenization at ingest against the frozen merge table"),
    Entry("s_stream_components", "streaming/Stateful.scala", "componentsStream", "incremental connected-components overlay state"),
    Entry("s_stream_concurrency", "streaming/Stateful.scala", "concurrencyEvents", "live session-boundary +1/−1 events, two longs per user"),
    Entry("s_stream_containment", "streaming/Stateful.scala", "containmentStream", "engulfment verdicts vs the frozen containment base; mid-stream delta-refresh re-pointing"),
    Entry("s_stream_decontam", "streaming/Stateful.scala", "decontamGate", "frozen-model embedding-decontamination leak gate"),
    Entry("s_stream_dedup", "streaming/Stateful.scala", "dedupedStream", "dropDuplicatesWithinWatermark admission gate on event_id"),
    Entry("s_stream_frames", "ops/Multimodal.scala", "frameExtractOn", "frame extraction over a stream (shared kernel with q_frame_extract)"),
    Entry("s_stream_importance", "streaming/Stateful.scala", "importanceGate", "importance-weight admission gate"),
    Entry("s_stream_index", "streaming/Stateful.scala", "indexStatsStream", "per-token index stats at ingest"),
    Entry("s_stream_ivf_assign", "streaming/Stateful.scala", "ivfAssignStream", "frozen-centroid IVF cell assignment at ingest"),
    Entry("s_stream_join", "streaming/Stateful.scala", "streamStreamJoin", "stream-stream equi join with watermark-bounded state"),
    Entry("s_stream_leak_gate", "streaming/Stateful.scala", "leakGate", "train/test leak gate vs frozen split boundaries"),
    Entry("s_stream_lm", "streaming/Stateful.scala", "lmGate", "bigram-LM perplexity admission gate"),
    Entry("s_stream_neardup", "streaming/Stateful.scala", "nearDupCandidates", "MinHash band candidates at ingest (+ streaming/NearDup.scala end-to-end pipeline)"),
    Entry("s_stream_novelty", "streaming/Stateful.scala", "noveltyStream", "content-freshness gate vs the frozen novelty base ⊕ live slice"),
    Entry("s_stream_ohlc", "streaming/Stateful.scala", "ohlcBars", "live watermarked candlesticks, declarative min_by/max_by state"),
    Entry("s_stream_pack", "streaming/Stateful.scala", "packStream", "sequence packing with O(shards) cursor state, order-enforced"),
    Entry("s_stream_quality", "streaming/Stateful.scala", "qualityGate", "quality-score admission gate"),
    Entry("s_stream_semdedup", "streaming/Stateful.scala", "semDedupCandidates", "IVF-cell semantic near-dup signals at ingest"),
    Entry("s_stream_substring", "streaming/Stateful.scala", "substringDupCandidates", "span-hash substring-dup candidates at ingest"),
    Entry("s_stream_tiles", "ops/Multimodal.scala", "imageTilesOn", "image tiling over a stream (shared kernel with q_image_tiles)"),
    Entry("s_stream_topk", "streaming/Stateful.scala", "runningTokenCounts", "running token counts, one keyed long per token"),
    Entry("s_stream_triangles", "streaming/Stateful.scala", "triangleStream", "live triangle-impact census: overlay state over the frozen tri-base, q_triangles_delta's merge algebra + frac=4 flood routing to the bounded recount"),
    Entry("s_stream_twap", "streaming/Stateful.scala", "twapGate", "running LOCF TWAP integral, five longs of state per user"),
    Entry("s_stream_watermark", "streaming/Stateful.scala", "watermarkStream", "per-batch lateness census, O(1) carried high-water mark"),
    Entry("s_watermark_late", "streaming/Stateful.scala", "watermarkedCounts", "watermarked windowed counts with late-row discipline")
  )
  // format: on
}
