package graft.model

import java.sql.Timestamp

/** Core data-plane row types of the pipeline.
  *
  * The input shape follows the transcript table contract
  * (conv_id, turn_idx, role, text, tool, ts); the reference's analogous
  * row type is `LogEntry` (reference: internal/models/log_batch.go:5-10),
  * with `conv_id` playing the role of `CustomerID` (tenant key) and `ts`
  * the role of `ReceivedAt` (event time).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** A parsed + enriched turn after the grok/normalize stage.
  * Reference analog: the normalized `LogEntry` plus the derived dimensions
  * the summarizer computes (normalized path key, UA family)
  * (reference: internal/ingestors/batch_summarizer.go:51-57).
  */
final case class ParsedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    window_start: Timestamp,
    tool_invoked: String,
    tool_arg: String,
    error_code: String,
    has_error: Boolean,
    word_count: Int,
    char_count: Int
)

/** Final windowed aggregate row, exploded relational layout
  * (one row per (conv, window, dim, key)).
  * Reference analog: `WindowAggregateResult`
  * (reference: internal/models/window_aggregate_result.go:5-11) with its two
  * `map[string]int64` count maps kept exploded for columnar efficiency;
  * the map-valued form is reconstructed only at the sink boundary.
  */
final case class WindowAggregate(
    conv_id: String,
    window_start: Timestamp,
    window_size: String,
    dim: String,
    key: String,
    cnt: Long
)

/** Pipeline configuration (reference analog: configs/configs.yml +
  * internal/shared/configs/config.go:4-33 validation).
  */
final case class PipelineConfig(
    windowSize: String = "minute", // "minute" | "hour"
    saltBuckets: Int = 16,
    maxTextLen: Int = 8192,
    shufflePartitions: Int = 32,
    // Row-level dedup costs one full-data shuffle; disable when the source
    // guarantees uniqueness (replay protection still holds at window
    // granularity via the checkpoint manifest).
    dedup: Boolean = true,
    // Manifest lineage entries kept before folding old windows into the
    // watermark (bounds manifest size AND resume-filter plan size; windows
    // at or below the watermark are closed — late rows for them are dropped
    // and counted in the rows_late_dropped metric, a conditional count on
    // the ingest Observation BEFORE the scope filter in PipelineJob).
    maxLineageWindows: Int = 4096
) {
  require(
    windowSize == "minute" || windowSize == "hour",
    s"invalid window size: $windowSize" // reference: internal/models/window_size.go:15-24
  )
  require(saltBuckets > 0, "saltBuckets must be positive")
  require(maxTextLen > 0, "maxTextLen must be positive")
  require(shufflePartitions > 0, "shufflePartitions must be positive")
  require(maxLineageWindows > 0, "maxLineageWindows must be positive")
}
