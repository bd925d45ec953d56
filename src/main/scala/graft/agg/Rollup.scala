package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Windowed two-phase aggregation — the core of the pipeline.
  *
  * Reference semantics being re-expressed:
  *  - W1 tumbling window truncate, UTC (reference: internal/models/window_size.go:26-35,
  *    internal/ingestors/batch_summarizer.go:38)
  *  - A1 partial aggregation (map-side combine) per batch
  *    (reference: internal/ingestors/batch_summarizer.go:28-85)
  *  - X1 hash-partitioned exchange (reference: internal/streams/paritioned_queue.go:42-48)
  *  - A4 final merge — a commutative monoid: pointwise map sum
  *    (reference: internal/aggregators/aggregate_rolluper.go:21-48)
  *  - A5 incremental get–merge–upsert (reference: internal/aggregators/aggregation_service.go:26-49)
  *
  * In Spark, A1+X1+A4 are one `groupBy().count()` — Catalyst inserts
  * HashAggregate(partial) → Exchange → HashAggregate(final) automatically.
  * The explicit SALTED variant defeats hot-key skew (a few conversations
  * owning a large share of turns at 10^12-turn scale): stage 1 groups by
  * (keys, salt) so a hot key's rows spread over `saltBuckets` reducers;
  * stage 2 merges the (at most saltBuckets) sub-counts per key. The
  * reference bakes in the opposite hazard — its exchange key is only the
  * minute bucket, collapsing all customers in a minute onto one partition
  * (reference: internal/streams/partial_insight_producer.go:67,
  * internal/models/window_size.go:51-61).
  */
object Rollup {

  /** W1: tumbling-window start (UTC truncate). windowSize: "minute"|"hour". */
  def windowStart(ts: Column, windowSize: String): Column =
    date_trunc(windowSize, ts)

  /** W2: window-key formatting (reference: internal/models/window_size.go:37-49):
    * minute → yyyyMMdd'T'HHmm'Z', hour → yyyyMMdd'T'HH'Z'.
    */
  def windowKey(ws: Column, windowSize: String): Column = windowSize match {
    case "minute" => date_format(ws, "yyyyMMdd'T'HHmm'Z'")
    case "hour"   => date_format(ws, "yyyyMMdd'T'HH'Z'")
    case other    => throw new IllegalArgumentException(s"invalid window size: $other")
  }

  /** Two-stage salted counts per `keys`: stage 1 groups by (keys, salt)
    * so a hot key's rows spread over `saltBuckets` reducers, stage 2 sums
    * the (at most saltBuckets) sub-counts per key. Returns (keys..., cnt).
    * The salt is the hash of `saltSource`, a high-cardinality column.
    */
  def saltedCounts(
      df: DataFrame,
      keys: Seq[String],
      saltSource: Column,
      saltBuckets: Int
  ): DataFrame =
    df.withColumn("salt", pmod(hash(saltSource), lit(saltBuckets)))
      .groupBy((keys :+ "salt").map(col): _*)
      .agg(count(lit(1)).as("partial_cnt"))
      .groupBy(keys.map(col): _*)
      .agg(sum("partial_cnt").as("cnt"))

  /** Exploded relational aggregate: one row per (conv, window, dim, key, cnt),
    * for dim ∈ {tool, role} — the columnar-friendly layout of the reference's
    * two count maps (RequestsByPath / RequestsByUserAgent analog,
    * reference: internal/models/batch_summary.go:49-52).
    */
  def explodedRollup(
      parsed: DataFrame,
      windowSize: String = "minute",
      saltBuckets: Int = 16,
      dimCols: Seq[(String, Column)] = Seq(
        "tool" -> col("tool"),
        "role" -> col("role"))
  ): DataFrame = {
    val withDims = parsed
      .withColumn("window_start", windowStart(col("ts"), windowSize))
      .select(
        col("conv_id"), col("window_start"), col("turn_idx"),
        explode(array(dimCols.map { case (d, c) =>
          struct(lit(d).as("dim"), c.cast("string").as("key"))
        }: _*)).as("dk"))
      .select(col("conv_id"), col("window_start"), col("turn_idx"),
        col("dk.dim").as("dim"), col("dk.key").as("key"))
    saltedCounts(withDims, Seq("conv_id", "window_start", "dim", "key"),
        col("turn_idx"), saltBuckets)
      .withColumn("window_size", lit(windowSize))
  }

  /** Sink-boundary map-valued form: reconstruct the reference's
    * `map[string]int64` aggregate shape with deterministic (sorted) key
    * order (reference sorts too: internal/ingestors/batch_summarizer.go:68-73).
    * Input: exploded rollup rows. Output: one row per (conv, window) with one
    * map column per dim.
    */
  def mapValued(exploded: DataFrame, dims: Seq[String] = Seq("tool", "role")): DataFrame = {
    val pivoted = dims.map { d =>
      map_from_entries(
        array_sort(collect_list(when(col("dim") === d,
          struct(col("key"), col("cnt"))))))
        .as(s"counts_by_$d")
    }
    exploded.groupBy("conv_id", "window_start", "window_size")
      .agg(pivoted.head, pivoted.tail: _*)
  }

  /** Scalable exact distinct-count of `valueCol` per `keys`, named `as`:
    * pre-distinct on (keys, value) spreads the value space across the
    * cluster before counting — the distinct analog of the salted rollup.
    * `countDistinct` would pull every distinct value of a hot key into one
    * reducer's hash set; this shape never materializes a per-key value set
    * anywhere.
    */
  def distinctCounts(df: DataFrame, keys: Seq[String], valueCol: String, as: String): DataFrame =
    df.select((keys :+ valueCol).map(col): _*)
      .distinct()
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(as))

  /** A5 incremental merge: existing aggregate rows ∪ new partial rows →
    * re-aggregate. Both inputs carry (keys..., cnt). The merge is the
    * commutative-monoid pointwise sum the reference proves in
    * aggregate_rolluper_test.go:104-161.
    */
  def mergePartials(existing: DataFrame, partials: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = (keys :+ "cnt").map(col)
    existing.select(cols: _*)
      .unionByName(partials.select(cols: _*))
      .groupBy(keys.map(col): _*)
      .agg(sum("cnt").as("cnt"))
  }

  /** Stable intra-conversation turn ordering (north-rule invariant):
    * row_number + lag over (conv_id, turn_idx).
    */
  def withTurnOrder(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    df.withColumn("turn_rank", row_number().over(w))
      .withColumn("prev_role", lag("role", 1).over(w))
  }
}
