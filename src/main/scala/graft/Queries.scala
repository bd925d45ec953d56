package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.parse.{LogParse, UserAgentFamily}
import graft.route.Router
import graft.agg.Rollup

/** Operator query catalog: one oracle-checked query per implemented operator
  * from SURVEY.md §2, expressed over the driver-provided testdata tables
  * (events / TPC-H-ish / documents / embeddings). Each entry has a matching
  * DuckDB SQL oracle in `oracleSql` with identical column names & semantics.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // Pinned UA strings (reference e2e scenario fixtures,
  // tests/e2e/scenarios/001_basic_minute_rollup/scenario.go:27-33).
  private val uaStrings = Seq(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "curl/7.88.1",
    "SomeUnknownAgent/2.0 extra"
  )
  private val uaFamilies = Seq("Chrome", "Firefox", "Googlebot", "curl", "SomeUnknownAgent")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- A1+W1+X1+A4: the flagship two-phase windowed aggregation ---
    "q_agg_minute_counts" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(date_trunc("minute", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- P4+A3: normalize projection + path-key normalization ---
    "q_normalize_project" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").select(
        col("event_id"),
        upper(trim(col("event_type"))).as("event_type_norm"),
        concat_ws(" ", upper(col("event_type")), col("user_id").cast("string"))
          .as("key_norm"))
    }),

    // --- P3: two-format timestamp parse (round-trip through wire format) ---
    "q_ts_parse_two_formats" -> ((s: SparkSession, dir: String) => {
      val wire = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      t(s, dir, "events").select(
        col("event_id"),
        LogParse.parseTimestamp(wire).as("ts_parsed"))
    }),

    // --- P5+E1: predicate validation with error-code classification ---
    "q_validate_quarantine" -> ((s: SparkSession, dir: String) => {
      val code = when(col("value").isNull || col("props").isNull, lit("ING_1000"))
        .when(col("value") < 0 || col("value") > 150, lit("ING_1001"))
        .when(length(col("props")) > 8, lit("ING_1002"))
        .otherwise(lit("OK"))
      t(s, dir, "events").groupBy(code.as("error_code"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- A2: UA-family compiled-regex dispatch table ---
    "q_ua_family" -> ((s: SparkSession, dir: String) => {
      val uaArr = array(uaStrings.map(lit): _*)
      val ua = element_at(uaArr, pmod(col("user_id"), lit(5)).cast("int") + 1)
      t(s, dir, "events")
        .select(UserAgentFamily.family(ua).as("ua_family"))
        .groupBy("ua_family").agg(count(lit(1)).as("cnt"))
    }),

    // --- D1a: row-level exact dedup ---
    "q_dedup_rows" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").select("user_id", "event_type").distinct()
    }),

    // --- D1b: anti-join replay guard ---
    "q_dedup_antijoin" -> ((s: SparkSession, dir: String) => {
      val events = t(s, dir, "events")
      val committed = events
        .filter(col("event_type") === "signup" && col("value") > 120)
        .select("user_id").distinct()
      events.join(committed, Seq("user_id"), "left_anti")
        .select("event_id", "user_id")
    }),

    // --- X1 skew: explicit two-stage salted aggregation ---
    "q_salted_agg" -> ((s: SparkSession, dir: String) => {
      Rollup.saltedCounts(t(s, dir, "events"), Seq("user_id"), col("event_id"), 8)
    }),

    // --- A5: incremental partial-merge (union of partials → final) ---
    "q_incremental_merge" -> ((s: SparkSession, dir: String) => {
      val events = t(s, dir, "events")
      val p1 = events.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val p2 = events.filter(pmod(col("event_id"), lit(2)) === 1)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      Rollup.mergePartials(p1, p2, Seq("user_id"))
    }),

    // --- W2: window-key formatting ---
    "q_window_key_format" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(Rollup.windowKey(date_trunc("minute", col("ts")), "minute")
          .as("window_key"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- J: broadcast-join enrich ---
    "q_broadcast_enrich" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
    }),

    // --- R1: router fan-out predicates (first-match-wins) ---
    "q_router_fanout" -> ((s: SparkSession, dir: String) => {
      val routes = Seq(
        Router.Route("errors", col("event_type") === "error"),
        Router.Route("high_value", col("value") > 100),
        Router.Route("conversions", col("event_type").isin("signup", "purchase")))
      Router.routeCounts(t(s, dir, "events"), routes)
    }),

    // --- O1: stable ordering window (row_number + lag) ---
    "q_turn_order" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events").select(
        col("event_id"),
        row_number().over(w).as("rn"),
        lag("event_type", 1).over(w).as("prev_type"))
    }),

    // --- S3: top-k with deterministic tiebreak ---
    "q_topk" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id").asc).limit(10)
    }),

    // --- P1+P2: grok/regex field extraction from semi-structured text ---
    "q_grok_extract" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"))
    }),

    // --- P1: structured JSON parse (from_json with explicit schema — the
    //     reference's strict-schema JSON ingest, never inferSchema) ---
    "q_json_parse" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").select(
        col("event_id"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k"))
    }),

    // --- A6: ROLLUP hierarchy (window ⊃ event_type subtotals + grand total) ---
    "q_rollup_hierarchy" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .withColumn("window_start", date_trunc("hour", col("ts")))
        .rollup("window_start", "event_type")
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- A7: exact distinct aggregation ---
    "q_distinct_agg" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("cnt"))
    }),

    // --- A8: scalable two-stage distinct count. countDistinct holds all
    //     values per key in one reducer; the pre-distinct form spreads the
    //     value space over the cluster first (the distinct analog of the
    //     salted rollup — this is the shape that survives a hot key whose
    //     distinct set doesn't fit one executor). ---
    "q_twostage_distinct" -> ((s: SparkSession, dir: String) => {
      Rollup.distinctCounts(t(s, dir, "events"), Seq("event_type"), "user_id", "n_users")
    }),

    // --- O2: per-group top-k (rank window + filter) ---
    "q_topk_per_group" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "events").groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id").asc)
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("event_type", "user_id", "cnt", "rnk")
    }),

    // --- M2: math/bucketing sampler (histogram of the value measure) ---
    "q_histogram" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(col("value")), 2).as("avg_value"),
          round(min(col("value")), 2).as("min_value"),
          round(max(col("value")), 2).as("max_value"))
    }),

    // --- O3: sessionization — gap-based session ids (lag + running sum),
    //     the classic log-analytics operator ---
    "q_sessionize" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // ts is TIMESTAMP_NTZ from parquet; session tz is UTC so the cast is
      // a deterministic reinterpretation.
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val gapUs = tsUs - lag(tsUs, 1).over(w)
      val newSession = when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0)
      t(s, dir, "events")
        .withColumn("new_session", newSession)
        .withColumn("session_idx",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("event_id", "user_id", "session_idx")
    }),

    // --- O4: as-of enrichment — attach each user's most recent PRIOR
    //     signup timestamp (temporal point-in-time join via ignore-nulls
    //     last over an ordered window; no shuffle beyond the window) ---
    "q_asof_enrich" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events").select(
        col("event_id"),
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true)
          .over(w).as("prev_signup_ts"))
    }),

    // --- P1b: array-of-struct JSON batch ingest with per-entry
    //     index-addressed errors (reference parses a JSON ARRAY body into
    //     entries and reports `item at index i: field` errors,
    //     ingestion_service.go:156-231). A JSON array "request body" is
    //     assembled per user (deterministic element order), then parsed
    //     back via from_json(array<struct>) + posexplode and each entry is
    //     validated with an `entries[i].k`-addressed error. ---
    "q_json_batch_ingest" -> ((s: SparkSession, dir: String) => {
      val body = t(s, dir, "events")
        .filter(col("props").isNotNull)
        .groupBy("user_id")
        .agg(concat(lit("["),
          concat_ws(",", array_sort(collect_list(col("props")))),
          lit("]")).as("body"))
      body
        .select(col("user_id"),
          posexplode(from_json(col("body"), "array<struct<k:int>>",
            Map.empty[String, String])).as(Seq("entry_idx", "entry")))
        .select(col("user_id"), col("entry_idx").cast("long").as("entry_idx"),
          col("entry.k").as("k"))
        .withColumn("error_code",
          when(col("k").isNull, lit("ING_1000"))
            .when(col("k") > 90, lit("ING_1001"))
            .otherwise(lit(null).cast("string")))
        .withColumn("error_field",
          when(col("error_code").isNotNull,
            concat(lit("entries["), col("entry_idx"), lit("].k"))))
    }),

    // --- J2: two-table as-of join — facts pick up the most recent prior
    //     dim-history row (union + one-window plan; DuckDB native ASOF JOIN
    //     is the oracle) ---
    "q_asof_join" -> ((s: SparkSession, dir: String) => {
      import graft.ops.AsOfJoin
      val events = t(s, dir, "events")
      val dims = events.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts").agg(max("value").as("status_value"))
      val facts = events.filter(col("event_type") =!= "signup")
        .select("event_id", "user_id", "ts")
      AsOfJoin.asof(facts, dims, Seq("user_id"), "ts", Seq("status_value"))
        .select("event_id", "status_value")
    }),

    // --- J4: keyless range (interval) join — every event matched to the
    //     error-incident windows containing it. Bucketed into an EQUI join
    //     (ops/RangeJoin): Spark's native plan for a pure range predicate
    //     is a BroadcastNestedLoopJoin, O(n·m) compares; the bucket join is
    //     hash-partitioned like any other (PlanSpec-gated). ---
    "q_range_join" -> ((s: SparkSession, dir: String) => {
      import graft.ops.RangeJoin
      val events = t(s, dir, "events")
      val incidents = events.filter(col("event_type") === "error")
        .select(col("ts").as("inc_start"),
          (col("ts") + expr("INTERVAL 2 MINUTES")).as("inc_end"))
      RangeJoin.bucketed(events.select("event_id", "ts"), "ts",
          incidents, "inc_start", "inc_end", bucketWidthSec = 120)
        .groupBy("event_id").agg(count(lit(1)).as("n_incidents"))
    }),

    // --- E1b: error taxonomy — code → (category, http_status) surface
    //     (reference svcerrors categories + code tables) ---
    "q_error_taxonomy" -> ((s: SparkSession, dir: String) => {
      import graft.model.ErrorTaxonomy
      val code = when(col("value").isNull || col("props").isNull, lit("ING_1000"))
        .when(col("value") < 0 || col("value") > 150, lit("ING_1001"))
        .when(length(col("props")) > 8, lit("ING_1002"))
      t(s, dir, "events").withColumn("error_code", code)
        .filter(col("error_code").isNotNull)
        .withColumn("category", ErrorTaxonomy.category(col("error_code")))
        .withColumn("http_status", ErrorTaxonomy.httpStatus(col("error_code")))
        .groupBy("error_code", "category", "http_status")
        .agg(count(lit(1)).as("cnt"))
    }),

    // --- A9: CUBE with grouping_id — the full grouping-sets lattice over
    //     (event_type, value bucket); the reference's README "rollup" is
    //     partial→final merge, this is the SQL analytic complement ---
    "q_cube" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .cube(col("event_type"),
          floor(col("value") / 100).cast("long").as("vbucket"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
        .select("event_type", "vbucket", "gid", "cnt")
    }),

    // --- O5: distribution windows (ntile / percent_rank / cume_dist),
    //     partitioned by event_type so no global single-reducer sort ---
    "q_ntile" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      t(s, dir, "events").select(
        col("event_id"),
        ntile(4).over(w).as("tile"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
    }),

    // --- W3: SLIDING windows (2-minute span, 1-minute slide): each event
    //     lands in span/slide windows — the overlap factor is the fan-out
    //     cost, and Catalyst's window() generator + two-phase agg keep it
    //     one shuffle of (window, key) partials ---
    "q_sliding_window" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 minutes", "1 minute").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))
    }),

    // --- W4: SESSION windows as a native aggregation — Spark's
    //     session_window() merges per-key gap-bounded spans inside the
    //     aggregate itself (sort-based session merge), the declarative twin
    //     of q_sessionize's running-sum construction ---
    "q_session_window" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("user_id"), col("cnt"))
    }),

    // --- O6: bounded-frame rolling aggregate (4-event moving average per
    //     user): the smoothing window every rate dashboard runs; the frame
    //     is ROWS-bounded so state per key is O(frame), not O(partition) ---
    "q_moving_avg" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
      t(s, dir, "events").select(
        col("event_id"),
        round(avg(col("value")).over(w), 4).as("mavg4"))
    }),

    // --- O7: lead window — time to each user's NEXT event (the
    //     latency/churn gap metric; null on the last event) ---
    "q_next_gap" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts").cast("timestamp"))
      t(s, dir, "events").select(
        col("event_id"),
        (lead(us, 1).over(w) - us).as("gap_us"))
    }),

    // --- A12: ratio-to-report — each group's share of the total via an
    //     unpartitioned window OVER THE AGGREGATE (5 rows), never over raw
    //     events; the aggregate-then-window order is what makes a global
    //     window safe at scale ---
    "q_share_of_total" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("share",
          round(col("cnt") / sum("cnt").over(Window.partitionBy()), 6))
    }),

    // --- D2: keep-latest compaction (SCD-1 / CDC upsert shape): one
    //     surviving row per (user, type) = the most recent version ---
    "q_dedup_keep_latest" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("user_id", "event_type", "event_id")
    }),

    // --- T1: unpivot (wide measures → long layout) via the stack
    //     generator — the schema-migration workhorse ---
    "q_unpivot" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").select(col("event_id"),
        expr("stack(2, 'value', value, 'user_id', CAST(user_id AS DOUBLE))")
          .as(Seq("measure", "val")))
    }),

    // --- A11: HyperLogLog++ approximate distinct count — the only distinct
    //     shape that is O(1) memory per key at 100 TB (exact distinct of a
    //     hot key's value set must fit somewhere; a sketch never grows).
    //     No SQL oracle (DuckDB's approx_distinct uses a different sketch)
    //     → rows-only here; ApproxSpec asserts <2% error vs exact. ---
    "q_approx_distinct" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
          count(lit(1)).as("cnt"))
    }),

    // --- A10: statistical moments + exact interpolated percentiles per
    //     group (stddev/corr/covar are streaming co-moment aggregates —
    //     map-side combinable, one shuffle) ---
    "q_stats_moments" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").groupBy("event_type").agg(
        round(stddev_samp(col("value")), 4).as("sd"),
        round(corr(col("value"), col("user_id").cast("double")), 4).as("corr_uv"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 4).as("covar_uv"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
    }),

    // --- A10b: the SCALE path for percentiles (round-2 review: exact
    //     `percentile` buffers every value of a group in one aggregation
    //     buffer — a hot group at 100 TB OOMs its reducer). approx_percentile
    //     keeps a fixed-size Greenwald–Khanna sketch per group (rank error
    //     ≤ n/accuracy), map-side combinable like any partial aggregate.
    //     No SQL oracle (DuckDB's approx_quantile is a different sketch) —
    //     ApproxSpec bounds the error vs the exact form and gates the
    //     partial-sketch plan shape. q_stats_moments keeps the exact form
    //     as the small-sf oracle query. ---
    "q_approx_percentiles" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events").groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)), lit(10000)).as("ps"),
          count(lit(1)).as("cnt"))
        .select(col("event_type"),
          round(element_at(col("ps"), 1), 4).as("p50_approx"),
          round(element_at(col("ps"), 2), 4).as("p90_approx"),
          col("cnt"))
    }),

    // --- O5b: the SCALE path for distribution ranks (round-2 review:
    //     q_ntile's exact window partitions by a 5-value key, so one task
    //     sorts 1/5 of the dataset at ANY scale). Quantile-BUCKET assignment
    //     instead: per-group approx_percentile boundaries (tiny aggregate)
    //     broadcast back and applied as three range compares — a pure
    //     projection after a BroadcastHashJoin, no Window, no global sort.
    //     Rows within one rank-error of a boundary may land in the adjacent
    //     bucket vs exact ntile (ApproxSpec bounds the disagreement);
    //     q_ntile keeps the exact window form as the oracle query. ---
    "q_quantile_bucket" -> ((s: SparkSession, dir: String) => {
      val events = t(s, dir, "events")
      val bounds = events.groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("bs"))
      events.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          (lit(1)
            + when(col("value") > element_at(col("bs"), 1), 1).otherwise(0)
            + when(col("value") > element_at(col("bs"), 2), 1).otherwise(0)
            + when(col("value") > element_at(col("bs"), 3), 1).otherwise(0)).as("tile"))
    }),

    // --- J3: left-semi join (EXISTS pruning — rows survive, no columns
    //     from the build side, no row duplication on multi-matches) ---
    "q_semi_join" -> ((s: SparkSession, dir: String) => {
      val events = t(s, dir, "events")
      val signups = events.filter(col("event_type") === "signup")
        .select("user_id")
      events.join(signups, Seq("user_id"), "left_semi")
        .select("event_id", "user_id")
    }),

    // --- T2: pivot (long → wide) with an explicit value list so the output
    //     schema is static — the only pivot form that scales (a discovered
    //     value list needs an extra distinct pass and breaks schema
    //     stability) ---
    "q_pivot" -> ((s: SparkSession, dir: String) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // --- SET1: set operations (intersect / except of user sets) ---
    "q_set_ops" -> ((s: SparkSession, dir: String) => {
      val events = t(s, dir, "events")
      val errUsers = events.filter(col("event_type") === "error")
        .select("user_id").distinct()
      val buyUsers = events.filter(col("event_type") === "purchase")
        .select("user_id").distinct()
      errUsers.intersect(buyUsers).withColumn("set_op", lit("both"))
        .unionByName(errUsers.except(buyUsers).withColumn("set_op", lit("error_only")))
    })
  ) ++ OpsQueries.queries ++ PipelineQueries.queries

  def oracleSql: Map[String, String] = Map(
    "q_agg_minute_counts" ->
      "SELECT date_trunc('minute', ts) AS window_start, event_type, count(*) AS cnt FROM events GROUP BY 1, 2",
    "q_normalize_project" ->
      "SELECT event_id, upper(trim(event_type)) AS event_type_norm, upper(event_type) || ' ' || CAST(user_id AS VARCHAR) AS key_norm FROM events",
    "q_ts_parse_two_formats" ->
      "SELECT event_id, coalesce(try_strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ'), '%Y-%m-%dT%H:%M:%S.%gZ'), try_strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ'), '%Y-%m-%dT%H:%M:%SZ')) AS ts_parsed FROM events",
    "q_validate_quarantine" ->
      "SELECT CASE WHEN value IS NULL OR props IS NULL THEN 'ING_1000' WHEN value < 0 OR value > 150 THEN 'ING_1001' WHEN length(props) > 8 THEN 'ING_1002' ELSE 'OK' END AS error_code, count(*) AS cnt FROM events GROUP BY 1",
    "q_ua_family" -> {
      val fams = uaFamilies.zipWithIndex
        .map { case (f, i) => s"WHEN $i THEN '$f'" }.mkString(" ")
      s"SELECT CASE user_id % 5 $fams END AS ua_family, count(*) AS cnt FROM events GROUP BY 1"
    },
    "q_dedup_rows" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_dedup_antijoin" ->
      "SELECT event_id, user_id FROM events WHERE user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'signup' AND value > 120)",
    "q_salted_agg" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1",
    "q_incremental_merge" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1",
    "q_window_key_format" ->
      "SELECT strftime(date_trunc('minute', ts), '%Y%m%dT%H%MZ') AS window_key, count(*) AS cnt FROM events GROUP BY 1",
    "q_broadcast_enrich" ->
      "SELECT c_mktsegment, count(*) AS cnt FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1",
    "q_router_fanout" ->
      "SELECT CASE WHEN event_type = 'error' THEN 'errors' WHEN value > 100 THEN 'high_value' WHEN event_type IN ('signup', 'purchase') THEN 'conversions' ELSE 'other' END AS route, count(*) AS cnt FROM events GROUP BY 1",
    "q_turn_order" ->
      "SELECT event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events",
    "q_topk" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1 ORDER BY cnt DESC, user_id ASC LIMIT 10",
    "q_grok_extract" ->
      "SELECT event_id, TRY_CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INTEGER) AS k FROM events",
    "q_json_parse" ->
      "SELECT event_id, json_extract_string(props, '$.k')::INT AS k FROM events",
    "q_rollup_hierarchy" ->
      "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt FROM events GROUP BY ROLLUP(date_trunc('hour', ts), event_type)",
    "q_distinct_agg" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS cnt FROM events GROUP BY 1",
    "q_twostage_distinct" ->
      "SELECT event_type, count(*) AS n_users FROM (SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1",
    "q_topk_per_group" ->
      """SELECT event_type, user_id, cnt, rnk FROM (
        |  SELECT event_type, user_id, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, user_id ASC) AS rnk
        |  FROM events GROUP BY event_type, user_id)
        |WHERE rnk <= 3""".stripMargin.replace("\n", " "),
    "q_histogram" ->
      "SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS cnt, round(avg(value), 2) AS avg_value, round(min(value), 2) AS min_value, round(max(value), 2) AS max_value FROM events GROUP BY 1",
    "q_sessionize" ->
      // CAST: DuckDB sum(INT) yields HUGEINT (int128) where Spark writes
      // BIGINT — the driver's hash is dtype-sensitive, so align to BIGINT.
      """SELECT event_id, user_id,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events)""".stripMargin.replace("\n", " "),
    "q_asof_enrich" ->
      """SELECT event_id,
        |  last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup_ts
        |FROM events""".stripMargin.replace("\n", " "),
    "q_json_batch_ingest" ->
      """WITH b AS (
        |  SELECT user_id, props,
        |    row_number() OVER (PARTITION BY user_id ORDER BY props) - 1 AS entry_idx
        |  FROM events WHERE props IS NOT NULL)
        |SELECT user_id, entry_idx,
        |  json_extract_string(props, '$.k')::INT AS k,
        |  CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 'ING_1000'
        |       WHEN json_extract_string(props, '$.k')::INT > 90 THEN 'ING_1001' END AS error_code,
        |  CASE WHEN json_extract_string(props, '$.k') IS NULL
        |         OR json_extract_string(props, '$.k')::INT > 90
        |       THEN 'entries[' || entry_idx || '].k' END AS error_field
        |FROM b""".stripMargin.replace("\n", " "),
    "q_asof_join" ->
      """WITH d AS (SELECT user_id, ts, max(value) AS status_value
        |           FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |f AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup')
        |SELECT f.event_id, d.status_value
        |FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.ts >= d.ts""".stripMargin.replace("\n", " "),
    "q_range_join" ->
      """SELECT e.event_id, count(*) AS n_incidents
        |FROM events e JOIN (
        |  SELECT ts AS inc_start, ts + INTERVAL 2 MINUTE AS inc_end
        |  FROM events WHERE event_type = 'error') i
        |  ON e.ts >= i.inc_start AND e.ts <= i.inc_end
        |GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_error_taxonomy" -> {
      import graft.model.ErrorTaxonomy
      val cat = ErrorTaxonomy.categorySqlDuck("error_code")
      val http = ErrorTaxonomy.httpStatusSqlDuck("error_code")
      s"""WITH c AS (SELECT CASE WHEN value IS NULL OR props IS NULL THEN 'ING_1000'
         |  WHEN value < 0 OR value > 150 THEN 'ING_1001'
         |  WHEN length(props) > 8 THEN 'ING_1002' END AS error_code FROM events)
         |SELECT error_code, $cat AS category, $http AS http_status, count(*) AS cnt
         |FROM c WHERE error_code IS NOT NULL GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
    },
    "q_cube" ->
      """SELECT event_type, CAST(floor(value / 100) AS BIGINT) AS vbucket,
        |  CAST(GROUPING(event_type, CAST(floor(value / 100) AS BIGINT)) AS BIGINT) AS gid,
        |  count(*) AS cnt
        |FROM events GROUP BY CUBE(1, 2)""".stripMargin.replace("\n", " "),
    "q_ntile" ->
      """SELECT event_id,
        |  CAST(ntile(4) OVER w AS INT) AS tile,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin.replace("\n", " "),
    "q_next_gap" ->
      """SELECT event_id,
        |  lead(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - epoch_us(ts) AS gap_us
        |FROM events""".stripMargin.replace("\n", " "),
    "q_share_of_total" ->
      """SELECT event_type, cnt, round(cnt / sum(cnt) OVER (), 6) AS share
        |FROM (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)""".stripMargin.replace("\n", " "),
    "q_dedup_keep_latest" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin.replace("\n", " "),
    "q_moving_avg" ->
      """SELECT event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg4
        |FROM events""".stripMargin.replace("\n", " "),
    "q_sliding_window" ->
      """SELECT window_start, event_type, count(*) AS cnt FROM (
        |  SELECT unnest([date_trunc('minute', ts) - INTERVAL 1 MINUTE,
        |                 date_trunc('minute', ts)]) AS window_start,
        |         event_type
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q_session_window" ->
      // >= (not >): Spark's session_window is half-open [ts, ts+gap), so a
      // gap of EXACTLY 30 min starts a new session (round-3 review).
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |x AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM s)
        |SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, count(*) AS cnt
        |FROM x GROUP BY user_id, sid""".stripMargin.replace("\n", " "),
    "q_unpivot" ->
      """SELECT event_id, 'value' AS measure, value AS val FROM events
        |UNION ALL
        |SELECT event_id, 'user_id' AS measure, CAST(user_id AS DOUBLE) AS val FROM events""".stripMargin.replace("\n", " "),
    "q_stats_moments" ->
      """SELECT event_type,
        |  round(stddev_samp(value), 4) AS sd,
        |  round(corr(value, user_id::DOUBLE), 4) AS corr_uv,
        |  round(covar_samp(value, user_id::DOUBLE), 4) AS covar_uv,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_semi_join" ->
      """SELECT event_id, user_id FROM events
        |WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'signup')""".stripMargin.replace("\n", " "),
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_set_ops" ->
      """SELECT user_id, 'both' AS set_op FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |   INTERSECT
        |   SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'error_only' AS set_op FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |   EXCEPT
        |   SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')""".stripMargin.replace("\n", " ")
  ) ++ OpsQueries.oracleSql ++ PipelineQueries.oracleSql
}
