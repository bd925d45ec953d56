package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Router: fan parsed+enriched rows out to per-sink tables keyed by route
  * predicate (first match wins).
  *
  * Scale design: instead of N predicate-filtered re-reads of the parsed
  * Dataset (N scans, or a persist + N passes), the router materializes a
  * single `route` column (a when/otherwise chain — one codegen'd projection)
  * and performs ONE write partitioned by `route`. Each route's rows land in
  * their own partition directory = their own sink table, and the whole
  * fan-out costs a single pass over the data with zero extra shuffles.
  *
  * Reference analog: per-sink persistence of validated/derived records
  * (bronze + aggregate stores, reference: internal/stores/log_batch_store.go:42-59,
  * internal/stores/aggregate_result_store.go:31-43), generalized to N routes
  * per the north rule.
  */
object Router {

  final case class Route(name: String, predicate: Column)

  /** Default route table for the transcript pipeline. Order = priority. */
  def defaultRoutes: Seq[Route] = Seq(
    Route("errors", col("has_error") === true),
    Route("privileged_tools", col("is_privileged") === true),
    Route("tool_calls", col("tool_invoked").isNotNull),
    Route("user_turns", col("role") === "user"),
    Route("assistant_turns", col("role") === "assistant")
  )

  val fallbackRoute = "other"

  /** First-match-wins route assignment as a single codegen'd expression. */
  def routeColumn(routes: Seq[Route]): Column =
    routes.foldRight(lit(fallbackRoute): Column) { case (r, acc) =>
      when(r.predicate, lit(r.name)).otherwise(acc)
    }

  /** Route counts without writing (for oracle-checked queries/tests). */
  def routeCounts(df: DataFrame, routes: Seq[Route]): DataFrame =
    df.withColumn("route", routeColumn(routes))
      .groupBy("route").agg(count(lit(1)).as("cnt"))
}
