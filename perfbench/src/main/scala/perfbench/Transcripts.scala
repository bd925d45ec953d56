package perfbench

import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded transcript inputs for the pipe workloads, and the benchmark's own
  * model of what `PipelineJob.run` must produce from them.
  *
  * Inputs come from graft.gen.TranscriptGen (the load generator, not under
  * test), so they keep its hot-conversation skew. The seed then picks which
  * turns are made invalid (0.4%: negative turn_idx, null text or an unknown
  * role), which get a padded upper-case role that is still valid (0.5%), and
  * which are delivered twice (1%, exact copies), so quarantine,
  * normalisation and dedup all do real work.
  */
object Transcripts {

  /** `nTurns` turns at `rowsPerMinute`, starting `minuteOffset` minutes
    * after the generator's base instant, with `convPrefix` before every
    * conv_id so that frames generated separately do not share turns. Two
    * extra columns pick the batches a turn is delivered in: `minute`, its
    * minute-window counted from the base instant, and `u`, a seeded
    * uniform draw in [0, 1).
    */
  def generate(spark: SparkSession, nTurns: Long, rowsPerMinute: Long, seed: Long,
      minuteOffset: Long = 0, convPrefix: String = ""): DataFrame = {
    val h = col("__h")
    val pick = pmod(h, lit(1000L))
    val kind = pmod(shiftright(h, 20), lit(3L))
    val bad = pick < 4
    val mutated = graft.gen.TranscriptGen.generate(spark, nTurns, Main.cores * 2, rowsPerMinute)
      .withColumn("conv_id", concat(lit(convPrefix), col("conv_id")))
      .withColumn("ts", timestamp_millis(unix_millis(col("ts")) + lit(minuteOffset * 60000L)))
      .withColumn("minute", floor((unix_millis(col("ts")) -
        lit(graft.gen.TranscriptGen.baseEpochSec * 1000L)) / 60000).cast("int"))
      .withColumn("u", pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(seed), lit(1)), lit(1L << 30))
        .cast("double") / lit((1L << 30).toDouble))
      .withColumn("__h", xxhash64(col("conv_id"), col("turn_idx"), lit(seed)))
      .withColumn("turn_idx", when(bad && kind === 0, lit(-1)).otherwise(col("turn_idx")))
      .withColumn("text", when(bad && kind === 1, lit(null).cast("string")).otherwise(col("text")))
      .withColumn("role",
        when(bad && kind === 2, lit("robot"))
          .when(pick >= 4 && pick < 9, concat(lit(" "), upper(col("role")), lit(" ")))
          .otherwise(col("role")))
    val dups = mutated.filter(pmod(shiftright(h, 40), lit(100L)) === 0)
    mutated.unionByName(dups).drop("__h")
  }

  /** One input turn as the reference model reads it, with the `minute` and
    * `u` that pick its batches.
    */
  final case class Turn(conv: String, turn: Integer, role: String, text: String, tool: String,
      ts: java.sql.Timestamp, minute: Int, u: Double) {
    val window: String = if (ts == null) null else Transcripts.windowKey(ts)
  }

  def collect(df: DataFrame): Seq[Turn] =
    df.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "minute", "u").collect().toSeq.map { r =>
      Turn(r.getString(0), r.getAs[Integer](1), r.getString(2), r.getString(3), r.getString(4),
        r.getTimestamp(5), r.getInt(6), r.getDouble(7))
    }

  /** The turns of minute-windows [from, until), plus the turns of earlier
    * windows whose `u` falls in [lo, lo + p): a seeded redelivery. The rule
    * is applied the same way to the reference's turns and to the frame
    * written as input.
    */
  final case class Batch(from: Int, until: Int, lo: Double, p: Double) {
    def contains(t: Turn): Boolean =
      (t.minute >= from && t.minute < until) || (t.minute < from && t.u >= lo && t.u < lo + p)
    def column: Column = {
      val m = col("minute")
      (m >= from && m < until) || (m < from && col("u") >= lo && col("u") < lo + p)
    }
  }

  private val keyFormat = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmm'Z'").withZone(ZoneOffset.UTC)
  def windowKey(ts: java.sql.Timestamp): String = keyFormat.format(ts.toInstant)

  // Spark's trim() strips spaces only.
  private def trimSpaces(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  private val validRoles = Set("user", "assistant", "system", "tool")
  private val privilegedTools = Set("bash", "edit")
  private val toolMarker = "<tool:([a-zA-Z0-9_-]+)[ >]".r
  private val errorMarker = "ERROR\\[([A-Za-z0-9_-]+)\\]".r

  /** Quarantine code of a raw turn; null when valid. */
  def errorCode(t: Turn, maxTextLen: Int = 8192): String =
    if (t.conv == null || t.turn == null || t.text == null || t.ts == null) "ING_1000"
    else if (t.turn < 0) "ING_1001"
    else if (t.text.codePointCount(0, t.text.length) > maxTextLen) "ING_1001"
    else if (t.role == null || !validRoles.contains(trimSpaces(t.role).toLowerCase)) "ING_1001"
    else null

  /** The sink a valid turn lands in: the first of errors, privileged tools,
    * tool calls, user turns and assistant turns that matches, else other.
    */
  def route(t: Turn): String = {
    val role = trimSpaces(t.role).toLowerCase
    if (errorMarker.findFirstIn(t.text).isDefined) "errors"
    else if (privilegedTools.contains(t.tool)) "privileged_tools"
    else if (toolMarker.findFirstIn(t.text).isDefined) "tool_calls"
    else if (role == "user") "user_turns"
    else if (role == "assistant") "assistant_turns"
    else "other"
  }

  /** What one `PipelineJob.run` must report. */
  final case class Expect(
      routes: Map[String, Long],
      quarantine: Map[String, Long],
      offered: Long)

  /** Reference model of a catalog that receives a sequence of runs: the
    * resume filter (committed windows and windows at or below the
    * watermark are out of scope), quarantine, dedup on (conv_id, turn_idx),
    * routing, the per-(conv, window, dim, key) tallies, and manifest
    * compaction to `maxLineageWindows`.
    */
  final class Reference(maxLineageWindows: Int) {
    private var committed = Vector.empty[String]
    private var watermark = ""
    val aggregates = mutable.Map.empty[(String, String, String, String), Long]

    def run(batch: Seq[Turn]): Expect = {
      val committedSet = committed.toSet
      val inScope = batch.filter(t =>
        t.window == null || (t.window > watermark && !committedSet.contains(t.window)))
      val (invalid, valid) = inScope.partition(t => errorCode(t) != null)
      val deduped = valid.groupBy(t => (t.conv, t.turn)).values.map(_.minBy(_.ts.getTime)).toSeq
      for (t <- deduped; (dim, key) <- Seq("tool" -> t.tool, "role" -> trimSpaces(t.role).toLowerCase)) {
        val k = (t.conv, t.window, dim, key)
        aggregates(k) = aggregates.getOrElse(k, 0L) + 1
      }
      val todo = deduped.map(_.window).distinct
      committed = (committed ++ todo).sorted
      if (committed.size > maxLineageWindows) {
        val (fold, keep) = committed.splitAt(committed.size - maxLineageWindows)
        watermark = Seq(watermark, fold.last).max
        committed = keep
      }
      Expect(
        deduped.groupBy(route).map { case (r, ts) => r -> ts.size.toLong },
        invalid.groupBy(errorCode(_)).map { case (c, ts) => c -> ts.size.toLong },
        batch.size.toLong)
    }

    def aggregateRows: Seq[(String, String, String, String, Long)] =
      aggregates.toSeq.map { case ((c, w, d, k), n) => (c, w, d, k, n) }
  }

  /** Fingerprint of the reference's tallies, by the same rule as the
    * catalog's table (`Catalog.fingerprint`).
    */
  def referenceFingerprint(spark: SparkSession, ref: Reference): (Long, Long) = {
    import spark.implicits._
    Catalog.fingerprint(ref.aggregateRows.toDF("conv_id", "window_key", "dim", "key", "cnt"))
  }

  /** Fingerprint of the aggregates table a catalog holds. */
  def catalogFingerprint(spark: SparkSession, root: String): (Long, Long) = {
    val p = new java.io.File(root, "aggregates")
    if (!p.exists) (0L, 0L)
    else Catalog.fingerprint(spark.read.parquet(p.getPath)
      .select(col("conv_id"), col("window_key"), col("dim"), col("key"), col("cnt").cast("long")))
  }

  /** Quarantine rows per error code in a catalog. */
  def quarantineCounts(spark: SparkSession, root: String): Map[String, Long] = {
    val p = new java.io.File(root, "quarantine")
    if (!p.exists) Map.empty
    else spark.read.parquet(p.getPath).groupBy("error_code").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Compare a run's reported route counts and quarantined-row count with
    * the reference; print what differs and return whether all matched.
    */
  def checkRun(label: String, result: graft.app.PipelineJob.Result, exp: Expect,
      corrupt: Boolean): Boolean = {
    val routes =
      if (corrupt) result.routeCounts.map { case (k, v) => k -> (v + 1) }
      else result.routeCounts
    val quarantined = result.metrics.getOrElse("rows_quarantined", 0L)
    val ok = routes == exp.routes && quarantined == exp.quarantine.values.sum
    if (!ok) System.err.println(
      s"[check] $label: routes=$routes expected=${exp.routes} " +
        s"quarantined=$quarantined expected=${exp.quarantine.values.sum}")
    ok
  }

  def checkEqual[T](label: String, got: T, want: T): Boolean = {
    if (got != want) System.err.println(s"[check] $label: got=$got expected=$want")
    got == want
  }
}
