package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic transcript-table generator (pure index arithmetic, no RNG),
  * per the input_hint shape: (conv_id, turn_idx, role, text, tool, ts).
  *
  * Built entirely from Catalyst expressions over `spark.range` so generation
  * is fully distributed — no driver-side loops, scales linearly with
  * partitions. The timestamp arithmetic (seconds = round % 60,
  * millis = (bucket*17 + round) % 1000) transplants the reference e2e
  * generator's scheme
  * (reference: tests/e2e/scenarios/001_basic_minute_rollup/scenario.go:355-360)
  * so goldens are hand-computable.
  *
  * Skew layout (exercises the salted rollup): the first 10% of rows belong to
  * just 4 "hot" conversations; the rest are spread over many 40-turn
  * conversations. turn_idx is contiguous within every conversation.
  */
object TranscriptGen {

  val tools: Seq[String] = Seq("search", "bash", "edit", "read", "web")
  val roles: Seq[String] = Seq("user", "assistant", "system", "tool")

  /** Base instant: 2025-12-28T18:00:00Z (the reference e2e scenario date). */
  val baseEpochSec: Long = 1766944800L

  def generate(
      spark: SparkSession,
      nTurns: Long,
      numPartitions: Int = 32,
      rowsPerMinute: Long = 1000
  ): DataFrame = {
    val hotN = nTurns / 10

    val df = spark.range(0, nTurns, 1, numPartitions).toDF("id")

    val isHot = col("id") < lit(hotN)
    val rest = col("id") - lit(hotN)

    val convId = when(isHot, concat(lit("conv-hot-"), pmod(col("id"), lit(4)).cast("string")))
      .otherwise(concat(lit("conv-"), format_string("%06d", (rest / 40).cast("long"))))
    val turnIdx = when(isHot, (col("id") / 4).cast("int"))
      .otherwise(pmod(rest, lit(40)).cast("int"))

    // Role cycle: user/assistant alternate; every 8th turn is a system or tool turn.
    val role = when(pmod(turnIdx, lit(8)) === 6, lit("system"))
      .when(pmod(turnIdx, lit(8)) === 7, lit("tool"))
      .when(pmod(turnIdx, lit(2)) === 0, lit("user"))
      .otherwise(lit("assistant"))

    // Tool assignment: assistant turns invoke a tool 1/3 of the time.
    val toolIdx = pmod(col("id") * 7 + turnIdx, lit(tools.size))
    val toolArr = array(tools.map(lit): _*)
    val tool = when(role === "assistant" && pmod(turnIdx, lit(3)) === 1,
      element_at(toolArr, (toolIdx + 1).cast("int"))).otherwise(lit("none"))

    // Timestamp: minute bucket walks forward with id; scenario-001 arithmetic
    // for seconds/millis so every field is pure index math.
    val bucket = pmod(col("id"), lit(64))
    val round = (col("id") / 64).cast("long")
    val minuteBucket = (col("id") / rowsPerMinute).cast("long")
    val epochMillis = (lit(baseEpochSec) + minuteBucket * 60 + pmod(round, lit(60))) * 1000 +
      pmod(bucket * 17 + round, lit(1000))
    val ts = timestamp_millis(epochMillis)

    // Deterministic filler + embedded extractable markers, consistent with
    // the `tool` column (grok-stage ground truth).
    val fillerArr = array(Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima").map(lit): _*)
    val filler = concat_ws(" ",
      element_at(fillerArr, pmod(col("id"), lit(12)).cast("int") + 1),
      element_at(fillerArr, pmod(col("id") * 5 + 3, lit(12)).cast("int") + 1),
      element_at(fillerArr, pmod(col("id") * 11 + 7, lit(12)).cast("int") + 1))
    val toolMarker = when(tool =!= "none",
      concat(lit(" <tool:"), tool, lit(" arg=a"), pmod(col("id"), lit(100)).cast("string"), lit(">")))
      .otherwise(lit(""))
    val errMarker = when(pmod(col("id"), lit(17)) === 0,
      concat(lit(" ERROR[E"), pmod(col("id"), lit(7)).cast("string"), lit("]")))
      .otherwise(lit(""))
    val text = concat(
      lit("turn "), convId, lit("/"), turnIdx.cast("string"), lit(" "),
      filler, toolMarker, errMarker)

    df.select(
      convId.as("conv_id"),
      turnIdx.as("turn_idx"),
      role.as("role"),
      text.as("text"),
      tool.as("tool"),
      ts.as("ts"))
  }
}
