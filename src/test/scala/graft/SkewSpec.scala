package graft

import org.apache.spark.sql.functions._
import graft.agg.Rollup

/** Adversarial hot-key skew: 95% of rows land in ONE (conv, window, tool)
  * key. The salted rollup must stay correct, and stage 1 must actually
  * spread the hot key across salt buckets (asserted via the stage-1
  * grouping's distinct salt count).
  */
class SkewSpec extends SparkSpecBase {
  import spark.implicits._

  private def skewed(n: Int) = {
    val base = java.time.Instant.parse("2025-12-28T18:03:00Z")
    (0 until n).map { i =>
      val conv = if (i % 20 != 0) "conv-hot" else s"conv-${i / 20}"
      (conv, i, "assistant", s"turn $i", "bash",
        java.sql.Timestamp.from(base.plusMillis(i % 60000)))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .repartition(8)
  }

  test("salted rollup is exact under 95% single-key skew") {
    val df = skewed(20000)
    val out = Rollup.saltedCounts(
        df.withColumn("window_start", Rollup.windowStart(col("ts"), "minute")),
        Seq("window_start", "conv_id", "tool"), col("turn_idx"), saltBuckets = 16)
      .collect().map(r => r.getString(r.fieldIndex("conv_id")) ->
        r.getLong(r.fieldIndex("cnt"))).toMap
    out("conv-hot") shouldBe 19000L
    out.values.sum shouldBe 20000L
    out.size shouldBe 1001 // conv-hot + 1000 cold convs
  }

  test("stage 1 spreads the hot key over the full salt range") {
    val df = skewed(20000)
    val stage1 = df
      .withColumn("window_start", Rollup.windowStart(col("ts"), "minute"))
      .withColumn("salt", pmod(hash(col("turn_idx")), lit(16)))
      .groupBy("window_start", "conv_id", "tool", "salt")
      .agg(count(lit(1)).as("partial_cnt"))
    val hotSalts = stage1.filter(col("conv_id") === "conv-hot")
      .select("salt").distinct().count()
    hotSalts shouldBe 16L // every bucket carries a share of the hot key
    // no stage-1 group exceeds ~1/16th of the hot key's rows (+ slack)
    val maxPartial = stage1.filter(col("conv_id") === "conv-hot")
      .agg(max("partial_cnt")).head.getLong(0)
    maxPartial should be < (19000L / 16 * 3 / 2)
  }
}
