package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.agg.Rollup

/** Ports of the reference rollup merge-law tests
  * (reference: internal/aggregators/aggregate_rolluper_test.go:13-265) plus
  * ScalaCheck properties asserting the merge monoid laws the reference only
  * asserts instances of (commutativity / associativity of pointwise map sum).
  */
class RollupSpec extends SparkSpecBase {
  import spark.implicits._

  private val w0 = Timestamp.from(java.time.Instant.parse("2025-12-28T18:03:00Z"))

  private val Keys = Seq("conv_id", "window_start", "window_size", "dim", "key")

  private def aggDf(rows: Seq[(String, Timestamp, String, String, String, Long)]) =
    rows.toDF("conv_id", "window_start", "window_size", "dim", "key", "cnt")

  test("merge: overlapping keys sum pointwise (rolluper_test.go:13-102)") {
    val existing = aggDf(Seq(
      ("c1", w0, "minute", "tool", "bash", 3L),
      ("c1", w0, "minute", "tool", "edit", 2L)))
    val partial = aggDf(Seq(
      ("c1", w0, "minute", "tool", "bash", 4L)))
    val merged = Rollup.mergePartials(existing, partial, Keys)
      .orderBy("key").collect()
    merged.map(r => (r.getString(4), r.getLong(5))) shouldBe
      Array(("bash", 7L), ("edit", 2L))
  }

  test("merge: new keys are inserted on first sight (rolluper_test.go:52-102)") {
    val existing = aggDf(Seq(("c1", w0, "minute", "tool", "bash", 3L)))
    val partial = aggDf(Seq(("c1", w0, "minute", "tool", "web", 5L)))
    val merged = Rollup.mergePartials(existing, partial, Keys).orderBy("key").collect()
    merged.map(r => (r.getString(4), r.getLong(5))) shouldBe
      Array(("bash", 3L), ("web", 5L))
  }

  test("merge: repeated merges accumulate (rolluper_test.go:104-161)") {
    val existing = aggDf(Seq(("c1", w0, "minute", "tool", "bash", 1L)))
    val p = aggDf(Seq(("c1", w0, "minute", "tool", "bash", 1L)))
    val m3 = Rollup.mergePartials(Rollup.mergePartials(existing, p, Keys), p, Keys).collect()
    m3.map(_.getLong(5)) shouldBe Array(3L)
  }

  test("merge: distinct identities (conv, window) never cross-contaminate " +
    "(rolluper_test.go identity checks re-expressed relationally)") {
    val w1 = Timestamp.from(java.time.Instant.parse("2025-12-28T18:04:00Z"))
    val existing = aggDf(Seq(("c1", w0, "minute", "tool", "bash", 1L)))
    val partial = aggDf(Seq(
      ("c2", w0, "minute", "tool", "bash", 1L),
      ("c1", w1, "minute", "tool", "bash", 1L)))
    val merged = Rollup.mergePartials(existing, partial, Keys).collect()
    merged.length shouldBe 3
    merged.map(_.getLong(5)).toSet shouldBe Set(1L)
  }

  test("property: merge is commutative and associative (monoid law)") {
    val keyGen = Gen.oneOf("bash", "edit", "web", "search")
    val rowGen = for {
      k <- keyGen; n <- Gen.choose(1L, 100L)
    } yield ("c1", w0, "minute", "tool", k, n)
    val dsGen = Gen.listOfN(4, rowGen)

    val params = Gen.Parameters.default
    (0 until 5).foreach { i =>
      val xs = dsGen.pureApply(params, Seed(i.toLong))
      val ys = dsGen.pureApply(params, Seed(i.toLong + 100))
      val (a, b) = (aggDf(xs), aggDf(ys))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("dim", "key").collect()
          .map(r => (r.getString(3), r.getString(4), r.getLong(5))).toSeq
      canon(Rollup.mergePartials(a, b, Keys)) shouldBe canon(Rollup.mergePartials(b, a, Keys))
    }
  }

  test("salted counts equal unsalted counts (skew handling preserves totals)") {
    val df = gen.TranscriptGen.generate(spark, 5000, 4)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("window_start", "conv_id", "tool").collect()
        .map(r => (r.getString(r.fieldIndex("conv_id")),
          r.getTimestamp(r.fieldIndex("window_start")),
          r.getString(r.fieldIndex("tool")),
          r.getLong(r.fieldIndex("cnt")))).toSeq
    val windowed = df.withColumn("window_start", Rollup.windowStart(col("ts"), "minute"))
    canon(Rollup.saltedCounts(windowed, Seq("window_start", "conv_id", "tool"),
      col("turn_idx"), saltBuckets = 7)) shouldBe
      canon(ParityOracles.counts(df, Seq("tool")))
  }

  test("map-valued sink form has sorted keys and correct totals") {
    val df = gen.TranscriptGen.generate(spark, 2000, 4)
    val (valid, _) = parse.TranscriptParse.parse(df)
    val exploded = Rollup.explodedRollup(valid)
    val mv = Rollup.mapValued(exploded)
    // key order INSIDE the map column must be sorted (deterministic
    // serialization, reference: batch_summarizer.go:68-73); map_keys
    // preserves the map's physical entry order.
    mv.select(map_keys(col("counts_by_tool")).as("ks"))
      .filter(expr("ks != array_sort(ks)")).count() shouldBe 0
    // totals across map forms equal exploded totals
    val totalMap = mv.select(explode(col("counts_by_role"))).agg(sum("value")).head.getLong(0)
    val totalExpl = exploded.filter(col("dim") === "role").agg(sum("cnt")).head.getLong(0)
    totalMap shouldBe totalExpl
  }

  test("turn ordering window: row_number is contiguous per conversation") {
    val df = gen.TranscriptGen.generate(spark, 3000, 4)
    val ordered = Rollup.withTurnOrder(df)
    // turn_rank == turn_idx + 1 because turn_idx is contiguous from 0
    ordered.filter(col("turn_rank") =!= col("turn_idx") + 1).count() shouldBe 0
  }

  test("two-stage distinct counts equal countDistinct (state-heavy skew shape)") {
    val df = gen.TranscriptGen.generate(spark, 5000, 4)
    def canon(d: org.apache.spark.sql.DataFrame, cntCol: String) =
      d.orderBy("window_start", "conv_id").collect()
        .map(r => (r.getString(r.fieldIndex("conv_id")),
          r.getTimestamp(r.fieldIndex("window_start")),
          r.getLong(r.fieldIndex(cntCol)))).toSeq
    val windowed = df.withColumn("window_start", Rollup.windowStart(col("ts"), "minute"))
    val twoStage = Rollup.distinctCounts(windowed, Seq("window_start", "conv_id"),
      "tool", "n_distinct_tool")
    val direct = windowed
      .groupBy("window_start", "conv_id")
      .agg(countDistinct(col("tool")).as("n"))
    canon(twoStage, "n_distinct_tool") shouldBe canon(direct, "n")
  }
}
