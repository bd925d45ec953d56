package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.agg.Rollup
import graft.enrich.Enrich
import graft.gen.TranscriptGen
import graft.parse.TranscriptParse

/** Physical-plan quality gates: these assert the plan SHAPE that survives a
  * 1000-executor / 100 TB scale-up, so a regression that silently degrades
  * to a shuffle join, a full scan, or a single-stage aggregate fails CI.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("enrich uses BroadcastHashJoin (never shuffles the fact side)") {
    val (valid, _) = TranscriptParse.parse(TranscriptGen.generate(spark, 1000, 2))
    val p = plan(Enrich.enrich(valid, spark))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
  }

  test("rollup plan has partial aggregation before the exchange (map-side combine)") {
    val (valid, _) = TranscriptParse.parse(TranscriptGen.generate(spark, 1000, 2))
    val p = plan(Rollup.explodedRollup(valid))
    // Catalyst's two-phase agg: HashAggregate(partial) -> Exchange -> HashAggregate(final)
    val partialIdx = p.indexOf("partial_count")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    partialIdx should be >= 0
    exchangeIdx should be >= 0
    // partial agg appears BELOW the exchange in the tree (later in the string)
    partialIdx should be > exchangeIdx
  }

  test("filters and projection push down to the parquet scan") {
    val dir = tmpDir("plan-pushdown")
    TranscriptGen.generate(spark, 1000, 2).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("role") === "user" && col("turn_idx") > 5)
      .select("conv_id", "turn_idx")
    val p = df.queryExecution.executedPlan.toString
    p should include("PushedFilters: [")
    p should include("IsNotNull(role)")
    p should include("GreaterThan(turn_idx,5)")
    // column pruning: the scan must not read the wide text column
    p should include("ReadSchema")
    p.split("ReadSchema:")(1).split("\n")(0) should not include "text"
  }

  test("partition pruning: point lookup of one window touches one directory (K3)") {
    val dir = tmpDir("plan-prune")
    val df = TranscriptGen.generate(spark, 5000, 2)
      .withColumn("window_key",
        Rollup.windowKey(Rollup.windowStart(col("ts"), "minute"), "minute"))
    df.write.partitionBy("window_key").mode("overwrite").parquet(dir)
    val lookup = spark.read.parquet(dir).filter(col("window_key") === "20251228T1801Z")
    val scan = lookup.queryExecution.executedPlan.collectLeaves().head.toString
    // partition filter present, and only the matching files selected
    scan should include("PartitionFilters")
    scan should include("20251228T1801Z")
    lookup.count() should be > 0L
  }

  test("whole-stage codegen covers the parse projection (no interpreted hot path)") {
    val (valid, _) = TranscriptParse.parse(TranscriptGen.generate(spark, 1000, 2))
    val p = plan(valid.select("conv_id", "tool_invoked", "error_code"))
    // '*' prefixes mark whole-stage-codegen'd operators in the plan string
    p should include("*(1)")
  }

  test("IVF top-k plan is shuffle-free up to the final top-k gather") {
    val e = graft.ops.Similarity.prepare(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val p = plan(graft.ops.Similarity.ivfTopK(spark, e, 0, 10, nCells = 8, nprobe = 4))
    // round-1 review: assignment must be a projection, not crossJoin +
    // window argmin — no Window, no Join, and the only ordering operator is
    // the TakeOrderedAndProject top-k itself.
    p should not include "Window"
    p should not include "Join"
    p should not include "Exchange hashpartitioning"
    p should include("TakeOrderedAndProject")
  }

  test("broadcast-centroid IVF at nCells=512: vector side never hash-exchanged") {
    // Round-2 review item #6: beyond-literal centroid scale path. The
    // centroid table and probe list are checkpointed inputs, so the top-k
    // plan must be: scan → single-row broadcast (cell argmax projection) →
    // BroadcastHashJoin on cell → TakeOrderedAndProject. Any hash exchange
    // would mean the VECTOR payload is being shuffled.
    val syn = graft.ops.Similarity.syntheticVectors(spark, 2000)
    val cents = graft.ops.Similarity.buildIvfTable(syn, nCells = 512)
    val p = plan(graft.ops.Similarity.ivfTopKBroadcast(
      syn, 0, 10, nCells = 512, nprobe = 64, centsOpt = Some(cents)))
    p should not include "Exchange hashpartitioning"
    p should not include "Window"
    p should not include "SortMergeJoin"
    p should include("BroadcastHashJoin")
    p should include("TakeOrderedAndProject")
  }

  test("salted rollup produces two exchanges (stage-1 salt spread, stage-2 final)") {
    val (valid, _) = TranscriptParse.parse(TranscriptGen.generate(spark, 1000, 2))
    val p = plan(Rollup.explodedRollup(valid))
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 2
    p should include("salt")
  }
}
