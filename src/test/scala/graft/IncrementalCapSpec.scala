package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalCap, StoreCompaction}
import graft.sink.TranscriptCatalog

/** Cross-batch per-source capping (graft.ops.IncrementalCap): per-source
  * budgets fill across batches and never exceed k, earlier batches'
  * verdicts are never revoked, replays and crash-replays converge with
  * no double-spent budget, out-of-order batches fail fast, and the
  * catalog query equals the store flow on the split corpus.
  */
class IncrementalCapSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "source")

  private def verdicts(catalog: TranscriptCatalog): Map[Long, (String, Long, Boolean)] =
    catalog.read(IncrementalCap.DocsTable)
      .select("doc_id", "source", "keep_rank", "kept")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap

  test("budgets fill across batches and never exceed k; small sources stay uncapped") {
    val out = tmpDir("inccap")
    val catalog = new TranscriptCatalog(out, spark)
    val k = 5
    // batch 0: 3 docs of A (all kept), 1 of B
    IncrementalCap.processBatch(catalog,
      docsDf(Seq(1L -> "A", 2L -> "A", 3L -> "A", 4L -> "B")), 0L, k)
    verdicts(catalog).values.count(_._3) shouldBe 4
    // batch 1: 4 more of A — only 2 fit (base 3 + rank < 5)
    IncrementalCap.processBatch(catalog,
      docsDf(Seq(10L -> "A", 11L -> "A", 12L -> "A", 13L -> "A")), 1L, k)
    val v1 = verdicts(catalog)
    v1.filter(_._2._1 == "A").values.count(_._3) shouldBe 5
    // batch 2: A is exhausted, B still has room
    IncrementalCap.processBatch(catalog,
      docsDf(Seq(20L -> "A", 21L -> "B")), 2L, k)
    val v2 = verdicts(catalog)
    v2(20L)._3 shouldBe false
    v2(21L)._3 shouldBe true
    v2.filter(_._2._1 == "A").values.count(_._3) shouldBe 5
    // earlier verdicts were never revoked
    v1.foreach { case (id, v) => v2(id) shouldBe v }
  }

  test("replaying a committed batch is a no-op; crash-before-marker converges") {
    val out = tmpDir("inccap-replay")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalCap.processBatch(catalog, docsDf(Seq(1L -> "A", 2L -> "A")), 0L, 1)
    val before = verdicts(catalog)
    // replay with DIFFERENT (wrong) data: committed ⇒ untouched
    IncrementalCap.processBatch(catalog, docsDf(Seq(9L -> "A")), 0L, 1)
    verdicts(catalog) shouldBe before
    // crash window: batch 1's verdicts and counts land but the marker
    // doesn't — simulate by pre-writing garbage partitions for batch 1,
    // then the replay must REPLACE them, not append beside them
    val junk = docsDf(Seq(99L -> "A")).select(col("doc_id"), col("source"),
      lit(0L).as("keep_rank"), lit(true).as("kept"), lit(1L).as("batch_id"))
    catalog.overwritePartitions(junk, IncrementalCap.DocsTable, Seq("batch_id"))
    catalog.overwritePartitions(
      Seq(("A", 7L, 1L)).toDF("source", "kept_docs", "batch_id"),
      IncrementalCap.CountsTable, Seq("batch_id"))
    IncrementalCap.processBatch(catalog, docsDf(Seq(10L -> "B")), 1L, 1)
    val after = verdicts(catalog)
    after.keySet shouldBe Set(1L, 2L, 10L)
    after(10L)._3 shouldBe true
    // the junk count row is gone: batch 2 for A still sees base 1, not 7+
    catalog.read(IncrementalCap.CountsTable)
      .filter(col("batch_id") === 1L && col("source") === "A")
      .count() shouldBe 0L
  }

  test("an out-of-order batch id fails fast") {
    val out = tmpDir("inccap-order")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalCap.processBatch(catalog, docsDf(Seq(1L -> "A")), 5L, 3)
    val ex = intercept[IllegalArgumentException] {
      IncrementalCap.processBatch(catalog, docsDf(Seq(2L -> "A")), 3L, 3)
    }
    ex.getMessage should include("out-of-order")
  }

  test("the catalog query equals the store flow on the split corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("inccap-equiv")
    val catalog = new TranscriptCatalog(out, spark)
    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "source")
    IncrementalCap.processBatch(catalog, d.filter(col("doc_id") < 250), 0L, 15)
    IncrementalCap.processBatch(catalog, d.filter(col("doc_id") >= 250), 1L, 15)
    val storeRows = catalog.read(IncrementalCap.DocsTable)
      .filter(col("batch_id") === 1L)
      .select("doc_id", "source", "keep_rank", "kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val queryRows = OpsQueries.queries("q_incremental_capsource")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    storeRows shouldBe queryRows
  }

  test("an empty micro-batch commits as a no-op instead of NPEing") {
    // The prefix-sum maxPerKey probe aggregates a null buffer on zero
    // rows; an empty batch (common in streaming) must still commit its
    // marker so the stream advances.
    val out = tmpDir("inccap-empty")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalCap.processBatch(catalog, docsDf(Seq(1L -> "A")), 0L, 3)
    val before = verdicts(catalog)
    IncrementalCap.processBatch(catalog, docsDf(Seq.empty), 1L, 3)
    StoreCompaction.committedView(catalog, IncrementalCap.MarkerTable) shouldBe
      StoreCompaction.CommittedView(-1L, Set(0L, 1L))
    verdicts(catalog) shouldBe before
    IncrementalCap.processBatch(catalog, docsDf(Seq(10L -> "A")), 2L, 3)
    verdicts(catalog)(10L)._3 shouldBe true
  }

  test("NULL sources are capped under a sentinel group, never silently dropped") {
    val out = tmpDir("inccap-null")
    val catalog = new TranscriptCatalog(out, spark)
    val k = 2
    val b0 = Seq[(java.lang.Long, String)]((1L, null), (2L, null), (3L, "A"))
      .toDF("doc_id", "source")
    IncrementalCap.processBatch(catalog, b0, 0L, k)
    val v0 = verdicts(catalog)
    // every doc got a verdict row (the audit contract)
    v0.keySet shouldBe Set(1L, 2L, 3L)
    v0(1L)._1 shouldBe IncrementalCap.NullSourceSentinel
    Seq(v0(1L)._3, v0(2L)._3).count(identity) shouldBe 2 // both fit in k=2
    // the null group's budget persists across batches
    val b1 = Seq[(java.lang.Long, String)]((10L, null)).toDF("doc_id", "source")
    IncrementalCap.processBatch(catalog, b1, 1L, k)
    verdicts(catalog)(10L)._3 shouldBe false // budget spent by batch 0
  }
}
