package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalLineDedup, LineDedup, StoreCompaction}
import graft.sink.TranscriptCatalog

/** Cross-batch line dedup (graft.ops.IncrementalLineDedup): a single
  * batch equals the whole-corpus scrub, cross-batch boilerplate strips
  * from the later batch onward (history untouched — the incremental
  * contract), replays and crash-replays converge byte-for-byte with no
  * double-counted totals, and out-of-order batches fail fast.
  */
class IncrementalLineDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val boiler = "subscribe to our newsletter"

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def docsOf(catalog: TranscriptCatalog): Map[Long, (Long, Long, String)] =
    catalog.read(IncrementalLineDedup.DocsTable)
      .select("doc_id", "n_lines", "kept_line_count", "scrub_hash")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("a single batch equals the whole-corpus scrub") {
    val out = tmpDir("incline-single")
    val catalog = new TranscriptCatalog(out, spark)
    val corpus = Seq(
      1L -> s"alpha beta gamma\n$boiler",
      2L -> s"delta epsilon zeta\n$boiler",
      3L -> "eta theta iota")
    IncrementalLineDedup.processBatch(catalog, docsDf(corpus), 0L)
    val whole = LineDedup.scrub(docsDf(corpus)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    docsOf(catalog) shouldBe whole
  }

  test("cross-batch boilerplate strips from the later batch onward; history is untouched") {
    val out = tmpDir("incline-cross")
    val catalog = new TranscriptCatalog(out, spark)
    // batch 0: boilerplate appears ONCE — under the threshold, kept
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"alpha beta gamma\n$boiler")), 0L)
    val afterB0 = docsOf(catalog)
    afterB0(1L)._2 shouldBe 2L
    // batch 1: the same boilerplate again — history(1) + batch(1) > 1,
    // so the batch-1 occurrence strips; batch 0's row is untouched
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(10L -> s"kappa lambda mu\n$boiler", 11L -> "nu xi omicron")), 1L)
    val afterB1 = docsOf(catalog)
    afterB1(1L) shouldBe afterB0(1L)
    afterB1(10L)._1 shouldBe 2L
    afterB1(10L)._2 shouldBe 1L
    afterB1(11L)._2 shouldBe 1L
    // batch 2: within-batch repetition strips on its own
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(20L -> "pi rho sigma\npi rho sigma")), 2L)
    docsOf(catalog)(20L) shouldBe ((2L, 0L,
      java.security.MessageDigest.getInstance("MD5").digest("".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("replaying a committed batch is a no-op; crash-before-marker converges without double counts") {
    val out = tmpDir("incline-replay")
    val catalog = new TranscriptCatalog(out, spark)
    val b0 = Seq(1L -> s"alpha beta gamma\n$boiler")
    val b1 = Seq(10L -> s"kappa lambda mu\n$boiler")
    IncrementalLineDedup.processBatch(catalog, docsDf(b0), 0L)
    IncrementalLineDedup.processBatch(catalog, docsDf(b1), 1L)
    val docsBefore = docsOf(catalog)
    val countsBefore = IncrementalLineDedup.countStore(catalog)
      .groupBy("lh").agg(sum("cnt").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // committed replay: everything byte-identical
    IncrementalLineDedup.processBatch(catalog, docsDf(b1), 1L)
    docsOf(catalog) shouldBe docsBefore
    // crash-before-marker: drop batch 1's marker (docs + counts remain
    // on disk exactly as a crash in that window leaves them), replay
    catalog.dropPartitions(IncrementalLineDedup.MarkerTable, "batch_id", _ == "1")
    StoreCompaction.committedView(catalog, IncrementalLineDedup.MarkerTable) shouldBe
      StoreCompaction.CommittedView(-1L, Set(0L))
    IncrementalLineDedup.processBatch(catalog, docsDf(b1), 1L)
    docsOf(catalog) shouldBe docsBefore
    val countsAfter = IncrementalLineDedup.countStore(catalog)
      .groupBy("lh").agg(sum("cnt").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    countsAfter shouldBe countsBefore
  }

  test("the count store aggregates exchange-free (bucketed by lh)") {
    val out = tmpDir("incline-plan")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"alpha beta gamma\n$boiler")), 0L)
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(2L -> s"delta epsilon zeta\n$boiler")), 1L)
    val hist = IncrementalLineDedup.countStore(catalog)
      .groupBy("lh").agg(sum("cnt").as("hist"))
    hist.collect().length should be > 0
    val plan = hist.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the bucketed store provides the lh hash distribution itself — the
    // historical-totals aggregation must never exchange the store side
    "Exchange hashpartitioning\\(lh".r.findAllIn(plan).size shouldBe 0
    plan should include("Bucketed: true")
  }

  test("an out-of-order batch id fails fast") {
    val out = tmpDir("incline-order")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(1L -> "alpha beta gamma")), 5L)
    val ex = intercept[IllegalArgumentException] {
      IncrementalLineDedup.processBatch(catalog,
        docsDf(Seq(2L -> "delta epsilon zeta")), 3L)
    }
    ex.getMessage should include("out-of-order")
  }

  test("the catalog query equals the store flow on the split corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("incline-equiv")
    val catalog = new TranscriptCatalog(out, spark)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    IncrementalLineDedup.processBatch(catalog, d.filter(col("doc_id") < 250), 0L)
    IncrementalLineDedup.processBatch(catalog, d.filter(col("doc_id") >= 250), 1L)
    val storeRows = catalog.read(IncrementalLineDedup.DocsTable)
      .filter(col("batch_id") === 1L)
      .select("doc_id", "n_lines", "kept_line_count", "scrub_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val queryRows = OpsQueries.queries("q_incremental_linededup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    storeRows shouldBe queryRows
  }

  test("a post-commit batch with zero line units skips the pre-gate instead of NPEing") {
    // stat.bloomFilter on an empty frame NPEs (null aggregate buffer), so
    // an empty micro-batch arriving AFTER the first commit — the exact
    // shape a streaming sink replays forever — must commit cleanly.
    val out = tmpDir("incline-empty")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"alpha beta gamma\n$boiler")), 0L)
    val before = docsOf(catalog)
    IncrementalLineDedup.processBatch(catalog, docsDf(Seq.empty), 1L)
    StoreCompaction.committedView(catalog, IncrementalLineDedup.MarkerTable) shouldBe
      StoreCompaction.CommittedView(-1L, Set(0L, 1L))
    docsOf(catalog) shouldBe before
    // and the stream continues normally afterwards
    IncrementalLineDedup.processBatch(catalog,
      docsDf(Seq(10L -> s"kappa lambda mu\n$boiler")), 2L)
    docsOf(catalog)(10L)._2 shouldBe 1L
  }

  test("the store-side bloom pre-gate never changes a scrub (gated ≡ ungated)") {
    // Same two-batch sequence into two catalogs, pre-gate on vs off: the
    // sketch of the batch's units may only SKIP history rows the batch
    // never mentions, so the docs tables must be identical — including a
    // cross-batch strip whose unit IS in history (a sketch false negative
    // there would silently under-strip).
    val dir = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val outs = Seq(true, false).map { gate =>
      val catalog = new TranscriptCatalog(tmpDir(s"incline-gate-$gate"), spark)
      IncrementalLineDedup.processBatch(catalog, d.filter(col("doc_id") < 250), 0L,
        storePreGate = gate)
      IncrementalLineDedup.processBatch(catalog, d.filter(col("doc_id") >= 250), 1L,
        storePreGate = gate)
      catalog.read(IncrementalLineDedup.DocsTable)
        .select("doc_id", "batch_id", "n_lines", "kept_line_count", "scrub_hash")
        .collect().map(_.toString).sorted
    }
    outs(0) shouldBe outs(1)
  }
}
