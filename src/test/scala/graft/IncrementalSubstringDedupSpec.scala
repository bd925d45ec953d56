package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalSubstringDedup, StoreCompaction, SubstringDedup}
import graft.sink.TranscriptCatalog

/** Cross-batch substring dedup (graft.ops.IncrementalSubstringDedup): a
  * single batch equals the whole-corpus scrub, a verbatim span repeated
  * across batches strips from the later batch onward (history untouched
  * — the incremental contract), replays and crash-replays converge with
  * no double-counted gram totals, and out-of-order batches fail fast.
  */
class IncrementalSubstringDedupSpec extends SparkSpecBase {
  import spark.implicits._

  // 9 tokens — long enough to carry two overlapping 8-grams
  private val boiler = "please subscribe to our newsletter for more updates today"

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def docsOf(catalog: TranscriptCatalog): Map[Long, (Int, Int, String)] =
    catalog.read(IncrementalSubstringDedup.DocsTable)
      .select("doc_id", "n_tokens", "kept_tokens", "scrub_hash")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap

  test("a single batch equals the whole-corpus scrub") {
    val out = tmpDir("incsub-single")
    val catalog = new TranscriptCatalog(out, spark)
    val corpus = Seq(
      1L -> s"one two three four five six seven eight $boiler",
      2L -> s"alpha beta gamma delta epsilon zeta eta theta $boiler",
      3L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen")
    IncrementalSubstringDedup.processBatch(catalog, docsDf(corpus), 0L)
    val whole = SubstringDedup.scrub(docsDf(corpus)).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    docsOf(catalog) shouldBe whole
  }

  test("a cross-batch verbatim span strips from the later batch onward; history is untouched") {
    val out = tmpDir("incsub-cross")
    val catalog = new TranscriptCatalog(out, spark)
    // batch 0: the boilerplate sentence appears once — kept whole
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"one two three four five six seven eight $boiler")), 0L)
    val afterB0 = docsOf(catalog)
    afterB0(1L) shouldBe ((17, 17, afterB0(1L)._3))
    // batch 1: the same sentence inside fresh text — its grams now reach
    // 2 occurrences, so the batch-1 span is cut; batch 0's row is untouched
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(
        10L -> s"kappa lambda mu nu xi omicron pi rho $boiler",
        11L -> "nova quasar pulsar comet meteor nebula galaxy cluster")), 1L)
    val afterB1 = docsOf(catalog)
    afterB1(1L) shouldBe afterB0(1L)
    afterB1(10L)._1 shouldBe 17
    afterB1(10L)._2 shouldBe 8 // the 9-token boiler span cut
    afterB1(11L)._2 shouldBe 8 // fresh doc passes through whole
    // batch 2: a within-batch verbatim repeat strips on its own
    val phrase = "sigma tau upsilon phi chi psi omega zero"
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(20L -> s"$phrase $phrase")), 2L)
    docsOf(catalog)(20L) shouldBe ((16, 0,
      java.security.MessageDigest.getInstance("MD5").digest("".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
  }

  test("replaying a committed batch is a no-op; crash-before-marker converges without double counts") {
    val out = tmpDir("incsub-replay")
    val catalog = new TranscriptCatalog(out, spark)
    val b0 = Seq(1L -> s"one two three four five six seven eight $boiler")
    val b1 = Seq(10L -> s"kappa lambda mu nu xi omicron pi rho $boiler")
    IncrementalSubstringDedup.processBatch(catalog, docsDf(b0), 0L)
    IncrementalSubstringDedup.processBatch(catalog, docsDf(b1), 1L)
    val docsBefore = docsOf(catalog)
    def counts() = IncrementalSubstringDedup.countStore(catalog)
      .groupBy("gh").agg(sum("cnt").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val countsBefore = counts()
    // committed replay: everything byte-identical
    IncrementalSubstringDedup.processBatch(catalog, docsDf(b1), 1L)
    docsOf(catalog) shouldBe docsBefore
    // crash-before-marker: drop batch 1's marker (docs + counts remain on
    // disk exactly as a crash in that window leaves them), then replay
    catalog.dropPartitions(IncrementalSubstringDedup.MarkerTable, "batch_id", _ == "1")
    StoreCompaction.committedView(catalog, IncrementalSubstringDedup.MarkerTable) shouldBe
      StoreCompaction.CommittedView(-1L, Set(0L))
    IncrementalSubstringDedup.processBatch(catalog, docsDf(b1), 1L)
    docsOf(catalog) shouldBe docsBefore
    counts() shouldBe countsBefore
  }

  test("the gram-count store aggregates exchange-free (bucketed by gh)") {
    val out = tmpDir("incsub-plan")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"one two three four five six seven eight $boiler")), 0L)
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(2L -> s"alpha beta gamma delta epsilon zeta eta theta $boiler")), 1L)
    val hist = IncrementalSubstringDedup.countStore(catalog)
      .groupBy("gh").agg(sum("cnt").as("hist"))
    hist.collect().length should be > 0
    val plan = hist.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    "Exchange hashpartitioning\\(gh".r.findAllIn(plan).size shouldBe 0
    plan should include("Bucketed: true")
  }

  test("an out-of-order batch id fails fast") {
    val out = tmpDir("incsub-order")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(1L -> "one two three four five six seven eight nine")), 5L)
    val ex = intercept[IllegalArgumentException] {
      IncrementalSubstringDedup.processBatch(catalog,
        docsDf(Seq(2L -> "ten eleven twelve thirteen fourteen fifteen sixteen seventeen")), 3L)
    }
    ex.getMessage should include("out-of-order")
  }

  test("the catalog query equals the store flow on the split corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("incsub-equiv")
    val catalog = new TranscriptCatalog(out, spark)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    IncrementalSubstringDedup.processBatch(catalog, d.filter(col("doc_id") < 250), 0L)
    IncrementalSubstringDedup.processBatch(catalog, d.filter(col("doc_id") >= 250), 1L)
    val storeRows = catalog.read(IncrementalSubstringDedup.DocsTable)
      .filter(col("batch_id") === 1L)
      .select("doc_id", "n_tokens", "kept_tokens", "scrub_hash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    val queryRows = OpsQueries.queries("q_incremental_substring")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    storeRows shouldBe queryRows
  }

  test("the store-side bloom pre-gate never changes a scrub (gated ≡ ungated)") {
    val dir = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val outs = Seq(true, false).map { gate =>
      val catalog = new TranscriptCatalog(tmpDir(s"incsub-gate-$gate"), spark)
      IncrementalSubstringDedup.processBatch(catalog, d.filter(col("doc_id") < 250), 0L,
        storePreGate = gate)
      IncrementalSubstringDedup.processBatch(catalog, d.filter(col("doc_id") >= 250), 1L,
        storePreGate = gate)
      catalog.read(IncrementalSubstringDedup.DocsTable)
        .select("doc_id", "batch_id", "n_tokens", "kept_tokens", "scrub_hash")
        .collect().map(_.toString).sorted
    }
    outs(0) shouldBe outs(1)
  }

  test("a post-commit batch with only sub-k docs skips the pre-gate instead of NPEing") {
    // Docs shorter than k tokens produce ZERO positioned grams, and
    // stat.bloomFilter NPEs on an empty frame — so a post-first-commit
    // batch of short docs must commit (its docs kept whole), not wedge
    // the stream on a permanently-replaying NPE.
    val out = tmpDir("incsub-short")
    val catalog = new TranscriptCatalog(out, spark)
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(1L -> s"one two three four five six seven eight $boiler")), 0L)
    val before = docsOf(catalog)
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(10L -> "tiny doc", 11L -> "three short words")), 1L)
    StoreCompaction.committedView(catalog, IncrementalSubstringDedup.MarkerTable) shouldBe
      StoreCompaction.CommittedView(-1L, Set(0L, 1L))
    val after = docsOf(catalog)
    after(1L) shouldBe before(1L)
    after(10L) shouldBe ((2, 2, after(10L)._3)) // kept whole
    after(11L)._2 shouldBe 3
    // and the stream continues normally afterwards
    IncrementalSubstringDedup.processBatch(catalog,
      docsDf(Seq(20L -> s"alpha beta gamma delta epsilon zeta eta theta $boiler")), 2L)
    docsOf(catalog)(20L)._2 should be < 17 // the cross-batch boiler span stripped
  }
}
