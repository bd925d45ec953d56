package graft

import org.apache.spark.sql.functions._
import graft.ops.IncrementalDedup
import graft.sink.TranscriptCatalog

/** Cross-run incremental near-dup (VERDICT round-2 item #2): run 2 must drop
  * new-batch docs that near-duplicate docs kept by run 1, consulting only the
  * persisted signature STORE (never re-reading run 1's documents).
  */
class IncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val Bands = 2
  private val Rows = 1

  // 3-shingle sets via the shared tokenizer (same convention as
  // OpsQueries.docShingles).
  private def toks(texts: Seq[(Long, String)]) =
    IncrementalDedup.shingles(texts.toDF("doc_id", "text"), "text")

  test("run 2 drops near-dups of run 1's corpus via the persisted store") {
    val out = tmpDir("inc-dedup")
    val catalog = new TranscriptCatalog(out, spark)

    // Run 1: fresh corpus — everything kept, signatures persisted.
    val day1 = toks(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a completely different document about spark physical plans"))
    val (kept1, dropped1, sigs1) = IncrementalDedup.dedupBatch(
      day1, IncrementalDedup.signatures(day1.limit(0), "doc_id", "toks", Bands, Rows),
      "doc_id", "toks", Bands, Rows)
    kept1.count() shouldBe 2L
    dropped1.count() shouldBe 0L
    catalog.append(sigs1, "signatures")

    // Run 2: one exact replay of doc 1, one near-dup of doc 2 (shared
    // shingles ⇒ shared minima), one fresh doc, one token-less doc.
    val day2 = toks(Seq(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "a completely different document about spark physical plans indeed",
      12L -> "entirely novel content regarding duckdb oracle checks",
      13L -> "too short"))
    val store = catalog.read("signatures")
    val (kept2, dropped2, sigs2) = IncrementalDedup.dedupBatch(
      day2, store, "doc_id", "toks", Bands, Rows)
    dropped2.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(10L, 11L)
    kept2.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(12L, 13L)
    catalog.append(sigs2, "signatures")

    // Run 3: a replay of run 2's KEPT doc now collides with the grown store.
    val day3 = toks(Seq(
      20L -> "entirely novel content regarding duckdb oracle checks"))
    val (kept3, dropped3, _) = IncrementalDedup.dedupBatch(
      day3, catalog.read("signatures"), "doc_id", "toks", Bands, Rows)
    kept3.count() shouldBe 0L
    dropped3.select("doc_id").collect().map(_.getLong(0)) shouldBe Array(20L)
    // the store only ever holds KEPT docs' signatures
    catalog.read("signatures").select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 12L)
  }

  test("bloom pre-gate: duplicateIdsBloom equals duplicateIds on a mixed batch") {
    val out = tmpDir("inc-bloom")
    val catalog = new TranscriptCatalog(out, spark)
    val day1 = toks(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a completely different document about spark physical plans"))
    val (_, _, sigs1) = IncrementalDedup.dedupBatch(
      day1, IncrementalDedup.signatures(day1.limit(0), "doc_id", "toks", Bands, Rows),
      "doc_id", "toks", Bands, Rows)
    catalog.append(sigs1, "signatures")
    val store = catalog.read("signatures")
    val (sketch, _, _) = IncrementalDedup.storeSketch(store, 1L << 16, 0.01)
    val day2 = toks(Seq(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "a completely different document about spark physical plans indeed",
      12L -> "entirely novel content regarding duckdb oracle checks"))
    val sigs2 = IncrementalDedup.signatures(day2, "doc_id", "toks", Bands, Rows)
    val gated = IncrementalDedup.duplicateIdsBloom(sigs2, store, "doc_id", sketch)
      .collect().map(_.getLong(0)).toSet
    val ungated = IncrementalDedup.duplicateIds(sigs2, store, "doc_id")
      .collect().map(_.getLong(0)).toSet
    gated shouldBe ungated
    gated shouldBe Set(10L, 11L)
    // the probe filter runs below any exchange (AQE off for a plain tree)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = IncrementalDedup.duplicateIdsBloom(sigs2, store, "doc_id", sketch)
        .queryExecution.executedPlan
      val bloomFilters = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.toLowerCase.contains("bloommightcontain") => f
      }
      bloomFilters should not be empty
      bloomFilters.foreach { f =>
        f.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        } shouldBe empty
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bucketed signature store: the store side of the semi-join never re-shuffles") {
    // Round-3 verdict item #2: the store is the BIG side of every daily
    // semi-join, so it must be written bucketed by the join key and read
    // back through the session catalog — then a later run's duplicateIds
    // exchanges ONLY its own (small) batch side.
    val out = tmpDir("inc-bucketed")
    val catalog = new TranscriptCatalog(out, spark)
    val day1 = toks(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a completely different document about spark physical plans",
      3L -> "entirely novel content regarding duckdb oracle checks"))
    IncrementalDedup.appendSignatures(catalog,
      IncrementalDedup.signatures(day1, "doc_id", "toks", Bands, Rows), 0L,
      nBuckets = 4)
    // Simulate a NEW session/run: drop the session-catalog registration,
    // then re-register over the existing files (signatureStore does this).
    spark.sql(s"DROP TABLE ${catalog.bucketedName(IncrementalDedup.StoreTable)}")
    val store = IncrementalDedup.signatureStore(catalog, nBuckets = 4)
    store.select("doc_id").distinct().count() shouldBe 3L

    val day2 = toks(Seq(
      10L -> "the quick brown fox jumps over the lazy dog",
      12L -> "fresh words that collide with nothing at all today"))
    val newSigs = IncrementalDedup.signatures(day2, "doc_id", "toks", Bands, Rows)
    // Force the SMJ shape (at 100 TB the batch side is not broadcastable).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dups = IncrementalDedup.duplicateIds(newSigs, store, "doc_id")
      dups.collect().map(_.getLong(0)) shouldBe Array(10L)
      // AQE's plan string carries Final + Initial sections; gate the FINAL.
      val plan = dups.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // exactly one (band_idx, band_hash) exchange — the new-batch side;
      // the bucketed store scan provides its own hash partitioning (a
      // second one would mean the store re-shuffled). The only other
      // exchange is the id-distinct above the join.
      "Exchange hashpartitioning\\(band_idx".r.findAllIn(plan).size shouldBe 1
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).size shouldBe 1
      plan should include("Bucketed: true")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_incremental_neardup matches the within-corpus pair set at the split point") {
    // Every batch doc flagged is_dup must share a band with SOME history doc
    // — cross-check against dd_minhash_lsh's pair set restricted to
    // (history, batch) pairs.
    val dir = "/root/testdata/sf0.01"
    val res = OpsQueries.queries("q_incremental_neardup")(spark, dir)
    val flagged = res.filter(col("is_dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = OpsQueries.queries("dd_minhash_lsh")(spark, dir)
      .filter(col("doc_a") < 250 && col("doc_b") >= 250)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    flagged shouldBe pairs
    res.count() shouldBe 250L
  }

  test("the provenance pairs project exactly onto duplicateIds (and name real store docs)") {
    val dir = "/root/testdata/sf0.01"
    val pairs = OpsQueries.queries("q_neardup_pairs")(spark, dir).collect()
    pairs.foreach { r =>
      r.getLong(0) should be >= 250L       // new-batch side
      r.getLong(1) should be < 250L        // matched store doc
      r.getLong(2) should (be >= 1L and be <= 2L) // 2 bands max
    }
    val viaPairs = pairs.map(_.getLong(0)).toSet
    val flagged = OpsQueries.queries("q_incremental_neardup")(spark, dir)
      .filter(col("is_dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    viaPairs shouldBe flagged
  }
}
