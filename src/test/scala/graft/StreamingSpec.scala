package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.model.Turn
import graft.streaming.StreamingPipeline

/** Streaming pipeline semantics: dedup within watermark, windowed counts,
  * routed sink — driven through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  private def turn(conv: String, idx: Int, tool: String, at: String): Turn = {
    val marker = if (tool != "none") s" <tool:$tool arg=a1>" else ""
    Turn(conv, idx, "assistant", s"turn $conv/$idx alpha$marker", tool, ts(at))
  }

  test("streaming: dedup within watermark + windowed counts (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val transformed = StreamingPipeline.transform(spark, mem.toDF())
    val counts = StreamingPipeline.windowedCounts(transformed)
    val q = counts.writeStream
      .format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update)
      .start()
    try {
      mem.addData(
        turn("c1", 0, "bash", "2025-12-28T18:03:10Z"),
        turn("c1", 0, "bash", "2025-12-28T18:03:10Z"), // duplicate row -> dropped
        turn("c1", 1, "bash", "2025-12-28T18:03:40Z"),
        turn("c2", 0, "none", "2025-12-28T18:04:05Z"))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .groupBy("window_start", "conv_id", "tool").agg(
          org.apache.spark.sql.functions.max("cnt").as("cnt"))
        .collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1),
          r.getString(2), r.getLong(3))).sortBy(_.toString)
      out shouldBe Array(
        ("2025-12-28T18:03:00Z", "c1", "bash", 2L),
        ("2025-12-28T18:04:00Z", "c2", "none", 1L))
    } finally q.stop()
  }

  test("streaming: routed parquet sink partitions by route") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val out = tmpDir("stream-out")
    val cp = tmpDir("stream-cp")
    mem.addData(
      turn("c1", 0, "bash", "2025-12-28T18:03:10Z"),  // privileged tool
      turn("c1", 1, "none", "2025-12-28T18:03:20Z"))
    val q = StreamingPipeline
      .routedSink(StreamingPipeline.transform(spark, mem.toDF()), out, cp)
      .start()
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    written.count() shouldBe 2
    written.select("route").distinct().collect().map(_.getString(0)).sorted shouldBe
      Array("assistant_turns", "privileged_tools")
  }

  test("stateful sessionization: gap closes sessions; watermark timeout flushes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Turn]
    val sessions = StreamingPipeline.sessionize(spark, mem.toDF(),
      gapMinutes = 30, watermark = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // c1: two turns 5 min apart (one session), then a turn 40 min later
      // (gap > 30 min -> closes session 1, opens session 2)
      mem.addData(
        turn("c1", 0, "none", "2025-12-28T10:00:00Z"),
        turn("c1", 1, "none", "2025-12-28T10:05:00Z"))
      q.processAllAvailable()
      mem.addData(turn("c1", 2, "none", "2025-12-28T10:45:00Z"))
      q.processAllAvailable()
      val afterGap = spark.table("sessions").as[StreamingPipeline.SessionOut].collect()
      afterGap.map(s => (s.conv_id, s.session_start.toInstant.toString,
        s.session_end.toInstant.toString, s.n_turns)).toSeq shouldBe Seq(
        ("c1", "2025-12-28T10:00:00Z", "2025-12-28T10:05:00Z", 2L))

      // advance the watermark far past 10:45 + 30 min via another conv:
      // the open c1 session must flush through the event-time timeout
      mem.addData(turn("c9", 0, "none", "2025-12-28T13:00:00Z"))
      q.processAllAvailable()
      mem.addData(turn("c9", 1, "none", "2025-12-28T13:00:01Z"))
      q.processAllAvailable()
      val flushed = spark.table("sessions").as[StreamingPipeline.SessionOut]
        .collect().filter(_.conv_id == "c1")
        .map(s => (s.session_start.toInstant.toString, s.n_turns)).sorted.toSeq
      flushed shouldBe Seq(("2025-12-28T10:00:00Z", 2L), ("2025-12-28T10:45:00Z", 1L))
    } finally q.stop()
  }

  test("streaming incremental near-dup drops cross-batch and within-batch dups") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = tmpDir("stream-neardup")
    val cp = tmpDir("stream-neardup-cp")
    def run(): Unit = {
      val q = StreamingPipeline.batchSink(mem.toDF().toDF("doc_id", "text"), cp) {
        (b, id) => StreamingPipeline.processNeardupBatch(b, id, out, 2, 1)
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 1: two fresh docs
    mem.addData(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a completely different document about spark physical plans")
    run()
    // batch 2: cross-batch exact dup (10), cross-batch near-dup (11),
    // fresh (12), token-less (13), within-batch dup of 12 (14)
    mem.addData(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "a completely different document about spark physical plans indeed",
      12L -> "entirely novel content regarding duckdb oracle checks",
      13L -> "too short",
      14L -> "entirely novel content regarding duckdb oracle checks")
    run()
    val kept = spark.read.parquet(s"$out/docs_kept")
    kept.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 12L, 13L)
    // the signature store holds kept docs only, tagged by batch
    val sigs = spark.read.parquet(s"$out/signatures")
    sigs.select("doc_id").distinct().collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 12L) // token-less doc 13 carries no signature
    sigs.select("batch_id").distinct().count() shouldBe 2L
    // both batches committed their marker partition
    new graft.sink.TranscriptCatalog(out, spark)
      .listPartitionValues("batches", "batch_id").sorted shouldBe Seq("0", "1")
  }

  test("near-dup sink replay guard: reprocessing a committed batch_id is a no-op") {
    val out = tmpDir("stream-neardup-replay")
    // The hard case: a batch whose ONLY kept doc is token-less writes zero
    // signature rows — the `batches` commit marker must still register the
    // batch_id, or every retry would re-append docs_kept (round-3 review;
    // since round 4 the marker is a partition directory of its own tiny
    // table, so the guard is an FS metadata probe, never a store scan).
    val b = Seq(1L -> "too short").toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(b, 0L, out, 2, 1)
    val n1 = spark.read.parquet(s"$out/docs_kept").count()
    n1 shouldBe 1L
    // foreachBatch retry delivers the SAME batch id again
    StreamingPipeline.processNeardupBatch(b, 0L, out, 2, 1)
    spark.read.parquet(s"$out/docs_kept").count() shouldBe n1
    new graft.sink.TranscriptCatalog(out, spark)
      .listPartitionValues("batches", "batch_id") shouldBe Seq("0")
  }

  test("docs_kept is exactly-once through every crash window (partition overwrite, no reader dedup)") {
    import graft.sink.TranscriptCatalog
    val out = tmpDir("stream-neardup-once")
    val catalog = new TranscriptCatalog(out, spark)
    val b0 = Seq(1L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(b0, 0L, out, 2, 1)
    // Crash window A: a previous attempt of batch 1 wrote its docs_kept
    // partition (here with a STALE extra row) and died before the
    // signature append. The replay must REPLACE the partition — the stale
    // row disappears instead of accumulating.
    catalog.overwritePartitions(
      Seq(10L -> "entirely novel content regarding duckdb oracle checks",
        99L -> "a stale row from the crashed attempt that must vanish")
        .toDF("doc_id", "text").withColumn("batch_id", lit(1L)),
      "docs_kept", Seq("batch_id"))
    val b1 = Seq(10L -> "entirely novel content regarding duckdb oracle checks")
      .toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(b1, 1L, out, 2, 1)
    spark.read.parquet(s"$out/docs_kept").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 10L)
    // Crash window B: batch 1 died AFTER its signature append but before
    // the marker. The replay EXCLUDES its own batch id from the store
    // (round-6 fix), so it reproduces the original kept set instead of
    // matching docs against their own signatures.
    catalog.dropPartitions("batches", "batch_id", _ == "1")
    StreamingPipeline.processNeardupBatch(b1, 1L, out, 2, 1)
    val docs = spark.read.parquet(s"$out/docs_kept")
    docs.count() shouldBe 2L
    docs.select("doc_id").distinct().count() shouldBe 2L

    // Crash window C (the round-6 review case): batch 2's signature
    // append landed PARTIALLY (here: fully — the worst case of "some
    // rows visible") and the marker didn't. Pre-fix, the replay dropped
    // every doc whose signatures landed and REPLACED the partition with
    // the shrunken set — doc 20 would vanish from docs_kept while its
    // signatures stayed in the store.
    val b2 = Seq(20L -> "completely fresh text about partial append windows")
      .toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(b2, 2L, out, 2, 1)
    catalog.dropPartitions("batches", "batch_id", _ == "2")
    StreamingPipeline.processNeardupBatch(b2, 2L, out, 2, 1)
    spark.read.parquet(s"$out/docs_kept").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 10L, 20L)
  }

  test("pre-round-4 stores migrate: files re-bucketed, marker rows become batch markers") {
    import graft.ops.IncrementalDedup
    import graft.sink.TranscriptCatalog
    val out = tmpDir("stream-neardup-legacy")
    val catalog = new TranscriptCatalog(out, spark)
    // Reconstruct the OLD on-disk format by hand: plain (un-bucketed)
    // signature appends with the replay marker as an in-store row
    // (doc_id = -1, null hash), and docs_kept for batch 0.
    val doc1 = Seq(1L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    val tok1 = IncrementalDedup.shingles(doc1, "text")
    val legacySigs = IncrementalDedup
      .signatures(tok1, "doc_id", "toks", 2, 1)
      .withColumn("batch_id", lit(0L))
      .unionByName(spark.range(1).select(
        lit(-1L).as("doc_id"), lit(-1).as("band_idx"),
        lit(null).cast("string").as("band_hash"), lit(0L).as("batch_id")))
    catalog.append(legacySigs, "signatures")
    catalog.append(doc1.withColumn("batch_id", lit(0L)), "docs_kept", Seq("batch_id"))

    // A foreachBatch RETRY of the already-committed legacy batch must be a
    // no-op: migration back-fills batch 0's marker from the in-store rows.
    StreamingPipeline.processNeardupBatch(doc1, 0L, out, 2, 1, storeBuckets = 4)
    spark.read.parquet(s"$out/docs_kept").count() shouldBe 1L
    new TranscriptCatalog(out, spark)
      .listPartitionValues("batches", "batch_id") should contain("0")
    // The migrated store is bucketed (bucket id in every file name) and
    // marker rows are gone.
    val names = catalog.dataFileNames("signatures")
    names should not be empty
    all(names) should fullyMatch regex """.*_\d{5}\..*"""
    spark.read.parquet(s"$out/signatures")
      .filter(col("doc_id") === -1L).count() shouldBe 0L
    // A new batch near-duplicating legacy history is dropped via the
    // migrated store.
    val doc10 = Seq(10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "completely unrelated fresh words with no overlap here")
      .toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(doc10, 1L, out, 2, 1, storeBuckets = 4)
    spark.read.parquet(s"$out/docs_kept")
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 11L)
  }

  test("within-batch near-dups resolve transitively, not greedily") {
    val out = tmpDir("stream-neardup-chain")
    // Crafted so the MinHash (2 bands × 1 row) pair set is EXACTLY
    // {1,5} (band 1) and {2,5} (band 2) — never {1,2}: docs 1, 2, 5 form
    // one transitive cluster with representative 1. The pre-round-4
    // greedy rule (drop any id_b) dropped only 5 and kept BOTH 1 and 2;
    // connected-components resolution must keep 1 alone.
    val b = Seq(
      1L -> "foxtrot charlie golf",
      2L -> "kilo alpha bravo",
      5L -> "foxtrot charlie golf india bravo foxtrot kilo alpha bravo"
    ).toDF("doc_id", "text")
    StreamingPipeline.processNeardupBatch(b, 0L, out, 2, 1)
    spark.read.parquet(s"$out/docs_kept")
      .select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(1L)
  }

  test("streaming quality gate: session windows split on the gap; scores match the batch formula") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts", "source")
    // high quality: long, no stopwords; low: the stopword-heavy short text
    val good = (1 to 60).map(i => s"w$i").mkString(" ")
    val bad = "the a the a the a"
    val (kept, metrics) = StreamingPipeline.qualityGate(docs, gap = "5 minutes")
    // session-window streaming aggregation emits in APPEND mode only:
    // a session row appears once the watermark passes its close
    val qm = metrics.writeStream.format("memory").queryName("qg_metrics")
      .outputMode(OutputMode.Append).start()
    val qk = kept.writeStream.format("memory").queryName("qg_kept")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, good, ts("2025-12-28T10:00:00Z"), "feedA"),
        (2L, bad, ts("2025-12-28T10:02:00Z"), "feedA"),  // same session (gap < 5 min)
        (3L, good, ts("2025-12-28T11:00:00Z"), "feedA")) // new session after the gap
      qm.processAllAvailable(); qk.processAllAvailable()
      // advance the watermark past both sessions' close (wm = 12:00 − 10m)
      mem.addData((9L, good, ts("2025-12-28T12:00:00Z"), "feedB"))
      qm.processAllAvailable(); qk.processAllAvailable()
      // The gate keeps exactly the good docs (the batch formula: the
      // bad doc scores 0 — all-stopword text).
      spark.table("qg_kept").select("doc_id").collect()
        .map(_.getLong(0)).sorted shouldBe Array(1L, 3L, 9L)
      val sessions = spark.table("qg_metrics")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString,
          r.getLong(3), r.getLong(4)))
        .sortBy(_._2)
      sessions shouldBe Array(
        ("feedA", "2025-12-28T10:00:00Z", 2L, 1L), // docs 1+2, only 1 passes
        ("feedA", "2025-12-28T11:00:00Z", 1L, 1L))
    } finally { qm.stop(); qk.stop() }
  }

  test("streaming export sink: quality, dedup, decontamination, and pack continuity across batches") {
    import graft.ops.{Decontam, IncrementalPack, SequencePack}
    import graft.sink.TranscriptCatalog
    val out = tmpDir("stream-export")
    val catalog = new TranscriptCatalog(out, spark)
    val evalS = "the secret eval answer is exactly forty two point five units"
    Decontam.publishEvalSet(catalog,
      Seq(900L -> evalS).toDF("doc_id", "text"), nBuckets = 4)
    val textX = (1 to 60).map(i => s"x$i").mkString(" ")
    val textY = (1 to 60).map(i => s"y$i").mkString(" ")
    val b0 = Seq(
      1L -> textX,                                  // kept + packed
      2L -> "the a the a the a",                    // quality-dropped
      3L -> s"padding words before $evalS and after" // decontaminated
    ).toDF("doc_id", "text")
    val b1 = Seq(
      10L -> (textX + " tail"),                     // near-dup of doc 1 via store
      11L -> textY                                  // kept + packed, continuing
    ).toDF("doc_id", "text")
    StreamingPipeline.processExportBatch(b0, 0L, out, budget = 64, storeBuckets = 4)
    StreamingPipeline.processExportBatch(b1, 1L, out, budget = 64, storeBuckets = 4)
    // exactly-once: plain reads, no .distinct() crutch — duplicates would
    // fail these directly
    catalog.read("docs_export").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 11L)
    // Pack slots equal ONE pack run over the kept docs in order.
    val expected = SequencePack.pack(
        Seq(1L -> textX, 11L -> textY).toDF("doc_id", "text")
          .select(col("doc_id"),
            org.apache.spark.sql.functions.expr("size(split(lower(text), ' '))").as("tokens")),
        "doc_id", "tokens", budget = 64, blockSize = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val packRows = catalog.read(IncrementalPack.PacksTable)
      .select("doc_id", "pack_id", "pack_pos")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    packRows.length shouldBe expected.size
    packRows.toMap shouldBe expected
    // Replay of a committed batch is a no-op on every table.
    val nDocs = catalog.read("docs_export").count()
    val nPacks = catalog.read(IncrementalPack.PacksTable).count()
    StreamingPipeline.processExportBatch(b1, 1L, out, budget = 64, storeBuckets = 4)
    catalog.read("docs_export").count() shouldBe nDocs
    catalog.read(IncrementalPack.PacksTable).count() shouldBe nPacks
    // Crash-replay of the LAST commit window (export marker dropped after
    // the signature append): the replay keeps nothing, overwrites nothing,
    // and every table stays byte-identical — zero duplicate doc_ids.
    catalog.dropPartitions("export_batches", "batch_id", _ == "1")
    StreamingPipeline.processExportBatch(b1, 1L, out, budget = 64, storeBuckets = 4)
    catalog.read("docs_export").count() shouldBe nDocs
    catalog.read("docs_export").select("doc_id").distinct().count() shouldBe nDocs
    catalog.read(IncrementalPack.PacksTable).count() shouldBe nPacks
  }

  test("streaming export packs under the BPE counter equal one whole-corpus BPE pack run") {
    import graft.functions.BpeTokens
    import graft.ops.{Decontam, IncrementalPack, SequencePack}
    import graft.sink.TranscriptCatalog
    val out = tmpDir("stream-export-bpe")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> "the secret eval answer is exactly forty two point five units")
        .toDF("doc_id", "text"), nBuckets = 4)
    val textX = (1 to 60).map(i => s"x$i").mkString(" ")
    val textY = (1 to 60).map(i => s"y$i").mkString(" ")
    StreamingPipeline.processExportBatch(Seq(1L -> textX).toDF("doc_id", "text"),
      0L, out, budget = 64, storeBuckets = 4, tokenCounter = "bpe")
    StreamingPipeline.processExportBatch(Seq(11L -> textY).toDF("doc_id", "text"),
      1L, out, budget = 64, storeBuckets = 4, tokenCounter = "bpe")
    val expected = SequencePack.pack(
        Seq(1L -> textX, 11L -> textY).toDF("doc_id", "text")
          .select(col("doc_id"), BpeTokens.bpeTokenCount(col("text")).as("tokens")),
        "doc_id", "tokens", budget = 64, blockSize = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val packRows = catalog.read(IncrementalPack.PacksTable)
      .select("doc_id", "pack_id", "pack_pos")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    packRows shouldBe expected
    // and the BPE counts genuinely differ from whitespace (the counter
    // actually reached the pack stage)
    BpeTokens.countTokens(textX) should not be 60
  }

  test("streaming export sink: cap + semantic stages enforce budgets across micro-batches") {
    import graft.ops.{Decontam, IncrementalCap, IncrementalSemDedup, Similarity}
    import graft.sink.TranscriptCatalog
    val out = tmpDir("stream-export-capsem")
    val catalog = new TranscriptCatalog(out, spark)
    Decontam.publishEvalSet(catalog,
      Seq(900L -> "the secret eval answer is exactly forty two point five units")
        .toDF("doc_id", "text"), nBuckets = 4)
    // (doc_id, text, source, content_id, jit): embedding content is seeded
    // by content_id (the IncrementalSemDedupSpec arithmetic), jit plants a
    // cos≈1 near-copy instead of an exact one
    def batchDf(rows: Seq[(Long, String, String, Long, Boolean)]) =
      rows.toDF("doc_id", "text", "source", "content_id", "jit")
        .withColumn("embedding", expr(
          """transform(sequence(1, 64),
            |  k -> (CAST(pmod(hash(content_id, k), 1000) AS FLOAT) / 500.0 - 1.0)
            |       * CASE WHEN jit THEN 1.0001f ELSE 1.0f END
            |       + CASE WHEN jit THEN 0.0003f ELSE 0.0f END)"""
            .stripMargin.replace("\n", " ")))
        .drop("content_id", "jit")
    def words(p: String) = (1 to 60).map(i => s"$p$i").mkString(" ")
    // fixed IVF index over the content space, published before the stream
    IncrementalSemDedup.publishIndex(catalog,
      Similarity.prepare(batchDf(Seq(
        (1L, "seed", "s", 1L, false), (2L, "seed", "s", 2L, false),
        (4L, "seed", "s", 4L, false), (10L, "seed", "s", 10L, false),
        (11L, "seed", "s", 11L, false)))
        .select(col("doc_id").as("vec_id"), col("embedding"))), nCells = 2)
    val b0 = batchDf(Seq(
      (1L, words("a"), "feedA", 1L, false),
      (2L, words("b"), "feedA", 2L, false),
      (4L, words("c"), "feedB", 4L, false)))
    val b1 = batchDf(Seq(
      // novel text+embedding, but feedA's k=2 budget is already spent
      (10L, words("d"), "feedA", 10L, false),
      // novel text+embedding, feedB has room -> kept
      (11L, words("e"), "feedB", 11L, false),
      // lexically novel but a cos~1 SEMANTIC copy of doc 4 -> dropped
      (12L, words("f"), "feedB", 4L, true)))
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingPipeline.processExportBatch(b, id, out, budget = 64,
        storeBuckets = 4, capK = Some(2), semDedup = true)
    run(b0, 0L)
    run(b1, 1L)
    catalog.read("docs_export").select("doc_id")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 4L, 11L)
    // the cap store shows doc 10's budget-denied verdict (cross-batch)
    val capV = catalog.read(IncrementalCap.DocsTable)
      .filter(col("batch_id") === 1L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    capV(10L) shouldBe false
    capV(11L) shouldBe true
    // the semantic store dropped doc 12 against doc 4's stored vector
    catalog.read(IncrementalSemDedup.KeptTable)
      .filter(col("batch_id") === 1L)
      .collect().map(_.getLong(0)).sorted shouldBe Array(10L, 11L)
    // replay of the committed batch is a no-op on every table
    val nDocs = catalog.read("docs_export").count()
    run(b1, 1L)
    catalog.read("docs_export").count() shouldBe nDocs
    catalog.read("docs_export").select("doc_id").distinct().count() shouldBe nDocs
  }

  test("streaming windowed counts equal the batch rollup on identical data") {
    implicit val sqlCtx = spark.sqlContext
    import graft.gen.TranscriptGen
    import org.apache.spark.sql.functions.{col, count, lit}
    val rows = TranscriptGen.generate(spark, 2000, 2)
      .as[graft.model.Turn].collect().toSeq
    val mem = MemoryStream[graft.model.Turn]
    val counts = StreamingPipeline.windowedCounts(
      StreamingPipeline.transform(spark, mem.toDF()))
    val q = counts.writeStream.format("memory").queryName("parity_counts")
      .outputMode(OutputMode.Update).start()
    try {
      rows.grouped(500).foreach { batch => mem.addData(batch); q.processAllAvailable() }
    } finally q.stop()
    // update-mode memory sink emits one row per state update; the final
    // value per key is the max cnt seen
    val streamed = spark.table("parity_counts")
      .groupBy("window_start", "conv_id", "tool")
      .agg(org.apache.spark.sql.functions.max("cnt").as("cnt"))
      .orderBy("window_start", "conv_id", "tool")
      .collect().map(_.toString).toSeq
    val (valid, _) = graft.parse.TranscriptParse.parse(TranscriptGen.generate(spark, 2000, 2))
    val batch = ParityOracles.counts(valid, Seq("tool"))
      .orderBy("window_start", "conv_id", "tool")
      .collect().map(_.toString).toSeq
    streamed shouldBe batch
  }

  test("rolling store sketch: gated sink ≡ ungated; sketch is a store superset through crash replay") {
    import graft.sink.TranscriptCatalog
    import graft.ops.IncrementalDedup
    val batches = Seq(
      Seq(1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "a completely different document about spark physical plans"),
      Seq(10L -> "the quick brown fox jumps over the lazy dog",
        11L -> "entirely novel content regarding duckdb oracle checks"),
      Seq(20L -> "entirely novel content regarding duckdb oracle checks",
        21L -> "fresh words about bloom sketches and bucketed stores"))
      .map(_.toDF("doc_id", "text"))
    def runAll(out: String, gate: Boolean): Seq[String] = {
      batches.zipWithIndex.foreach { case (df, i) =>
        StreamingPipeline.processNeardupBatch(df, i.toLong, out, 2, 1,
          storePreGate = gate)
      }
      spark.read.parquet(s"$out/docs_kept").select("doc_id", "batch_id")
        .collect().map(_.toString).sorted.toSeq
    }
    val outGated = tmpDir("stream-sketch-on")
    val gated = runAll(outGated, gate = true)
    val ungated = runAll(tmpDir("stream-sketch-off"), gate = false)
    gated shouldBe ungated
    // dup docs 10 and 20 were dropped, so the gate really filtered
    gated.mkString should not include "[10,"

    // SUPERSET invariant: every store key probes true in the persisted
    // sketch (a miss would silently skip a true duplicate)
    val catalog = new TranscriptCatalog(outGated, spark)
    def assertSuperset(): Unit = {
      val (sketch, _, _) = IncrementalDedup.loadRollingSketch(catalog, 0.01).get
      val keys = catalog.read(IncrementalDedup.StoreTable)
        .select("band_idx", "band_hash")
        .collect().map(r => s"${r.getInt(0)}:${r.getString(1)}")
      keys should not be empty
      keys.foreach { k =>
        assert(sketch.mightContainBinary(k.getBytes("UTF-8")), s"sketch misses store key $k")
      }
    }
    assertSuperset()

    // crash replay: the last batch's marker vanishes (crash after the
    // sketch merge + signature append); the replay must converge to the
    // same docs and keep the superset invariant
    catalog.dropPartitions("batches", "batch_id", _ == "2")
    StreamingPipeline.processNeardupBatch(batches(2), 2L, outGated, 2, 1,
      storePreGate = true)
    spark.read.parquet(s"$outGated/docs_kept").select("doc_id", "batch_id")
      .collect().map(_.toString).sorted.toSeq shouldBe gated
    assertSuperset()
  }

  test("streaming per-source cap spends budget across micro-batches and never exceeds k") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = tmpDir("stream-cap")
    val cp = tmpDir("stream-cap-cp")
    def run(): Unit = {
      val q = StreamingPipeline.batchSink(mem.toDF().toDF("doc_id", "source"), cp) {
        (b, id) => graft.ops.IncrementalCap.processBatch(
          new graft.sink.TranscriptCatalog(out, b.sparkSession), b, id, k = 3)
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    mem.addData(1L -> "A", 2L -> "A", 3L -> "B")
    run()
    mem.addData(10L -> "A", 11L -> "A", 12L -> "B")
    run()
    val rows = spark.read.parquet(s"$out/${graft.ops.IncrementalCap.DocsTable}")
      .select("doc_id", "source", "kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    // batch 0 kept everything; batch 1 had budget for exactly ONE more A
    rows.filter(r => r._2 == "A" && r._3).map(_._1).toSet.size shouldBe 3
    rows.filter(r => r._2 == "B" && r._3).map(_._1).toSet shouldBe Set(3L, 12L)
    Set(1L, 2L).subsetOf(
      rows.filter(r => r._2 == "A" && r._3).map(_._1).toSet) shouldBe true
  }

  test("streaming line dedup strips cross-batch boilerplate from later batches only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = tmpDir("stream-linededup")
    val cp = tmpDir("stream-linededup-cp")
    def run(): Unit = {
      val q = StreamingPipeline.batchSink(mem.toDF().toDF("doc_id", "text"), cp) {
        (b, id) => graft.ops.IncrementalLineDedup.processBatch(
          new graft.sink.TranscriptCatalog(out, b.sparkSession), b, id)
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val boiler = "subscribe to our newsletter"
    // batch 0: boilerplate appears once — under the threshold, kept
    mem.addData(
      1L -> s"alpha beta gamma\n$boiler",
      2L -> "delta epsilon zeta")
    run()
    // batch 1: the boilerplate again (strips — history has it), a
    // within-batch repeated line (strips on its own), fresh content
    mem.addData(
      10L -> s"eta theta iota\n$boiler",
      11L -> "kappa lambda mu\nkappa lambda mu",
      12L -> "nu xi omicron")
    run()
    val rows = spark.read.parquet(s"$out/${graft.ops.IncrementalLineDedup.DocsTable}")
      .select("doc_id", "n_lines", "kept_line_count")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows(1L) shouldBe ((2L, 2L)) // history untouched by batch 1
    rows(2L) shouldBe ((1L, 1L))
    rows(10L) shouldBe ((2L, 1L)) // boilerplate line stripped
    rows(11L) shouldBe ((2L, 0L)) // both copies of the repeated line strip
    rows(12L) shouldBe ((1L, 1L))
    // both batches committed; the count store carries both batch partitions
    new graft.sink.TranscriptCatalog(out, spark)
      .listPartitionValues(graft.ops.IncrementalLineDedup.MarkerTable, "batch_id")
      .sorted shouldBe Seq("0", "1")
  }

  test("streaming substring dedup cuts spans repeated against history") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = tmpDir("stream-subdedup")
    val cp = tmpDir("stream-subdedup-cp")
    def run(): Unit = {
      val q = StreamingPipeline.batchSink(mem.toDF().toDF("doc_id", "text"), cp) {
        (b, id) => graft.ops.IncrementalSubstringDedup.processBatch(
          new graft.sink.TranscriptCatalog(out, b.sparkSession), b, id)
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val boiler = "please subscribe to our newsletter for more updates today"
    // batch 0: the sentence appears once — kept whole
    mem.addData(1L -> s"one two three four five six seven eight $boiler")
    run()
    // batch 1: the same sentence again — the span cuts from batch 1 only
    mem.addData(
      10L -> s"kappa lambda mu nu xi omicron pi rho $boiler",
      11L -> "nova quasar pulsar comet meteor nebula galaxy cluster")
    run()
    val rows = spark.read.parquet(s"$out/${graft.ops.IncrementalSubstringDedup.DocsTable}")
      .select("doc_id", "n_tokens", "kept_tokens")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    rows(1L) shouldBe ((17, 17)) // history untouched
    rows(10L) shouldBe ((17, 8)) // the 9-token span cut
    rows(11L) shouldBe ((8, 8))
    new graft.sink.TranscriptCatalog(out, spark)
      .listPartitionValues(graft.ops.IncrementalSubstringDedup.MarkerTable, "batch_id")
      .sorted shouldBe Seq("0", "1")
  }
}
