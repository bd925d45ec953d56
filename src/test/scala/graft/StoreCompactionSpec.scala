package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalCap, IncrementalLineDedup, IncrementalPack,
  IncrementalSubstringDedup, StoreCompaction}
import graft.sink.TranscriptCatalog

/** Watermark compaction of the incremental stores' committed-batch state
  * (graft.ops.StoreCompaction, round-7): for each store the compacted
  * run must produce VERDICT-IDENTICAL results to an uncompacted twin,
  * the committed-state predicate must stay bounded (base equality +
  * isin over the kept recents only), folded partitions and markers must
  * be GC'd, and replay/ordering semantics must survive the fold.
  */
class StoreCompactionSpec extends SparkSpecBase {
  import spark.implicits._

  // --- the bounded-predicate gate, on the predicate itself ---

  test("statePredicate is one base equality plus a bounded isin") {
    def predicateLiterals(view: StoreCompaction.CommittedView): Set[Long] = {
      val df = spark.range(0).select(col("id").as("batch_id"))
        .filter(view.statePredicate(col("batch_id")))
      df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.value.isInstanceOf[Long] => l.value.asInstanceOf[Long]
      }).toSet
    }
    // base partition -9 plus the two recents — NOT the folded history
    predicateLiterals(StoreCompaction.CommittedView(7L, Set(8L, 9L))) shouldBe
      Set(-9L, 8L, 9L)
    // empty view selects nothing
    StoreCompaction.CommittedView(-1L, Set.empty).isEmpty shouldBe true
    // watermark-only view (all batches folded) is just the base equality
    predicateLiterals(StoreCompaction.CommittedView(3L, Set.empty)) shouldBe
      Set(-5L)
  }

  test("foldTarget keeps the newest keepRecent batches") {
    val v = StoreCompaction.CommittedView(-1L, Set(0L, 1L, 2L, 3L))
    StoreCompaction.foldTarget(v, 2) shouldBe Some(1L)
    StoreCompaction.foldTarget(v, 4) shouldBe None
    StoreCompaction.foldTarget(StoreCompaction.CommittedView(5L, Set(6L)), 1) shouldBe None
  }

  test("a corrupt watermark blob fails fast instead of resetting") {
    val catalog = new TranscriptCatalog(tmpDir("wm-corrupt"), spark)
    catalog.writeBlob("cap_batches", StoreCompaction.WatermarkBlob,
      "not-a-long".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      StoreCompaction.readWatermark(catalog, "cap_batches")
    }
    ex.getMessage should include("corrupt watermark")
  }

  // --- IncrementalCap ---

  private def capDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "source")

  private def capVerdicts(catalog: TranscriptCatalog) =
    catalog.read(IncrementalCap.DocsTable)
      .select("doc_id", "source", "keep_rank", "kept", "batch_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap

  private def runCap(name: String, compactAfterB2: Boolean) = {
    val catalog = new TranscriptCatalog(tmpDir(name), spark)
    val k = 4
    IncrementalCap.processBatch(catalog, capDocs(Seq(1L -> "A", 2L -> "A")), 0L, k)
    IncrementalCap.processBatch(catalog, capDocs(Seq(10L -> "A", 11L -> "A")), 1L, k)
    IncrementalCap.processBatch(catalog, capDocs(Seq(20L -> "A", 21L -> "B")), 2L, k)
    if (compactAfterB2) IncrementalCap.compact(catalog, keepRecent = 1)
    IncrementalCap.processBatch(catalog, capDocs(Seq(30L -> "A", 31L -> "B")), 3L, k)
    (catalog, capVerdicts(catalog))
  }

  test("cap: verdicts are identical before/after compaction; state is GC'd") {
    val (_, plain) = runCap("cap-plain", compactAfterB2 = false)
    val (catalog, compacted) = runCap("cap-compact", compactAfterB2 = true)
    compacted shouldBe plain
    // A spent its budget of 4 in batches 0-1 (folded); batch 3 still sees it
    compacted(30L)._3 shouldBe false
    compacted(31L)._3 shouldBe true
    // folded count partitions and markers are gone; base partition lives
    val base = StoreCompaction.basePartition(1L) // folded {0,1} -> w=1
    catalog.listPartitionValues(IncrementalCap.CountsTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(base, 2L, 3L)
    catalog.listPartitionValues(IncrementalCap.MarkerTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(2L, 3L)
    StoreCompaction.readWatermark(catalog, IncrementalCap.MarkerTable) shouldBe 1L
    // replaying a FOLDED batch id is a committed no-op
    val before = capVerdicts(catalog)
    IncrementalCap.processBatch(catalog, capDocs(Seq(99L -> "A")), 0L, 4)
    capVerdicts(catalog) shouldBe before
    // a NEW batch below the watermark is out-of-order... and a replayed id
    // equal to the watermark is a no-op, so probe id 4 then 2 (committed)
    IncrementalCap.processBatch(catalog, capDocs(Seq(40L -> "B")), 4L, 4)
    capVerdicts(catalog)(40L)._3 shouldBe true
    // compact again with room to spare: a no-op
    IncrementalCap.compact(catalog, keepRecent = 3)
    StoreCompaction.readWatermark(catalog, IncrementalCap.MarkerTable) shouldBe 1L
  }

  // --- IncrementalLineDedup ---

  private def lineDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def lineOut(catalog: TranscriptCatalog) =
    catalog.read(IncrementalLineDedup.DocsTable)
      .select(col("doc_id"), col("n_lines"), col("kept_line_count"),
        col("scrub_hash"), col("batch_id").cast("long").as("batch_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq

  private def runLine(name: String, compactAfterB2: Boolean) = {
    val catalog = new TranscriptCatalog(tmpDir(name), spark)
    IncrementalLineDedup.processBatch(catalog,
      lineDocs(Seq(1L -> "x\ny", 2L -> "x\nz")), 0L)
    IncrementalLineDedup.processBatch(catalog, lineDocs(Seq(3L -> "y\nw")), 1L)
    IncrementalLineDedup.processBatch(catalog, lineDocs(Seq(4L -> "w\nv")), 2L)
    if (compactAfterB2) IncrementalLineDedup.compact(catalog, keepRecent = 1)
    // z repeats vs FOLDED history, v vs the kept recent batch, u is fresh
    IncrementalLineDedup.processBatch(catalog, lineDocs(Seq(5L -> "z\nv\nu")), 3L)
    (catalog, lineOut(catalog))
  }

  test("line dedup: scrubs are identical before/after compaction; counts fold once") {
    val (_, plain) = runLine("line-plain", compactAfterB2 = false)
    val (catalog, compacted) = runLine("line-compact", compactAfterB2 = true)
    compacted shouldBe plain
    // doc 5: z (hist, folded) and v (hist, recent) stripped, u kept
    compacted.find(_._1 == 5L).get._3 shouldBe 1L
    val base = StoreCompaction.basePartition(1L)
    catalog.listPartitionValues(IncrementalLineDedup.CountsTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(base, 2L, 3L)
    // folded totals survived: ONE base row per unit, summed (x appeared
    // twice in batch 0 -> cnt 2)
    val baseRows = catalog.readBucketed(IncrementalLineDedup.CountsTable)
      .filter(col("batch_id") === base)
    baseRows.agg(sum("cnt")).head.getLong(0) shouldBe 6L // x2,y1,z1 + y1,w1
    // the bucketed store read stays exchange-free after compaction: the
    // history aggregation must partial-aggregate on the bucketed scan
    val hist = catalog.readBucketed(IncrementalLineDedup.CountsTable)
      .filter(StoreCompaction.committedView(catalog, IncrementalLineDedup.MarkerTable)
        .statePredicate(col("batch_id")))
      .groupBy("lh").agg(sum("cnt"))
    hist.queryExecution.executedPlan.toString should not include "Exchange"
  }

  // --- IncrementalSubstringDedup ---

  private def runSubstr(name: String, compactAfterB2: Boolean) = {
    val catalog = new TranscriptCatalog(tmpDir(name), spark)
    val rep = "a b c d e f g h" // exactly one k-gram at DefaultK = 8
    val fresh = "p q r s t u v w"
    IncrementalSubstringDedup.processBatch(catalog,
      lineDocs(Seq(1L -> rep, 2L -> rep)), 0L)
    IncrementalSubstringDedup.processBatch(catalog, lineDocs(Seq(3L -> rep)), 1L)
    IncrementalSubstringDedup.processBatch(catalog, lineDocs(Seq(4L -> fresh)), 2L)
    if (compactAfterB2) IncrementalSubstringDedup.compact(catalog, keepRecent = 1)
    // doc 5 repeats the FOLDED gram; doc 6 repeats the recent batch's gram
    IncrementalSubstringDedup.processBatch(catalog,
      lineDocs(Seq(5L -> rep, 6L -> fresh)), 3L)
    val out = catalog.read(IncrementalSubstringDedup.DocsTable)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("kept_tokens").cast("long").as("kept_tokens"),
        col("batch_id").cast("long").as("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    (catalog, out)
  }

  test("substring dedup: scrubs are identical before/after compaction") {
    val (_, plain) = runSubstr("sub-plain", compactAfterB2 = false)
    val (catalog, compacted) = runSubstr("sub-compact", compactAfterB2 = true)
    compacted shouldBe plain
    // both batch-3 docs lost their span (one against folded history, one
    // against the kept recent batch)
    compacted.filter(_._4 == 3L).map(d => d._3 < d._2) shouldBe Seq(true, true)
    val base = StoreCompaction.basePartition(1L)
    catalog.listPartitionValues(IncrementalSubstringDedup.CountsTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(base, 2L, 3L)
  }

  // --- IncrementalPack ---

  private def packDocs(rows: Seq[(Long, Long)]) = rows.toDF("doc_id", "tokens")

  private def packOut(catalog: TranscriptCatalog) =
    catalog.read(IncrementalPack.PacksTable)
      .select(col("doc_id"), col("tokens").cast("long").as("tokens"),
        col("pack_id"), col("pack_pos"),
        col("batch_id").cast("long").as("batch_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq

  private def runPack(name: String, compactAfterB2: Boolean) = {
    val catalog = new TranscriptCatalog(tmpDir(name), spark)
    IncrementalPack.processBatch(catalog, packDocs(Seq(1L -> 30L, 2L -> 40L)), 0L, budget = 100)
    IncrementalPack.processBatch(catalog, packDocs(Seq(10L -> 50L)), 1L, budget = 100)
    IncrementalPack.processBatch(catalog, packDocs(Seq(20L -> 25L)), 2L, budget = 100)
    if (compactAfterB2) IncrementalPack.compact(catalog, keepRecent = 1)
    IncrementalPack.processBatch(catalog, packDocs(Seq(30L -> 60L)), 3L, budget = 100)
    (catalog, packOut(catalog))
  }

  test("pack: slots are identical before/after compaction; guards survive the fold") {
    val (_, plain) = runPack("pack-plain", compactAfterB2 = false)
    val (catalog, compacted) = runPack("pack-compact", compactAfterB2 = true)
    compacted shouldBe plain
    // running total preserved through the fold: 30+40+50+25+60
    IncrementalPack.committedBase(catalog) shouldBe 205L
    val base = StoreCompaction.basePartition(1L)
    catalog.listPartitionValues(IncrementalPack.OffsetTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(base, 2L, 3L)
    // the doc-id overlap guard still sees the FOLDED max_doc (10)
    val ex = intercept[IllegalArgumentException] {
      IncrementalPack.processBatch(catalog, packDocs(Seq(5L -> 10L)), 4L, budget = 100)
    }
    ex.getMessage should include("overlaps committed doc-id range")
  }

  test("pack: compact folds a legacy offsets table without max_doc") {
    // offsets rows written before the max_doc column existed (round-7
    // advice): compact must fold with the never-wins sentinel, exactly
    // like the committedMaxDoc read path degrades
    val catalog = new TranscriptCatalog(tmpDir("pack-legacy"), spark)
    catalog.overwritePartitions(
      Seq((0L, 0L, 70L), (1L, 70L, 120L), (2L, 120L, 145L))
        .toDF("batch_id", "base", "total_after"),
      IncrementalPack.OffsetTable, Seq("batch_id"))
    Seq(0L, 1L, 2L).foreach { b =>
      catalog.append(Seq((b, 1)).toDF("batch_id", "one"),
        IncrementalPack.MarkerTable, Seq("batch_id"))
    }
    IncrementalPack.compact(catalog, keepRecent = 1)
    IncrementalPack.committedBase(catalog) shouldBe 145L
    StoreCompaction.readWatermark(catalog, IncrementalPack.MarkerTable) shouldBe 1L
  }

  // --- IncrementalSemDedup (round-7 verdict item #2: marker fold) ---

  private def semVectors(idBase: Long, n: Int, contentBase: Long = -1,
      jitter: Boolean = false) = {
    val cb = if (contentBase >= 0) contentBase else idBase
    val j = if (jitter) " * 1.0001f + 0.0003f" else ""
    spark.range(0, n.toLong, 1, 4).toDF("i")
      .select((col("i") + idBase).as("vec_id"), expr(
        s"""transform(sequence(1, 64),
           |  k -> (CAST(pmod(hash(i + ${cb}L, k), 1000) AS FLOAT) / 500.0 - 1.0)$j)"""
          .stripMargin.replace("\n", " ")).as("embedding"))
  }

  private def semKept(catalog: TranscriptCatalog): Seq[Long] =
    catalog.read(graft.ops.IncrementalSemDedup.KeptTable)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq

  private def runSem(name: String, compactAfterB2: Boolean) = {
    import graft.ops.{IncrementalSemDedup, Similarity}
    val catalog = new TranscriptCatalog(tmpDir(name), spark)
    val b0 = semVectors(0, 12)
    IncrementalSemDedup.publishIndex(catalog, Similarity.prepare(b0), nCells = 4)
    IncrementalSemDedup.processBatch(catalog, b0, 0L, storeBuckets = 4)
    IncrementalSemDedup.processBatch(catalog, semVectors(100, 6), 1L, storeBuckets = 4)
    IncrementalSemDedup.processBatch(catalog, semVectors(200, 6), 2L, storeBuckets = 4)
    if (compactAfterB2) IncrementalSemDedup.compact(catalog, keepRecent = 1)
    // batch 3: copies of batch-0 content (dropped against FOLDED-marker
    // history) + novel vectors (kept)
    IncrementalSemDedup.processBatch(catalog,
      semVectors(300, 6, contentBase = 0, jitter = true)
        .unionByName(semVectors(400, 6)), 3L, storeBuckets = 4)
    (catalog, semKept(catalog))
  }

  test("semdedup: kept sets are identical before/after marker compaction; listing bounded") {
    import graft.ops.IncrementalSemDedup
    val (_, plain) = runSem("sem-plain", compactAfterB2 = false)
    val (catalog, compacted) = runSem("sem-compact", compactAfterB2 = true)
    compacted shouldBe plain
    // batch-3 copies of folded-batch content still dropped via the store
    compacted.filter(id => id >= 300 && id < 400) shouldBe empty
    compacted.filter(_ >= 400).size shouldBe 6
    // marker listing is BOUNDED: folded markers gone, watermark carries them
    catalog.listPartitionValues(IncrementalSemDedup.MarkerTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(2L, 3L)
    StoreCompaction.readWatermark(catalog, IncrementalSemDedup.MarkerTable) shouldBe 1L
    // kept partitions of folded batches stay intact (durable output)
    catalog.listPartitionValues(IncrementalSemDedup.KeptTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(0L, 1L, 2L, 3L)
    // replaying a FOLDED batch id is a committed no-op
    val nKept = catalog.read(IncrementalSemDedup.KeptTable).count()
    IncrementalSemDedup.processBatch(catalog, semVectors(500, 3), 0L, storeBuckets = 4)
    catalog.read(IncrementalSemDedup.KeptTable).count() shouldBe nKept
    // compact with room to spare: a no-op
    IncrementalSemDedup.compact(catalog, keepRecent = 3)
    StoreCompaction.readWatermark(catalog, IncrementalSemDedup.MarkerTable) shouldBe 1L
  }

  // --- streaming neardup signature store (the marker half) ---

  private def runNeardup(name: String, compactAfterB2: Boolean) = {
    import graft.streaming.StreamingPipeline
    val root = tmpDir(name)
    val catalog = new TranscriptCatalog(root, spark)
    def doc(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
    val t0 = "alpha beta gamma delta epsilon"
    StreamingPipeline.processNeardupBatch(doc(1, t0), 0L, root, bands = 2, rows = 1)
    StreamingPipeline.processNeardupBatch(
      doc(2, "zeta eta theta iota kappa"), 1L, root, bands = 2, rows = 1)
    StreamingPipeline.processNeardupBatch(
      doc(3, "lambda mu nu xi omicron"), 2L, root, bands = 2, rows = 1)
    if (compactAfterB2)
      StreamingPipeline.compactNeardupMarkers(spark, root, keepRecent = 1)
    // batch 3: a near-dup of FOLDED-batch-0 content (dropped via the
    // store, which the marker fold must not touch) + a novel doc (kept)
    StreamingPipeline.processNeardupBatch(
      doc(4, t0).unionByName(doc(5, "pi rho sigma tau upsilon")),
      3L, root, bands = 2, rows = 1)
    val kept = catalog.read("docs_kept").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    (catalog, kept)
  }

  test("neardup markers: kept docs identical before/after compaction; listing bounded") {
    import graft.streaming.StreamingPipeline
    val (_, plain) = runNeardup("nd-plain", compactAfterB2 = false)
    val (catalog, compacted) = runNeardup("nd-compact", compactAfterB2 = true)
    compacted shouldBe plain
    compacted should contain(5L)
    compacted should not contain 4L // dropped against folded-marker history
    catalog.listPartitionValues(StreamingPipeline.NeardupMarkerTable, "batch_id")
      .map(_.toLong).toSet shouldBe Set(2L, 3L)
    StoreCompaction.readWatermark(
      catalog, StreamingPipeline.NeardupMarkerTable) shouldBe 1L
    // replaying a FOLDED batch id is a committed no-op
    val nKept = catalog.read("docs_kept").count()
    StreamingPipeline.processNeardupBatch(
      Seq((9L, "brand new text here")).toDF("doc_id", "text"),
      0L, catalog.root, bands = 2, rows = 1)
    catalog.read("docs_kept").count() shouldBe nKept
  }

  // --- round-7 verdict item #5: compaction crash windows interleaved
  //     with the LIVE streaming export (cap + semantic stages enabled).
  //     The protocol's crash story (StoreCompaction scaladoc steps 1-3)
  //     was argued in comments; this makes it a test: a kill between the
  //     watermark COMMIT and the GC sweep (and one before the commit)
  //     while batches keep arriving must change no verdict, no budget,
  //     no exported doc vs a twin that never compacts at all. ---

  private def exportDocs(rows: Seq[(Long, String, String, Long, Boolean)]) =
    rows.toDF("doc_id", "text", "source", "content_id", "jit")
      .withColumn("embedding", expr(
        """transform(sequence(1, 64),
          |  k -> (CAST(pmod(hash(content_id, k), 1000) AS FLOAT) / 500.0 - 1.0)
          |       * CASE WHEN jit THEN 1.0001f ELSE 1.0f END
          |       + CASE WHEN jit THEN 0.0003f ELSE 0.0f END)"""
          .stripMargin.replace("\n", " ")))
      .drop("content_id", "jit")

  private def exportWords(p: String) = (1 to 60).map(i => s"$p$i").mkString(" ")

  private def runExportStream(name: String, crashingCompactions: Boolean) = {
    import graft.ops.{IncrementalCap, IncrementalSemDedup, Similarity}
    import graft.streaming.StreamingPipeline
    val root = tmpDir(name)
    val catalog = new TranscriptCatalog(root, spark)
    IncrementalSemDedup.publishIndex(catalog,
      Similarity.prepare(exportDocs(Seq(
        (1L, "seed", "s", 1L, false), (2L, "seed", "s", 2L, false),
        (11L, "seed", "s", 11L, false), (40L, "seed", "s", 40L, false)))
        .select(col("doc_id").as("vec_id"), col("embedding"))), nCells = 2)
    def run(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingPipeline.processExportBatch(b, id, root, budget = 64,
        storeBuckets = 4, capK = Some(2), semDedup = true)
    run(exportDocs(Seq((1L, exportWords("a"), "feedA", 1L, false),
      (2L, exportWords("b"), "feedA", 2L, false))), 0L)
    run(exportDocs(Seq((10L, exportWords("c"), "feedA", 10L, false),
      (11L, exportWords("d"), "feedB", 11L, false))), 1L)
    if (crashingCompactions) {
      // CRASH WINDOW 1 — cap compaction dies BEFORE the watermark commit:
      // the fold's base partition is written, the watermark is not. The
      // un-committed base id is deselected by every read (basePartition of
      // a watermark nobody committed); the resumed compact recomputes the
      // identical fold and commits.
      val view = StoreCompaction.committedView(catalog, IncrementalCap.MarkerTable)
      StoreCompaction.foldTarget(view, 1).foreach { wNew =>
        val foldIds = view.recent.filter(_ <= wNew)
        val folded = catalog.read(IncrementalCap.CountsTable)
          .filter(StoreCompaction.CommittedView(view.watermark, foldIds)
            .statePredicate(col("batch_id")))
          .groupBy("source").agg(sum("kept_docs").as("kept_docs"))
          .withColumn("batch_id", lit(StoreCompaction.basePartition(wNew)))
          .select("source", "kept_docs", "batch_id")
        catalog.overwritePartitions(folded, IncrementalCap.CountsTable, Seq("batch_id"))
        // crash here: no watermark write, no GC
      }
      IncrementalCap.compact(catalog, keepRecent = 1) // resume
    }
    run(exportDocs(Seq((20L, exportWords("e"), "feedB", 20L, false))), 2L)
    if (crashingCompactions) {
      // CRASH WINDOW 2 — cap AND semdedup compactions die AFTER the
      // watermark commit, BEFORE the GC sweep: folded count partitions
      // and subsumed markers linger; predicates no longer select them
      // and the next fold sweeps them.
      val view = StoreCompaction.committedView(catalog, IncrementalCap.MarkerTable)
      StoreCompaction.foldTarget(view, 1).foreach { wNew =>
        val foldIds = view.recent.filter(_ <= wNew)
        val folded = catalog.read(IncrementalCap.CountsTable)
          .filter(StoreCompaction.CommittedView(view.watermark, foldIds)
            .statePredicate(col("batch_id")))
          .groupBy("source").agg(sum("kept_docs").as("kept_docs"))
          .withColumn("batch_id", lit(StoreCompaction.basePartition(wNew)))
          .select("source", "kept_docs", "batch_id")
        catalog.overwritePartitions(folded, IncrementalCap.CountsTable, Seq("batch_id"))
        StoreCompaction.writeWatermark(catalog, IncrementalCap.MarkerTable, wNew)
        // crash here: no GC of counts or markers
      }
      val semView = StoreCompaction.committedView(catalog, IncrementalSemDedup.MarkerTable)
      StoreCompaction.foldTarget(semView, 1).foreach { wNew =>
        StoreCompaction.writeWatermark(catalog, IncrementalSemDedup.MarkerTable, wNew)
        // crash here: subsumed sem markers linger
      }
    }
    // mid-stream continues over both crash remnants: a semantic copy of
    // stored doc 11 (dropped via the store), a denied feedA doc (budget
    // spent in FOLDED batches), a fresh feedC pair with a within-batch
    // semantic copy
    run(exportDocs(Seq((30L, exportWords("f"), "feedA", 30L, false),
      (31L, exportWords("g"), "feedB", 11L, true))), 3L)
    run(exportDocs(Seq((40L, exportWords("h"), "feedC", 40L, false),
      (41L, exportWords("i"), "feedC", 40L, true))), 4L)
    if (crashingCompactions) {
      // resume: the next real compactions fold again and sweep the garbage
      IncrementalCap.compact(catalog, keepRecent = 1)
      IncrementalSemDedup.compact(catalog, keepRecent = 1)
    }
    val exported = catalog.read("docs_export").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val capV = catalog.read(IncrementalCap.DocsTable)
      .select("doc_id", "source", "keep_rank", "kept")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val semKeptIds = catalog.read(graft.ops.IncrementalSemDedup.KeptTable)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val packBase = graft.ops.IncrementalPack.committedBase(catalog)
    (catalog, exported, capV, semKeptIds, packBase)
  }

  test("export stream: compaction crash windows change no verdict, budget or export") {
    import graft.ops.IncrementalCap
    val (_, exported0, cap0, sem0, pack0) =
      runExportStream("exp-plain", crashingCompactions = false)
    val (catalog, exported1, cap1, sem1, pack1) =
      runExportStream("exp-crash", crashingCompactions = true)
    exported1 shouldBe exported0
    cap1 shouldBe cap0
    sem1 shouldBe sem0
    pack1 shouldBe pack0
    // sanity on the scenario itself: budgets held across the folds
    // (feedA spent in folded batches 0-1 still denies doc 30) and the
    // semantic copies dropped (31 vs stored 11, 41 vs in-batch 40)
    cap0(30L)._3 shouldBe false
    exported0 should not contain 31L
    exported0 should contain(40L)
    exported0 should not contain 41L
    // the resumed compaction swept the crash remnants: counts partitions
    // are base + recents only, no stale bases, markers bounded
    val w = StoreCompaction.readWatermark(catalog, IncrementalCap.MarkerTable)
    val parts = catalog.listPartitionValues(IncrementalCap.CountsTable, "batch_id")
      .map(_.toLong)
    parts.count(_ < -1) shouldBe 1 // exactly one live base partition
    parts.filter(_ >= 0).foreach(_ should be > w)
    catalog.listPartitionValues(IncrementalCap.MarkerTable, "batch_id")
      .map(_.toLong).foreach(_ should be > w)
  }

  test("negative batch ids fail fast in every store (watermark encoding)") {
    val catalog = new TranscriptCatalog(tmpDir("neg-ids"), spark)
    intercept[IllegalArgumentException] {
      IncrementalCap.processBatch(catalog, capDocs(Seq(1L -> "A")), -1L, 4)
    }.getMessage should include(">= 0")
    intercept[IllegalArgumentException] {
      IncrementalLineDedup.processBatch(catalog, lineDocs(Seq(1L -> "x")), -1L)
    }.getMessage should include(">= 0")
    intercept[IllegalArgumentException] {
      IncrementalPack.processBatch(catalog, packDocs(Seq(1L -> 10L)), -2L, budget = 100)
    }.getMessage should include(">= 0")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingPipeline.processNeardupBatch(
        Seq((1L, "t")).toDF("doc_id", "text"), -1L, tmpDir("neg-nd"), 2, 1)
    }.getMessage should include(">= 0")
    intercept[IllegalArgumentException] {
      graft.ops.IncrementalSemDedup.processBatch(catalog, semVectors(0, 2), -1L)
    }.getMessage should include(">= 0")
    intercept[IllegalArgumentException] {
      IncrementalSubstringDedup.processBatch(catalog, lineDocs(Seq(1L -> "x")), -1L)
    }.getMessage should include(">= 0")
    // export: the guard runs before any table is written
    val exportRoot = tmpDir("neg-export")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingPipeline.processExportBatch(
        Seq((1L, exportWords("n"))).toDF("doc_id", "text"), -1L, exportRoot)
    }.getMessage should include(">= 0")
    new TranscriptCatalog(exportRoot, spark)
      .listPartitionValues("docs_export", "batch_id") should not contain "-1"
  }

  test("a late batch below the watermark fails fast") {
    import graft.ops.{IncrementalSemDedup, Similarity}
    import graft.streaming.StreamingPipeline
    // commit 0, 3, 4 and fold to watermark 3: 1 and 2 were never committed
    val sem = new TranscriptCatalog(tmpDir("late-sem"), spark)
    IncrementalSemDedup.publishIndex(sem, Similarity.prepare(semVectors(0, 12)), nCells = 4)
    Seq(0L, 3L, 4L).foreach { b =>
      IncrementalSemDedup.processBatch(sem, semVectors(b * 100, 4), b, storeBuckets = 4)
    }
    IncrementalSemDedup.compact(sem, keepRecent = 1)
    StoreCompaction.readWatermark(sem, IncrementalSemDedup.MarkerTable) shouldBe 3L
    intercept[IllegalArgumentException] {
      IncrementalSemDedup.processBatch(sem, semVectors(200, 4), 2L, storeBuckets = 4)
    }.getMessage should include("out-of-order")
    // a folded committed batch is still a no-op replay
    val nKept = sem.read(IncrementalSemDedup.KeptTable).count()
    IncrementalSemDedup.processBatch(sem, semVectors(900, 4), 0L, storeBuckets = 4)
    sem.read(IncrementalSemDedup.KeptTable).count() shouldBe nKept

    val root = tmpDir("late-nd")
    def doc(id: Long) = Seq((id, s"unique words for doc $id here")).toDF("doc_id", "text")
    Seq(0L, 3L, 4L).foreach { b =>
      StreamingPipeline.processNeardupBatch(doc(b), b, root, bands = 2, rows = 1)
    }
    StreamingPipeline.compactNeardupMarkers(spark, root, keepRecent = 1)
    intercept[IllegalArgumentException] {
      StreamingPipeline.processNeardupBatch(doc(2L), 2L, root, bands = 2, rows = 1)
    }.getMessage should include("out-of-order")

    val cap = new TranscriptCatalog(tmpDir("late-cap"), spark)
    Seq(0L, 3L, 4L).foreach { b =>
      IncrementalCap.processBatch(cap, capDocs(Seq(b -> "A")), b, 4)
    }
    IncrementalCap.compact(cap, keepRecent = 1)
    intercept[IllegalArgumentException] {
      IncrementalCap.processBatch(cap, capDocs(Seq(1L -> "A")), 1L, 4)
    }.getMessage should include("out-of-order")
    val before = capVerdicts(cap)
    IncrementalCap.processBatch(cap, capDocs(Seq(99L -> "A")), 3L, 4)
    capVerdicts(cap) shouldBe before
  }

  test("the commit protocol lives in StoreCompaction, foreachBatch in batchSink") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    def src(f: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    files.map(_.getFileName.toString) should contain("StoreCompaction.scala")
    val protocol = Seq("writeWatermark(", "foldTarget(", "gcMarkerPartition(")
    val handRolled = files
      .filterNot(_.getFileName.toString == "StoreCompaction.scala")
      .filter(f => protocol.exists(src(f).contains))
    withClue("compact through StoreCompaction.compact: ") {
      handRolled shouldBe empty
    }
    // the def enclosing each .foreachBatch call
    val defName = """def\s+(\w+)""".r
    val sinks = files.flatMap { f =>
      val s = src(f)
      """\.foreachBatch\b""".r.findAllMatchIn(s)
        .map(m => defName.findAllMatchIn(s.substring(0, m.start)).toList.last.group(1))
    }
    withClue("stream sinks go through StreamingPipeline.batchSink: ") {
      sinks shouldBe List("batchSink")
    }
  }
}
