package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch incremental line-unit dedup — the daily-ingest form of
  * [[LineDedup]] (the C4/CCNet boilerplate strip), completing the
  * line-dedup story in the incremental execution form the same way
  * [[IncrementalDedup]]/[[IncrementalSemDedup]] do for near-dup and
  * [[IncrementalPack]] does for packing.
  *
  * A persisted COUNT STORE — (lh, cnt, batch_id) rows, bucketed by the
  * unit hash — stands in for the full history: each batch strips every
  * unit whose historical + in-batch occurrence count exceeds the
  * threshold, emits its scrubbed per-doc rows, and appends its own
  * per-unit counts. History is never re-scrubbed (the incremental
  * contract — a unit crossing the threshold in a later batch strips
  * from that batch onward; the whole-corpus [[LineDedup.scrub]] pass is
  * the compaction that re-levels history when one is scheduled).
  *
  * Scale shape: per batch the work is one unit-hash pass over the batch
  * text plus ONE aggregation of the store side that reads bucketed by
  * `lh` and therefore partial-aggregates WITHOUT an exchange; only
  * (lh, cnt) and (doc_id, line_idx, lh) rows ever shuffle.
  *
  * Commit and compaction follow [[StoreCompaction]]'s protocol.
  * Scrubbed docs and the batch's count rows are both batch_id-partitioned
  * and REPLACED on replay (dynamic partition overwrite for docs;
  * partition drop + bucketed append for counts — counts must never
  * duplicate, unlike the harmless signature-store appends, because
  * readers SUM them). Historical totals read COMMITTED batches only, so
  * a crashed batch's half-written counts are invisible until its replay
  * completes.
  */
object IncrementalLineDedup {

  val CountsTable = "line_unit_counts"
  val DocsTable = "docs_lines"
  val MarkerTable = "line_batches"
  val CountsSchemaDdl: String = "lh STRING, cnt BIGINT, batch_id BIGINT"
  val CountsBucketCols: Seq[String] = Seq("lh")
  val CountsPartitionCols: Seq[String] = Seq("batch_id")

  /** The persisted count store as a bucketed table (registered on first
    * use; empty until the first commit). Must be read through here — a
    * plain parquet read would drop the bucket metadata and re-shuffle
    * the whole store on every aggregation.
    */
  def countStore(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16
  ): DataFrame = {
    catalog.ensureBucketed(
      CountsTable, CountsSchemaDdl, CountsBucketCols, nBuckets, CountsPartitionCols)
    catalog.readBucketed(CountsTable)
  }

  /** Fold committed batches beyond the `keepRecent` newest into the
    * watermark base partition ([[StoreCompaction.compact]], the
    * bucketed-table form): per-unit counts of the folded batches — plus
    * the previous base — are summed into ONE bucketed partition (the
    * groupBy runs exchange-free on the bucketed read), so the per-batch
    * history predicate stays bounded forever. Readers SUM count rows, so scrub verdicts are
    * unchanged by construction (spec-asserted).
    */
  def compact(
      catalog: graft.sink.TranscriptCatalog,
      keepRecent: Int,
      nBuckets: Int = 16
  ): Unit =
    StoreCompaction.compact(catalog, MarkerTable, keepRecent, Some(CountsTable)) {
      (foldView, wNew) =>
        val basePart = StoreCompaction.basePartition(wNew)
        val folded = countStore(catalog, nBuckets)
          .filter(foldView.statePredicate(col("batch_id")))
          .groupBy("lh").agg(sum("cnt").as("cnt"))
          .withColumn("batch_id", lit(basePart))
          .select("lh", "cnt", "batch_id")
          // the source partitions are deleted after the commit — sever
          // the lineage
          .localCheckpoint()
        catalog.dropBucketedPartition(CountsTable, "batch_id", basePart.toString)
        catalog.appendBucketed(
          folded, CountsTable, CountsBucketCols, nBuckets, CountsPartitionCols)
    }

  /** Scrub one batch of docs against the committed history and commit
    * it ([[StoreCompaction.commitBatch]]: a committed batchId is a no-op,
    * an out-of-order one fails fast). Emits nothing — the scrubbed rows land in
    * [[DocsTable]] `(doc_id, n_lines, kept_line_count, scrub_hash,
    * batch_id)`.
    */
  def processBatch(
      catalog: graft.sink.TranscriptCatalog,
      batchDocs: DataFrame,
      batchId: Long,
      textCol: String = "text",
      maxOccurrences: Int = 1,
      nBuckets: Int = 16,
      storePreGate: Boolean = true
  ): Unit =
    StoreCompaction.commitBatch(catalog, MarkerTable, batchId, "line-dedup") { view =>
      // One unit-hash pass feeds the batch counts, the over-threshold
      // probe, and the per-doc scrub.
      val units = LineDedup.unitHashes(batchDocs, textCol).persist()
      val batchCounts = units.groupBy("lh").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      // Historical totals for COMMITTED batches only (a crashed batch's
      // half-written rows are invisible); the store reads bucketed by lh,
      // so this aggregation never exchanges the store side.
      val store = countStore(catalog, nBuckets)
      // Watermark-compacted committed predicate: base-partition equality
      // plus a bounded isin (StoreCompaction), never an all-history In.
      val histRows = store.filter(view.statePredicate(col("batch_id")))
      // Store-side Bloom pre-gate (round-6, the INVERSE direction of the
      // decontam gate): history only matters for units PRESENT IN THIS
      // BATCH, and the batch's distinct-unit set is the small side here —
      // so a sketch of batchCounts.lh probes every store row inside the
      // (bucketed, exchange-free) scan, and history units this batch never
      // mentions skip the aggregation entirely. At steady state the store
      // holds every unit ever seen while a day's batch holds a sliver, so
      // this collapses the per-batch history aggregation from all-of-history
      // to ~|batch units| (+fpp noise). False positives only aggregate a few
      // extra units that the left join below then ignores; false negatives
      // are impossible, so outputs are bit-identical (spec-asserted).
      // stat.bloomFilter NPEs on a zero-row input (null aggregate buffer),
      // so a post-first-commit micro-batch with only empty/whitespace texts
      // (zero line units) must skip the gate — histRows ungated is still
      // correct, the left join below just finds nothing to match.
      val nBatchUnits = batchCounts.count()
      val histGated =
        if (storePreGate && !view.isEmpty && nBatchUnits > 0) {
          val sketch = batchCounts.stat.bloomFilter(
            "lh", math.max(nBatchUnits, 64L), 0.01)
          histRows.filter(
            graft.functions.BloomMightContain.mightContain(col("lh"), sketch))
        } else histRows
      val hist = histGated.groupBy("lh").agg(sum("cnt").as("hist"))
      val over = batchCounts.join(hist, Seq("lh"), "left")
        .filter(col("cnt") + coalesce(col("hist"), lit(0L)) > maxOccurrences)
        .select("lh")
      // Per-doc scrub — the LineDedup.scrub tail over the batch's units.
      val kept = units.join(over, Seq("lh"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_line_count"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(line_idx, lh))), s -> s.lh)")))
            .as("scrub_hash"))
      val outDocs = units.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("kept_line_count"), lit(0L)).as("kept_line_count"),
          coalesce(col("scrub_hash"), md5(lit(""))).as("scrub_hash"),
          lit(batchId).as("batch_id"))
      catalog.overwritePartitions(outDocs, DocsTable, Seq("batch_id"))
      units.unpersist()
      // Counts REPLACE this batch's partition (drop + bucketed append):
      // a replayed append would double every total a reader sums.
      catalog.dropBucketedPartition(CountsTable, "batch_id", batchId.toString)
      catalog.appendBucketed(
        batchCounts.withColumn("batch_id", lit(batchId))
          .select("lh", "cnt", "batch_id"),
        CountsTable, CountsBucketCols, nBuckets, CountsPartitionCols)
    }
}
