package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch incremental substring dedup — the daily-ingest form of
  * [[SubstringDedup]] (the Lee et al. 2022 verbatim-span strip),
  * completing the substring family in the incremental execution form
  * the way [[IncrementalLineDedup]] does for line units and
  * [[IncrementalDedup]]/[[IncrementalSemDedup]] do for near-dups.
  *
  * A persisted COUNT STORE — (gh, cnt, batch_id) rows, bucketed by the
  * k-gram hash — stands in for the full history: each batch marks a
  * k-gram position as duplicated when historical + in-batch occurrence
  * count reaches `minOccurrences`, merges hit positions to maximal
  * spans, emits the batch's scrubbed per-doc rows, and appends its own
  * per-gram counts. Only gram COUNTS persist, never positions, so
  * history is never re-scrubbed (the incremental contract: a span
  * crossing the threshold in a later batch strips from that batch
  * onward; the whole-corpus [[SubstringDedup.scrub]] pass is the
  * scheduled compaction that re-levels history).
  *
  * Scale shape: per batch, one positioned-gram pass over the batch text
  * (gram text never leaves the map task) plus ONE aggregation of the
  * store side that reads bucketed by `gh` and partial-aggregates
  * WITHOUT an exchange; only (gh, cnt) and (doc_id, pos, gh) rows ever
  * shuffle, and the span-merge window partitions by doc_id.
  *
  * Commit and compaction follow [[StoreCompaction]]'s protocol, as in
  * [[IncrementalLineDedup]]: scrubbed docs and the batch's count rows
  * are batch_id-partitioned and REPLACED on replay (counts must never
  * duplicate — readers SUM them), and historical totals read COMMITTED
  * batches only.
  */
object IncrementalSubstringDedup {

  val CountsTable = "substr_gram_counts"
  val DocsTable = "docs_substring"
  val MarkerTable = "substr_batches"
  val CountsSchemaDdl: String = "gh STRING, cnt BIGINT, batch_id BIGINT"
  val CountsBucketCols: Seq[String] = Seq("gh")
  val CountsPartitionCols: Seq[String] = Seq("batch_id")

  /** The persisted gram-count store as a bucketed table (registered on
    * first use; empty until the first commit). Must be read through
    * here — a plain parquet read would drop the bucket metadata and
    * re-shuffle the whole store on every aggregation.
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
    * watermark base partition ([[StoreCompaction.compact]]) — the
    * same fold as [[IncrementalLineDedup.compact]], over the gram-count
    * store.
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
          .groupBy("gh").agg(sum("cnt").as("cnt"))
          .withColumn("batch_id", lit(basePart))
          .select("gh", "cnt", "batch_id")
          // the source partitions are deleted after the commit — sever
          // the lineage
          .localCheckpoint()
        catalog.dropBucketedPartition(CountsTable, "batch_id", basePart.toString)
        catalog.appendBucketed(
          folded, CountsTable, CountsBucketCols, nBuckets, CountsPartitionCols)
    }

  /** Scrub one batch of docs against the committed gram history and
    * commit it ([[StoreCompaction.commitBatch]]: a committed batchId is
    * a no-op, an out-of-order one fails fast). The scrubbed rows land in
    * [[DocsTable]] `(doc_id, n_tokens, kept_tokens, scrub_hash,
    * batch_id)`.
    */
  def processBatch(
      catalog: graft.sink.TranscriptCatalog,
      batchDocs: DataFrame,
      batchId: Long,
      textCol: String = "text",
      k: Int = SubstringDedup.DefaultK,
      minOccurrences: Int = 2,
      nBuckets: Int = 16,
      storePreGate: Boolean = true
  ): Unit =
    StoreCompaction.commitBatch(catalog, MarkerTable, batchId, "substring-dedup") { view =>
      // One positioned-gram pass feeds the batch counts, the duplicated
      // set, and the position semi-join.
      val grams = SubstringDedup.positionedGrams(batchDocs, textCol, k).persist()
      val batchCounts = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      // Historical totals for COMMITTED batches only; the store reads
      // bucketed by gh, so this aggregation never exchanges the store side.
      val store = countStore(catalog, nBuckets)
      // Watermark-compacted committed predicate: base-partition equality
      // plus a bounded isin (StoreCompaction), never an all-history In.
      val histRows = store.filter(view.statePredicate(col("batch_id")))
      // Store-side Bloom pre-gate — same rationale as
      // [[IncrementalLineDedup.processBatch]]: history counts only matter
      // for grams present in THIS batch, so a sketch of the batch's
      // distinct grams probes the store scan and all other history rows
      // skip the aggregation. False positives are ignored by the left join
      // below; false negatives are impossible — outputs are bit-identical
      // (spec-asserted).
      // stat.bloomFilter NPEs on a zero-row input (null aggregate buffer),
      // so a post-first-commit batch whose docs are all shorter than k
      // grams must skip the gate (histRows ungated is still correct — the
      // left join below just finds no batch grams to match).
      val nBatchGrams = batchCounts.count()
      val histGated =
        if (storePreGate && !view.isEmpty && nBatchGrams > 0) {
          val sketch = batchCounts.stat.bloomFilter(
            "gh", math.max(nBatchGrams, 64L), 0.01)
          histRows.filter(
            graft.functions.BloomMightContain.mightContain(col("gh"), sketch))
        } else histRows
      val hist = histGated.groupBy("gh").agg(sum("cnt").as("hist"))
      val dup = batchCounts.join(hist, Seq("gh"), "left")
        .filter(col("cnt") + coalesce(col("hist"), lit(0L)) >= minOccurrences)
        .select("gh")
      val hits = grams.join(dup, Seq("gh"), "left_semi").select("doc_id", "pos")
      val spanRows = SubstringDedup.spansFromHits(hits, k)
      val outDocs = SubstringDedup.scrubFromSpans(batchDocs, spanRows, textCol)
        .withColumn("batch_id", lit(batchId))
      catalog.overwritePartitions(outDocs, DocsTable, Seq("batch_id"))
      grams.unpersist()
      // Counts REPLACE this batch's partition (drop + bucketed append).
      catalog.dropBucketedPartition(CountsTable, "batch_id", batchId.toString)
      catalog.appendBucketed(
        batchCounts.withColumn("batch_id", lit(batchId))
          .select("gh", "cnt", "batch_id"),
        CountsTable, CountsBucketCols, nBuckets, CountsPartitionCols)
    }
}
