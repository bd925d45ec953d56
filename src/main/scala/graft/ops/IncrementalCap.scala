package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-batch incremental per-source frequency capping — the
  * daily-ingest form of the tx_cap_source catalog operator, completing
  * the cap in the same full-rebuild / incremental-batch pair as the
  * dedup and packing families.
  *
  * Contract: across all committed batches at most `k` docs per source
  * are ever marked kept. Within a batch the selection order is the
  * deterministic [[hashOrd]] hash order (so reruns agree); across
  * batches it is arrival order — an earlier batch's kept docs are never
  * revoked by a later batch (the incremental contract; the whole-corpus
  * tx_cap_source pass is the scheduled compaction that re-levels the
  * selection when one is wanted).
  *
  * Scale shape: the per-batch rank is the keyed hierarchical prefix
  * count ([[SequencePack.exclusivePrefixSum]] with weight 1), never a
  * low-cardinality `PARTITION BY source` window, so one domain holding
  * half the batch still ranks block-parallel. The persisted state is
  * one (source, kept_docs) row per source per batch — counts, not ids —
  * so the store stays tiny and the base-count aggregation is a
  * broadcast-sized map-side combine.
  *
  * Commit and compaction follow [[StoreCompaction]]'s protocol. The
  * batch's doc verdicts and its count rows are batch_id-partitioned and
  * REPLACED on replay (readers SUM the counts, so a duplicated count row
  * would shrink every later batch's budget), and base counts read
  * COMMITTED batches only — ascending commits keep a batch from spending
  * budget its own future has already spent.
  */
object IncrementalCap {

  val CountsTable = "cap_source_counts"
  val DocsTable = "docs_capped"
  val MarkerTable = "cap_batches"

  /** Sentinel group for NULL sources (see [[processBatch]]) — null keys
    * would silently drop out of the prefix-sum equi-join, violating the
    * every-doc-gets-a-verdict audit contract.
    */
  val NullSourceSentinel = "__null_source__"

  /** The deterministic selection-order key shared by tx_cap_source and
    * the incremental form (ONE definition so the two cannot drift, and
    * mirrorable in DuckDB as `('0x' || substring(md5(id::VARCHAR), 1,
    * 10))::BIGINT * 4194304 + id % 4194304`): a 40-bit md5 prefix with
    * the id folded into the low 22 bits, collision-free by construction
    * for ids < 2^22 and hash-uniform — so fixed-size prefix-sum blocks
    * stay balanced no matter how ids arrive.
    */
  def hashOrd(idCol: String): Column =
    expr(
      s"CAST(conv(substring(md5(CAST(`$idCol` AS STRING)), 1, 10), 16, 10) AS BIGINT)" +
        s" * 4194304 + pmod(`$idCol`, 4194304)")

  /** Kept-so-far counts per source over the COMMITTED batches (empty —
    * without touching the not-yet-created store — before the first
    * commit). The committed-state predicate is the watermark-compacted
    * form ([[StoreCompaction.CommittedView.statePredicate]]): one base
    * partition equality plus a BOUNDED isin over recent batches, not an
    * In-literal over every batch ever committed.
    */
  def baseCounts(
      catalog: graft.sink.TranscriptCatalog,
      view: StoreCompaction.CommittedView,
      spark: org.apache.spark.sql.SparkSession
  ): DataFrame =
    if (view.isEmpty)
      spark.range(0).select(lit("").as("source"), lit(0L).as("base"))
    else
      catalog.read(CountsTable)
        .filter(view.statePredicate(col("batch_id")))
        .groupBy("source").agg(sum("kept_docs").as("base"))

  /** Fold committed batches beyond the `keepRecent` newest into the
    * watermark base partition ([[StoreCompaction.compact]]): the
    * per-source counts of the folded batches — plus the previous base —
    * are summed into ONE partition, so every later [[baseCounts]] reads a
    * bounded predicate. Verdicts are unchanged by construction (readers
    * sum these rows; IncrementalCapSpec asserts identity).
    */
  def compact(
      catalog: graft.sink.TranscriptCatalog,
      keepRecent: Int
  ): Unit =
    StoreCompaction.compact(catalog, MarkerTable, keepRecent, Some(CountsTable)) {
      (foldView, wNew) =>
        val folded = catalog.read(CountsTable)
          .filter(foldView.statePredicate(col("batch_id")))
          .groupBy("source").agg(sum("kept_docs").as("kept_docs"))
          .withColumn("batch_id", lit(StoreCompaction.basePartition(wNew)))
          .select("source", "kept_docs", "batch_id")
        catalog.overwritePartitions(folded, CountsTable, Seq("batch_id"))
    }

  /** Rank `docs` (doc_id, source) within each source in hash order —
    * exclusive prefix COUNT, i.e. rank 0 is the source's first doc.
    */
  def rankInSource(
      docs: DataFrame,
      blockSize: Long = 1L << 40,
      maxTopRows: Long = 4096
  ): DataFrame =
    SequencePack.exclusivePrefixSum(
      docs.withColumn("ord", hashOrd("doc_id")).withColumn("one", lit(1L)),
      "ord", "one", "keep_rank", blockSize, maxTopRows, keyCols = Seq("source"))
      .drop("ord", "one")

  /** Cap one batch against the committed history and commit it
    * ([[StoreCompaction.commitBatch]]: a committed batchId is a no-op, an
    * out-of-order one fails fast). Verdicts land in [[DocsTable]]
    * `(doc_id, source, keep_rank, kept, batch_id)` — every batch doc gets
    * a row, so the drop decisions are auditable, not just the survivors.
    */
  def processBatch(
      catalog: graft.sink.TranscriptCatalog,
      batchDocs: DataFrame,
      batchId: Long,
      k: Int,
      blockSize: Long = 1L << 40,
      maxTopRows: Long = 4096
  ): Unit =
    StoreCompaction.commitBatch(catalog, MarkerTable, batchId, "cap") { view =>
      val spark = batchDocs.sparkSession
      // NULL sources are coalesced to a sentinel group rather than dropped:
      // exclusivePrefixSum attaches offsets by equi-join on the key, which
      // silently loses null keys — and the audit contract above is that
      // EVERY batch doc gets a verdict row. The sentinel also keeps the
      // cross-batch budget for the null group (counts rows join by the same
      // sentinel value).
      val ranked = rankInSource(
        batchDocs.select(col("doc_id"),
          coalesce(col("source"), lit(NullSourceSentinel)).as("source")),
        blockSize, maxTopRows)
      val out = ranked.join(baseCounts(catalog, view, spark), Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("keep_rank"),
          (col("keep_rank") + coalesce(col("base"), lit(0L)) < k).as("kept"),
          lit(batchId).as("batch_id"))
      catalog.overwritePartitions(out, DocsTable, Seq("batch_id"))
      val counts = catalog.read(DocsTable)
        .filter(col("batch_id") === batchId && col("kept"))
        .groupBy("source").agg(count(lit(1)).as("kept_docs"))
        .withColumn("batch_id", lit(batchId))
      catalog.overwritePartitions(counts, CountsTable, Seq("batch_id"))
    }
}
