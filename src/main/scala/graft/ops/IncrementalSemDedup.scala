package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-batch INCREMENTAL semantic deduplication — the embedding twin of
  * [[IncrementalDedup]], completing the SemDeDup story in the same three
  * execution forms as the lexical chain (full rebuild = `emb_semdedup`,
  * incremental batch = this, streaming = `processBatch` under
  * `StreamingPipeline.batchSink`):
  * drop each arriving batch's vectors that are semantic duplicates
  * (cosine ≥ `minCos`) of any previously KEPT vector, resolve the batch's
  * internal duplicates transitively, persist the survivors.
  *
  * The cross-batch state is a TABLE of kept vectors BUCKETED BY CELL: the
  * store side of every per-batch join reads exchange-free (its bucketing
  * IS the cell hash partitioning), and only the batch's vectors — assigned
  * to cells by the broadcast-centroid argmax, never hash-exchanged for
  * assignment — shuffle on the cell key. Within a cell the candidate set
  * is the SemDeDup pruning: O(batch × cell_occupancy), never batch × store.
  *
  * The IVF index must be FIXED across batches (a vector must land in the
  * same cell its near-duplicates did), so the centroids are published once
  * (`publishIndex`, committed via `_SUCCESS`) and every batch reads them;
  * re-publishing mid-stream would silently orphan the store's cell layout,
  * so `processBatch` refuses to run against an uncommitted index.
  *
  * Commit and compaction follow [[StoreCompaction]]'s protocol: per
  * batch, survivors overwrite their batch_id partition of `emb_kept`
  * (exactly-once under replay), then append to the bucketed store, then
  * the marker. The cross-batch join EXCLUDES the batch's own
  * vec_ids from the store, so a replay after a full OR PARTIAL store
  * append reproduces the first attempt's kept set exactly (the store
  * gains duplicate rows for the batch at worst — a semi-style join with
  * a distinct on the dup ids tolerates them).
  */
object IncrementalSemDedup {

  val CentsTable = "emb_cents"
  val StoreTable = "emb_store"
  val KeptTable = "emb_kept"
  val MarkerTable = "emb_batches"

  val StoreSchemaDdl: String =
    "cell INT, vec_id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE"
  val StoreBucketCols: Seq[String] = Seq("cell")

  // Codegen'd exact dot — bit-identical to the aggregate(zip_with(...))
  // fold it replaces (graft.functions.DotExact, round-8).
  private def dot(a: String, b: String) =
    graft.functions.DotExact.dotExact(col(a), col(b))

  /** Build and commit the shared IVF index from a reference vector sample
    * (`e` = a `Similarity.prepare`d frame). One-time setup; overwrite
    * semantics so a crashed publish is re-runnable.
    */
  def publishIndex(
      catalog: graft.sink.TranscriptCatalog,
      e: DataFrame,
      nCells: Int
  ): Unit =
    catalog.overwritePartitions(
      Similarity.buildIvfTable(e, nCells), CentsTable, Nil)

  /** The committed centroid table. */
  def index(catalog: graft.sink.TranscriptCatalog): DataFrame = {
    require(catalog.committed(CentsTable),
      s"no committed '$CentsTable' index — run publishIndex first (an " +
        "uncommitted index would assign cells inconsistently across batches)")
    catalog.read(CentsTable)
  }

  /** The bucketed kept-vector store (registered on first use). */
  def store(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16
  ): DataFrame = {
    catalog.ensureBucketed(StoreTable, StoreSchemaDdl, StoreBucketCols, nBuckets)
    catalog.readBucketed(StoreTable)
  }

  /** Fold committed batch MARKERS beyond the `keepRecent` newest into the
    * watermark ([[StoreCompaction.compact]] with no state table). This
    * store's state fold is a NO-OP by design: the bucketed kept-vector
    * store has no per-batch partitions (batch attribution lives only in
    * `emb_kept`, which is read by batch-id EQUALITY for the in-flight
    * batch, never via a growing isin), so the linearly growing thing here
    * was the marker LISTING — the watermark bounds it. `emb_kept`
    * partitions of folded batches stay intact (they are the durable
    * per-batch output).
    */
  def compact(catalog: graft.sink.TranscriptCatalog, keepRecent: Int): Unit =
    StoreCompaction.compact(catalog, MarkerTable, keepRecent, None)((_, _) => ())

  /** Dedup one batch of raw embeddings `(vec_id, embedding)` against the
    * store and itself, and commit the survivors
    * ([[StoreCompaction.commitBatch]]: a committed batchId is a no-op, an
    * out-of-order one fails fast).
    */
  def processBatch(
      catalog: graft.sink.TranscriptCatalog,
      batch: DataFrame,
      batchId: Long,
      minCos: Double = 0.95,
      storeBuckets: Int = 16
  ): Unit =
    StoreCompaction.commitBatch(catalog, MarkerTable, batchId, "semdedup") { _ =>
      val cents = index(catalog)
      val assigned = Similarity.assignCellBroadcast(
          Similarity.prepare(batch), cents)
        .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
      // Cross-batch drop: within-cell cosine vs the store's kept vectors.
      // The store side provides its own cell partitioning (bucketed); the
      // dup-id set is tiny and feeds one anti join. The store EXCLUDES this
      // batch's own vec_ids (one broadcast anti join — the micro-batch is
      // the small side by construction): a crash between a partial store
      // append and the marker would otherwise make the replay drop vectors
      // against their own half-landed copies and REPLACE the kept partition
      // with the shrunken set. With the exclusion every crash window
      // replays against exactly the store the first attempt saw.
      val ownIds = broadcast(batch.select("vec_id"))
      val st = store(catalog, storeBuckets)
        .join(ownIds, Seq("vec_id"), "left_anti")
        .select(col("cell"), col("v").as("sv"), col("nrm").as("sn"))
      val crossDup = assigned.join(st, Seq("cell"))
        .filter(dot("v", "sv") / (col("nrm") * col("sn")) >= minCos)
        .select("vec_id").distinct()
      val fresh = assigned.join(crossDup, Seq("vec_id"), "left_anti")
      // Within-batch transitive resolution — the emb_semdedup contract.
      val a = fresh.select(col("cell"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = fresh.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      val pairs = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .filter(dot("va", "vb") / (col("na") * col("nb")) >= minCos)
        .select("id_a", "id_b")
      val dropWithin = ConnectedComponents.resolve(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("label"))
        .select(col("id").as("vec_id"))
      val kept = Materialize.stable(
        fresh.join(dropWithin, Seq("vec_id"), "left_anti"), reliable = false)
      catalog.overwritePartitions(
        kept.select(col("vec_id"), lit(batchId).as("batch_id")),
        KeptTable, Seq("batch_id"))
      catalog.appendBucketed(
        kept.select(col("cell"), col("vec_id"), col("v"), col("nrm")),
        StoreTable, StoreBucketCols, storeBuckets)
    }
}
