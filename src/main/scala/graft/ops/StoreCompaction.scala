package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one batch-commit protocol of graft's incremental stores, in two
  * halves. Every store with a batch_id marker table runs both through
  * here and supplies only its own batch logic and fold aggregation:
  * `cap_batches`, `line_batches`, `substr_batches`, `pack_batches`,
  * `emb_batches`, the streaming near-dup sink's `batches` and the
  * streaming export's `export_batches`.
  *
  * COMMIT ([[commitBatch]]), the exactly-once half (the reference's
  * create-if-not-exists batch PUT, log_batch_store.go:42-59):
  *
  *   1. ADMIT: `batchId >= 0` (negative ids would collide with the base
  *      partition encoding below); a committed id is a no-op replay; any
  *      other id must exceed every committed id — stores read committed
  *      state only, so a late batch would read a history that already
  *      holds its future. A never-committed id at or below the watermark
  *      is such a late batch and fails fast too (the `_batch_gaps`
  *      record [[compact]] keeps).
  *   2. WRITE the batch's outputs and state, replay-idempotently
  *      (batch_id-partitioned overwrites, or appends a replay tolerates).
  *   3. COMMIT: append the batch's marker partition. It lands last by
  *      construction, so a crash anywhere earlier leaves the batch
  *      uncommitted and its replay redoes (2) against the same state.
  *
  * COMPACT ([[compact]]), the watermark half: a marker PARTITION PER
  * BATCH and a `batch_id.isin(allCommitted)` state probe grow with the
  * store's age, so batches at or below a WATERMARK are folded into ONE
  * base partition (the manifest treatment of
  * [[graft.checkpoint.Checkpoint.compact]] applied to the store tables):
  *
  *   1. FOLD the rows of committed batches in (w_old, w_new] — read
  *      through the committed set, so crashed half-written partitions
  *      stay excluded — into the base partition `basePartition(w_new)`,
  *      which also absorbs the previous base partition;
  *   2. COMMIT: write the watermark blob (temp+rename atomic);
  *   3. GC: drop folded state partitions (including any crashed garbage
  *      at or below w_new — unreplayable anyway, step 1 of the commit
  *      rejects them), superseded base partitions, and markers ≤ w_new.
  *
  * Committed-state predicates become `batch_id = <base partition> OR
  * batch_id IN (<recent>)` — one equality plus a bounded isin, whatever
  * the store's age. A crash before the watermark commit leaves the old
  * watermark live and both the old base and the raw partitions intact
  * (re-running compaction recomputes the same fold — overwrite-by-
  * partition is idempotent); a crash after it leaves harmless
  * already-folded partitions that the predicates no longer select and
  * the next compaction GC sweeps.
  *
  * The base partition id is VERSIONED by the watermark
  * ([[basePartition]] = -w-2 < -1, never colliding with real batch ids
  * ≥ 0), so the fold's overwrite can never clobber the live base row
  * mid-write: the new base becomes visible only through the commit.
  *
  * The watermark blob is AUTHORITATIVE state (unlike the derived Bloom
  * sidecars, which rebuild on corruption): a corrupt blob fails fast
  * rather than silently resetting — a reset watermark would deselect the
  * base partition and undercount every budget/threshold downstream.
  */
object StoreCompaction {

  val WatermarkBlob = "_batch_watermark"

  /** The folded-state partition id for watermark `w` (strictly below -1,
    * disjoint from real batch ids and from other watermarks' bases).
    */
  def basePartition(w: Long): Long = -w - 2

  /** Never-committed batch ids at or below the watermark, as `lo-hi`
    * ranges (comma-separated) in a blob next to the watermark. A fold
    * over non-contiguous ids writes it before the watermark commit; the
    * admit guard reads it only for ids at or below the watermark, so a
    * late batch there fails fast instead of passing as a folded replay.
    * Absent when every folded range was contiguous, and for stores
    * folded before gaps were recorded (their gaps read as committed).
    */
  private val GapsBlob = "_batch_gaps"

  /** Committed-batch state of a store: every committed batch at or below
    * `watermark` is folded; `recent` are the individually marked batches
    * above it.
    */
  final case class CommittedView(watermark: Long, recent: Set[Long]) {
    def isEmpty: Boolean = watermark < 0 && recent.isEmpty
    /** Highest committed id (undefined when isEmpty — guard first). */
    def maxCommitted: Long = if (recent.nonEmpty) recent.max else watermark
    /** The bounded committed-state predicate over a batch_id column:
      * one equality on the base partition plus an isin over the recent
      * ids. `lit(false)` when nothing is committed.
      */
    def statePredicate(batchIdCol: Column): Column = {
      if (isEmpty) lit(false)
      else {
        val baseSel: Column =
          if (watermark >= 0) batchIdCol === lit(basePartition(watermark))
          else lit(false)
        if (recent.isEmpty) baseSel
        else baseSel || batchIdCol.isin(recent.toSeq: _*)
      }
    }
  }

  def readWatermark(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String
  ): Long =
    catalog.readBlob(markerTable, WatermarkBlob) match {
      case None => -1L
      case Some(bytes) =>
        try new String(bytes, "UTF-8").trim.toLong
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"corrupt watermark blob for $markerTable — refusing to " +
                "guess: a reset watermark would silently drop the folded " +
                "base state from every committed-batch read", e)
        }
    }

  def writeWatermark(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String,
      w: Long
  ): Unit =
    catalog.writeBlob(markerTable, WatermarkBlob, w.toString.getBytes("UTF-8"))

  /** The store's committed batches: the watermark blob plus the marker
    * partitions above it (markers at/below the watermark are swept by
    * compaction GC, but a crash window may leave some — they are
    * subsumed by the watermark and filtered here).
    */
  def committedView(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String
  ): CommittedView = {
    val w = readWatermark(catalog, markerTable)
    val recent = catalog.listPartitionValues(markerTable, "batch_id")
      .map(_.toLong).filter(_ > w).toSet
    CommittedView(w, recent)
  }

  private def readGaps(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String
  ): Seq[(Long, Long)] =
    catalog.readBlob(markerTable, GapsBlob) match {
      case None => Nil
      case Some(bytes) =>
        try new String(bytes, "UTF-8").trim.split(",").toSeq.map { r =>
          val Array(lo, hi) = r.split("-")
          (lo.toLong, hi.toLong)
        } catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"corrupt batch-gap blob for $markerTable — refusing to " +
                "guess which ids below the watermark were committed", e)
        }
    }

  /** Commit one batch of a store through its `markerTable` (the COMMIT
    * half of the protocol above): admit the id, run `write` with the
    * committed view the batch must read, then append the marker. A
    * committed id returns without calling `write`. `what` names the
    * store in the out-of-order error.
    */
  def commitBatch(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String,
      batchId: Long,
      what: String
  )(write: CommittedView => Unit): Unit = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val view = committedView(catalog, markerTable)
    val replay = view.recent(batchId) || (batchId <= view.watermark &&
      !readGaps(catalog, markerTable).exists { case (lo, hi) =>
        lo <= batchId && batchId <= hi })
    if (replay) return
    if (!view.isEmpty) {
      require(batchId > view.maxCommitted,
        s"out-of-order $what batch: batchId=$batchId but batch " +
          s"${view.maxCommitted} already committed — $markerTable commits " +
          "in ascending batch_id order, and a late batch would read " +
          "committed state that already holds its future")
    }
    write(view)
    // COMMIT POINT — the marker registers the batch id as a partition
    // directory (payload column required by the parquet writer).
    catalog.append(
      catalog.spark.range(1).select(lit(batchId).as("batch_id"), lit(1).as("one")),
      markerTable, Seq("batch_id"))
  }

  /** Fold a store's committed batches beyond the `keepRecent` newest into
    * the watermark (the COMPACT half of the protocol above). `fold`
    * receives the view of the batches to fold and the new watermark, and
    * writes the store's base partition `basePartition(wNew)`; after the
    * watermark commit the folded partitions of `stateTable` (batch_id
    * partitioned, plain or bucketed) and the subsumed markers are GC'd.
    * Stores with `stateTable = None` fold markers only. A no-op when at
    * most `keepRecent` batches are tracked individually.
    */
  def compact(
      catalog: graft.sink.TranscriptCatalog,
      markerTable: String,
      keepRecent: Int,
      stateTable: Option[String]
  )(fold: (CommittedView, Long) => Unit): Unit = {
    val view = committedView(catalog, markerTable)
    foldTarget(view, keepRecent).foreach { wNew =>
      val foldIds = view.recent.filter(_ <= wNew).toSeq.sorted
      fold(CommittedView(view.watermark, foldIds.toSet), wNew)
      val bounds = view.watermark +: foldIds
      val gaps = bounds.zip(bounds.tail).collect {
        case (a, b) if b > a + 1 => (a + 1, b - 1)
      }
      if (gaps.nonEmpty)
        catalog.writeBlob(markerTable, GapsBlob,
          (readGaps(catalog, markerTable) ++ gaps).distinct
            .map { case (lo, hi) => s"$lo-$hi" }.mkString(",").getBytes("UTF-8"))
      // COMMIT POINT.
      writeWatermark(catalog, markerTable, wNew)
      // dropBucketedPartition also drops a bucketed table's catalog entry
      // (line, substring); on a plain table (cap, pack) it is a directory
      // drop.
      stateTable.foreach { t =>
        catalog.listPartitionValues(t, "batch_id").filter(gcStatePartition(wNew))
          .foreach(catalog.dropBucketedPartition(t, "batch_id", _))
      }
      catalog.dropPartitions(markerTable, "batch_id", gcMarkerPartition(wNew))
    }
  }

  /** Pick the new watermark so that at most `keepRecent` committed
    * batches stay individually tracked; None when already within bounds.
    */
  def foldTarget(view: CommittedView, keepRecent: Int): Option[Long] = {
    require(keepRecent >= 1, "keepRecent must be >= 1")
    if (view.recent.size <= keepRecent) None
    else Some(view.recent.toSeq.sorted.dropRight(keepRecent).max)
  }

  /** GC predicate for a state table's batch_id partitions after the
    * watermark moved to `wNew`: folded real ids, crashed garbage at or
    * below the watermark, and superseded base partitions.
    */
  def gcStatePartition(wNew: Long)(value: String): Boolean = {
    val id = value.toLong
    (id >= 0 && id <= wNew) || (id < -1 && id != basePartition(wNew))
  }

  /** Marker partitions subsumed by the watermark. */
  def gcMarkerPartition(wNew: Long)(value: String): Boolean =
    value.toLong <= wNew
}
