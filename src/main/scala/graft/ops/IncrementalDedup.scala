package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-run incremental near-duplicate detection: the daily-ingest shape of
  * a corpus pipeline. A persisted SIGNATURE STORE — (id, band_idx, band_hash)
  * rows of every previously-kept document — stands in for the full history,
  * and each new batch is deduped against the store by one equi-join on
  * (band_idx, band_hash) instead of re-banding the whole corpus.
  *
  * Reference analog: the committed-ids store consulted before ingesting a
  * batch (reference: internal/stores/log_batch_store.go:42-59), generalized
  * from exact idempotency keys to MinHash band signatures.
  *
  * Scale shape: the store grows O(corpus × bands) narrow rows; the per-batch
  * work is O(batch) signature computation + a semi-join where ONLY
  * (band_idx, band_hash) and ids cross the shuffle — document text never
  * moves, and the store side IS bucketed by (band_idx, band_hash) (see
  * `signatureStore`/`appendSignatures` below), so daily runs read history
  * co-located and exchange-free. Token-less docs carry no signature
  * (null-minima guard, see MinHash) and are therefore always kept.
  */
object IncrementalDedup {

  /** Append a `toks` column: the 3-word shingle set of `textCol` (split on
    * single spaces, lowercase, distinct 3-grams; <3-word docs get an EMPTY
    * set and thus no signature). THE one Scala copy of the tokenizer
    * convention — OpsQueries.docShingles delegates here, and
    * OpsQueries.shinglesSqlDuck is its DuckDB mirror. All other columns
    * are preserved. The word split is materialized in its own projection
    * so it is evaluated once per row, not once per shingle element.
    */
  // The shingle array is the codegen'd graft.functions.WordShingles
  // expression — bit-identical to the CASE/array_distinct/transform HOF
  // it replaced (round-8; WordGramHashesSpec gates the equivalence).
  // coalesce replicates the CASE's ELSE for null text (size(null) is
  // null, so the SQL form fell through to array()).
  def shingles(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__ws", split(lower(col(textCol)), " "))
      .withColumn("toks",
        coalesce(graft.functions.WordShingles.wordShingles(col("__ws"), 3),
          typedLit(Seq.empty[String])))
      .drop("__ws")

  /** Exploded banded MinHash signatures (idCol, band_idx, band_hash) of a
    * doc batch — the store's row format. Token-less docs carry no rows:
    * the guard filters the GENERATED band_hash against the empty-signature
    * constant (a `size(toksCol) > 0` pre-filter would be pushdown-
    * substituted with the whole shingle expression tree and re-evaluate it
    * per row — the round-3 dd_minhash_lsh 5× regression).
    */
  def signatures(
      docs: DataFrame,
      idCol: String,
      toksCol: String,
      bands: Int,
      rows: Int
  ): DataFrame =
    docs
      .select(col(idCol) +: MinHash.signature(toksCol, bands * rows): _*)
      .select(col(idCol),
        posexplode(MinHash.bandArray(bands, rows)).as(Seq("band_idx", "band_hash")))
      .filter(col("band_hash") =!= lit(MinHash.emptyBandHash))

  /** Ids of new-batch docs that collide with the store on ANY band.
    * `newSigs` and `store` are both in `signatures` row format.
    */
  def duplicateIds(newSigs: DataFrame, store: DataFrame, idCol: String): DataFrame =
    newSigs
      .join(store.select("band_idx", "band_hash"), Seq("band_idx", "band_hash"), "left_semi")
      .select(idCol).distinct()

  /** The composite Bloom key of a signature row — the store join key
    * (band_idx, band_hash) as one string, shared by the sketch builder
    * and the probe so both sides hash identical bytes.
    */
  private def bloomKey =
    concat_ws(":", col("band_idx"), col("band_hash"))

  /** A broadcastable Bloom sketch of the store's (band_idx, band_hash)
    * keys, sized for twice the store's rows (at least `minCapacity`) so
    * later merges fit — ~1.2 MB per million signature rows at 1% fpp. See
    * [[graft.functions.BloomMightContain]] for the scale rationale.
    * Returns (sketch, capacity, store rows).
    */
  def storeSketch(
      store: DataFrame,
      minCapacity: Long,
      fpp: Double
  ): (org.apache.spark.util.sketch.BloomFilter, Long, Long) = {
    val n = store.count()
    val cap = math.max(minCapacity, 2 * n)
    // stat.bloomFilter NPEs on zero rows (null aggregate buffer)
    val sketch =
      if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(cap, fpp)
      else store.select(bloomKey.as("bk")).stat.bloomFilter("bk", cap, fpp)
    (sketch, cap, n)
  }

  /** [[duplicateIds]] with a map-side Bloom pre-gate: the batch's
    * signature rows probe the store sketch inside the scan stage, so
    * definite non-duplicates (all but fpp of a typical batch) never
    * shuffle. The exact semi-join over the survivors removes the false
    * positives — output identical to [[duplicateIds]]
    * (IncrementalDedupSpec asserts equality and the pre-exchange plan
    * position).
    */
  def duplicateIdsBloom(
      newSigs: DataFrame,
      store: DataFrame,
      idCol: String,
      sketch: org.apache.spark.util.sketch.BloomFilter
  ): DataFrame =
    newSigs
      .filter(graft.functions.BloomMightContain.mightContain(bloomKey, sketch))
      .join(store.select("band_idx", "band_hash"), Seq("band_idx", "band_hash"), "left_semi")
      .select(idCol).distinct()

  // ------------------------------------------------------------------
  // ROLLING store sketch (round-6): the persisted, incrementally-merged
  // Bloom superset of the store's keys, so the streaming sink's pre-gate
  // never rescans the (corpus-sized) store per micro-batch. SAFETY
  // INVARIANT: the persisted sketch must always be a SUPERSET of the
  // store's keys — a missing key would let a true duplicate skip the
  // exact semi-join entirely (a silent output change, unlike a false
  // positive, which the join removes). The invariant holds because the
  // sketch is saved BEFORE each batch's signature append (extra keys
  // from a crash between the two are harmless false positives) and Bloom
  // merge is idempotent, so replays re-merging the same keys change
  // nothing. A missing/corrupt/mismatched blob rebuilds from the FULL
  // store scan (including any crashed batch's partial appends — still a
  // superset).

  /** Sidecar blob holding the rolling sketch. */
  val SketchBlob: String = "_sig_bloom"
  private val SketchMagic = "sigbloom-v1"

  /** Load the rolling sketch; None if absent/corrupt/parameter-mismatched. */
  def loadRollingSketch(
      catalog: graft.sink.TranscriptCatalog,
      fpp: Double
  ): Option[(org.apache.spark.util.sketch.BloomFilter, Long, Long)] =
    catalog.readBlob(StoreTable, SketchBlob).flatMap { bytes =>
      try {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
        val hb = new Array[Byte](in.readInt()); in.readFully(hb)
        val parts = new String(hb, "UTF-8").split(";")
        if (parts(0) != SketchMagic || parts(1).toDouble != fpp) None
        else Some((org.apache.spark.util.sketch.BloomFilter.readFrom(in),
          parts(2).toLong, parts(3).toLong)) // (sketch, capacity, itemsUpperBound)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Persist the rolling sketch (atomic temp+rename via the catalog). */
  def saveRollingSketch(
      catalog: graft.sink.TranscriptCatalog,
      sketch: org.apache.spark.util.sketch.BloomFilter,
      capacity: Long,
      items: Long,
      fpp: Double
  ): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    val hb = s"$SketchMagic;$fpp;$capacity;$items".getBytes("UTF-8")
    dos.writeInt(hb.length); dos.write(hb)
    sketch.writeTo(dos); dos.close()
    catalog.writeBlob(StoreTable, SketchBlob, bos.toByteArray)
  }

  /** Load the rolling sketch, or rebuild it from a full store scan when
    * absent (first run) or unusable. The returned sketch is a superset of
    * the store's keys by the invariant above.
    */
  def rollingSketch(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16,
      minCapacity: Long = 1L << 16,
      fpp: Double = 0.01
  ): (org.apache.spark.util.sketch.BloomFilter, Long, Long) =
    loadRollingSketch(catalog, fpp).getOrElse {
      val built @ (sketch, cap, n) =
        storeSketch(signatureStore(catalog, nBuckets), minCapacity, fpp)
      saveRollingSketch(catalog, sketch, cap, n, fpp)
      built
    }

  /** Merge a batch's about-to-append signature keys into the rolling
    * sketch and persist it — MUST run before [[appendSignatures]] (the
    * superset invariant). When the merged item bound would overflow the
    * sketch's capacity (degrading fpp), the sketch is rebuilt larger from
    * the store plus the batch keys instead of merged.
    */
  def mergeRollingSketch(
      catalog: graft.sink.TranscriptCatalog,
      keptSigs: DataFrame,
      sketch: org.apache.spark.util.sketch.BloomFilter,
      capacity: Long,
      items: Long,
      nBuckets: Int = 16,
      fpp: Double = 0.01
  ): Unit = {
    val keyed = keptSigs.select(bloomKey.as("bk"))
    val batchN = keyed.count()
    if (batchN == 0) {
      // nothing to merge; the persisted sketch already covers the store
    } else if (items + batchN <= capacity) {
      // same (capacity, fpp) ⇒ bit-compatible, mergeable in place
      sketch.mergeInPlace(keyed.stat.bloomFilter("bk", capacity, fpp))
      saveRollingSketch(catalog, sketch, capacity, items + batchN, fpp)
    } else {
      val store = signatureStore(catalog, nBuckets)
      val n = store.count() + batchN
      val cap = math.max(2 * n, 2 * capacity)
      val rebuilt = store.select(bloomKey.as("bk")).unionAll(keyed)
        .stat.bloomFilter("bk", cap, fpp)
      saveRollingSketch(catalog, rebuilt, cap, n, fpp)
    }
  }

  /** The AUDIT TRAIL behind [[duplicateIds]] (round-6, the near-dup twin
    * of the `dd_decontam_pairs` query): one row per (new doc, stored doc)
    * pair that collides on at least one band, with the colliding-band
    * count — the evidence needed to adjudicate WHY an ingest batch dropped
    * a document. Same band equi-join (store side still bucketed and
    * exchange-free) plus one ids-only groupBy; `duplicateIds` is exactly
    * this frame projected to distinct new-doc ids.
    */
  def duplicatePairs(newSigs: DataFrame, store: DataFrame, idCol: String): DataFrame =
    newSigs
      .join(store.select(col(idCol).as("matched_doc_id"),
        col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
      .groupBy(col(idCol), col("matched_doc_id"))
      .agg(count(lit(1)).as("n_shared_bands"))

  /** Split a new batch into (kept, dropped) against the store and return
    * (kept docs, dropped docs, kept docs' signatures ready to append to the
    * store). Within-batch near-dups are NOT resolved here — run the batch
    * through `MinHash.candidatePairs` + `ConnectedComponents` first if the
    * source can contain same-day duplicates. `reliable` switches the
    * intermediate materializations to reliable checkpoints
    * (see [[Materialize]]).
    */
  def dedupBatch(
      newDocs: DataFrame,
      store: DataFrame,
      idCol: String,
      toksCol: String,
      bands: Int,
      rows: Int,
      reliable: Boolean = false,
      // a SUPERSET sketch of the store's keys pre-gates the semi-join
      // (see the rolling-sketch invariant below) — output identical
      sketch: Option[org.apache.spark.util.sketch.BloomFilter] = None
  ): (DataFrame, DataFrame, DataFrame) = {
    // Cache lifecycle: signatures are persisted only while the (narrow,
    // eager) dup-id and kept-signature sets are materialized via
    // Materialize.stable, then released — the returned lazy frames
    // reference the materialized results, never the signature expression
    // tree (which a join would otherwise re-evaluate interpreted, once per
    // side).
    val sigs = signatures(newDocs, idCol, toksCol, bands, rows).persist()
    val dupIds = sketch match {
      case Some(bf) => duplicateIdsBloom(sigs, store, idCol, bf)
      case None => duplicateIds(sigs, store, idCol)
    }
    val dups = Materialize.stable(dupIds, reliable)
    val keptSigs = Materialize.stable(
      sigs.join(dups, Seq(idCol), "left_anti"), reliable)
    sigs.unpersist()
    val kept = newDocs.join(dups, Seq(idCol), "left_anti")
    val dropped = newDocs.join(dups, Seq(idCol), "left_semi")
    (kept, dropped, keptSigs)
  }

  // ------------------------------------------------------------------
  // Bucketed signature store (round-3 verdict item #2). The store is the
  // BIG side of every daily semi-join — O(corpus × bands) rows vs a
  // batch's O(batch × bands) — so it is written bucketed by the join key
  // (band_idx, band_hash): each run's append pre-hashes its files into
  // the same bucket layout, and every later run's `duplicateIds`
  // semi-join reads the store side with NO exchange. Spark keeps bucket
  // metadata in the session catalog, so the store must be read through
  // `signatureStore` (which re-registers the external table idempotently)
  // — a plain parquet read of the same files would silently drop the
  // bucketing and re-shuffle the whole store every day.
  // ------------------------------------------------------------------

  /** Store schema: `signatures` row format + the writing batch's id. */
  val StoreSchemaDdl: String =
    "doc_id BIGINT, band_idx INT, band_hash STRING, batch_id BIGINT"
  val StoreBucketCols: Seq[String] = Seq("band_idx", "band_hash")
  val StoreTable: String = "signatures"

  /** The persisted band-signature store as a bucketed table (registered
    * on first use; empty until the first append).
    */
  def signatureStore(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16
  ): DataFrame = {
    catalog.ensureBucketed(StoreTable, StoreSchemaDdl, StoreBucketCols, nBuckets)
    catalog.readBucketed(StoreTable)
  }

  /** Append a batch's kept signatures (tagged with `batchId`) to the
    * bucketed store.
    */
  def appendSignatures(
      catalog: graft.sink.TranscriptCatalog,
      keptSigs: DataFrame,
      batchId: Long,
      nBuckets: Int = 16
  ): Unit =
    appendSignaturesRaw(catalog,
      keptSigs.withColumn("batch_id", lit(batchId)), nBuckets)

  /** Append already-batch-tagged signature rows to the bucketed store
    * (the migration path feeds pre-tagged legacy rows through here).
    */
  def appendSignaturesRaw(
      catalog: graft.sink.TranscriptCatalog,
      sigs: DataFrame,
      nBuckets: Int = 16
  ): Unit = {
    catalog.ensureBucketed(StoreTable, StoreSchemaDdl, StoreBucketCols, nBuckets)
    catalog.appendBucketed(
      sigs.select("doc_id", "band_idx", "band_hash", "batch_id"),
      StoreTable, StoreBucketCols, nBuckets)
  }
}
