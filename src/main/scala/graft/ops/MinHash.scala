package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized MinHash + LSH banding over a token-array column.
  *
  * Signature = `numPerms` salted-md5 minima, computed per row by an array
  * fold (array_min over transform) — NO explode, NO groupBy: only the
  * 32-char minima leave the map task. Banding groups `rows` consecutive
  * signature components per band (b bands × r rows, numPerms = b·r);
  * candidate pairs share at least one (band_idx, band_hash).
  *
  * The (bands, rows) knobs trade recall vs candidate volume the standard
  * way: P(candidate) = 1 - (1 - J^r)^b for Jaccard J. Round-1 review asked
  * for exactly this parameterization (the fixed 2-perm/2-band form had
  * production-recall far below b×r banding).
  */
object MinHash {

  /** Band hash of a doc with NO tokens: every mh minimum is NULL (array_min
    * of an empty array), concat_ws drops nulls, so every band hashes to
    * md5("") — this exact constant, for any (bands, rows). A real doc can
    * never produce it (its minima are 32-char md5 hex digests, never
    * empty), so `band_hash != emptyBandHash` is an exact token-less-doc
    * guard that costs one string compare on an already-computed column.
    */
  val emptyBandHash: String = "d41d8cd98f00b204e9800998ecf8427e"

  /** Per-row signature columns mh1..mhN over token-array column `toksCol`.
    * Each row is the codegen'd graft.functions.MinhashMin expression —
    * bit-identical to the `array_min(transform(toks, w -> md5(concat(w,
    * 's$k'))))` HOF fold it replaced (round-8; MinhashMinSpec gates the
    * equivalence).
    */
  def signature(toksCol: String, numPerms: Int): Seq[Column] =
    (1 to numPerms).map { k =>
      graft.functions.MinhashMin.minhashMin(col(toksCol), s"s$k").as(s"mh$k")
    }

  /** Band-hash array: band j = md5 of the '|'-joined rows of that band. */
  def bandArray(bands: Int, rows: Int): Column =
    array((0 until bands).map { j =>
      md5(concat_ws("|", (j * rows + 1 to (j + 1) * rows).map(k => col(s"mh$k")): _*))
    }: _*)

  /** Candidate near-dup pairs (id_a < id_b) of `docs(idCol, toksCol)` under
    * (bands × rows) MinHash banding. The band self-join carries ONLY
    * (id, band_idx, band_hash) — token payloads never cross the shuffle;
    * callers re-join toks by id for verification. `maxBucket` is the
    * hot-bucket guard (see [[Banding]]): default off.
    */
  def candidatePairs(
      docs: DataFrame,
      idCol: String,
      toksCol: String,
      bands: Int,
      rows: Int,
      maxBucket: Option[Int] = None,
      reliable: Boolean = false
  ): DataFrame = {
    // Docs with NO tokens (e.g. <3-word shingle sets) have a NULL signature
    // minimum; concat_ws silently DROPS null components, so every such doc
    // would share band_hash md5('') and all short docs would become mutual
    // candidates — an O(n_short²) pair blowup, and a divergence from the
    // null-equality-join oracle which produces no pairs (round-2 advice).
    // The guard is a filter on the GENERATED band_hash (see emptyBandHash),
    // NOT a `size(toksCol) > 0` pre-filter: a predicate over the lazy toks
    // column gets pushdown-substituted with the whole shingle-building
    // expression tree and re-evaluates it per row (round 3 shipped that
    // form — measured 5× slower on dd_minhash_lsh in the round-4 same-host
    // A/B); a predicate on posexplode's output can never be pushed below
    // the Generate node, so the tree is evaluated exactly once.
    // Persist the exploded signature: a self-join otherwise pushes
    // IsNotNull(band_hash) into both scan sides and re-evaluates the whole
    // md5-over-shingles tree interpreted, once per side (measured 10× in
    // round 1). The cache is released as soon as the (small) pair set is
    // materialized via localCheckpoint.
    val sig = docs
      .select(col(idCol) +: signature(toksCol, bands * rows): _*)
      .select(col(idCol), posexplode(bandArray(bands, rows)).as(Seq("band_idx", "band_hash")))
      .filter(col("band_hash") =!= lit(emptyBandHash))
      .persist()
    // reliable=true swaps the pair-set materialization for a reliable
    // checkpoint (see Materialize) — lineage is truncated either way, so
    // without it an executor loss strands every downstream consumer of
    // the pair set in a long corpus job.
    val pairs = Materialize.stable(
      Banding.candidatePairs(sig, idCol, "band_hash", maxBucket), reliable)
    sig.unpersist()
    pairs
  }
}
