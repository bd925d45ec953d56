package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level cross-corpus exact deduplication — the C4/CCNet "strip lines
  * repeated across the corpus" pass (round-5 verdict item #4): boilerplate
  * (nav bars, cookie banners, license headers) repeats VERBATIM across
  * thousands of pages, and whole-doc dedup never catches it because the
  * surrounding page differs. The pass explodes documents into line units,
  * counts each unit's occurrences corpus-wide, strips every occurrence of
  * any unit seen more than `maxOccurrences` times, and re-emits each doc's
  * scrubbed fingerprint.
  *
  * Unit definition: documents split on '\n'; every line is then segmented
  * into consecutive [[UnitWords]]-word units (one unit for a shorter
  * line). The fallback segmentation makes the operator total on corpora
  * without newlines (the synthetic testdata) and bounds a unit's size on
  * real text, the same reason CCNet dedups on normalized PARAGRAPH units
  * rather than raw lines.
  *
  * Scale shape: after the one text pass that hashes units, only
  * (doc_id, line_idx, md5) rows move — the corpus-wide count is one
  * partial-aggregated shuffle of hashes, the strip is a left-anti join
  * against the (tiny) over-threshold hash set, and the per-doc reassembly
  * groups by doc_id (cardinality = corpus size, fully parallel). The
  * scrubbed doc is emitted as a HASH-of-kept-hashes fingerprint, so text
  * never joins or shuffles anywhere.
  */
object LineDedup {

  /** Words per line unit (the value the dd_line_dedup oracle mirrors). */
  val UnitWords = 8

  /** The CASED twin of the [[unitHashes]] array: the unit texts
    * themselves, at the same indices (lowercasing never moves a whitespace boundary,
    * so the two arrays align position-for-position). Used only by
    * [[scrubText]] — the hash-only operators never materialize it.
    */
  private def casedUnitArraySql(textCol: String): String =
    s"""flatten(transform(split($textCol, chr(10)), l ->
       |  transform(sequence(1, greatest(1, CAST(ceil(size(split(l, ' ')) / ${UnitWords}.0) AS INT))),
       |    u -> concat_ws(' ', slice(split(l, ' '), (u - 1) * $UnitWords + 1, $UnitWords)))))"""
      .stripMargin.replace("\n", " ")

  /** (doc_id, line_idx, lh): every line unit of every doc, in document
    * order (line_idx is 0-based). One Generate + projection; unit TEXT
    * never leaves the map task — only its md5. The unit array is the
    * codegen'd graft.functions.LineUnitHashes expression over the
    * builtin newline split — bit-identical to the nested-HOF SQL form it
    * replaced (round-8; WordGramHashesSpec gates the equivalence).
    */
  def unitHashes(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(col("doc_id"),
      posexplode(graft.functions.LineUnitHashes.lineUnitHashes(
        split(lower(col(textCol)), "\n"), UnitWords))
        .as(Seq("line_idx", "lh")))

  /** One row per doc: total unit count, units surviving the corpus-wide
    * strip (occurrences ≤ `maxOccurrences`), and the scrubbed-doc
    * fingerprint — md5 over the kept unit hashes in document order
    * (md5 of the empty string when everything was stripped, so the
    * output stays total).
    */
  def scrub(
      df: DataFrame,
      textCol: String = "text",
      maxOccurrences: Int = 1
  ): DataFrame =
    scrubFromUnits(unitHashes(df, textCol), maxOccurrences)

  /** [[scrub]] against a precomputed unit-hash frame — the form the
    * catalog queries use so a session's single memoized unit pass feeds
    * the whole line family (round-8).
    */
  def scrubFromUnits(
      units: DataFrame,
      maxOccurrences: Int = 1
  ): DataFrame = {
    // the over-threshold hash set is small (boilerplate), so it is the
    // build side of the anti join
    val repeated = units.groupBy("lh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxOccurrences)
      .select("lh")
    scrubUnitsAgainst(units, repeated)
  }

  /** The scrub tail against an externally-derived strip set
    * `stripSet(lh)` — shared by [[scrubFromUnits]] (corpus-wide counts)
    * and the incremental variant (history + batch counts,
    * q_incremental_linededup), so the kept-count/fingerprint
    * aggregation can never drift between the two.
    */
  def scrubUnitsAgainst(units: DataFrame, stripSet: DataFrame): DataFrame = {
    val kept = units.join(stripSet, Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_line_count"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(line_idx, lh))), s -> s.lh)")))
          .as("scrub_hash"))
    units.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("kept_line_count"), lit(0L)).as("kept_line_count"),
        coalesce(col("scrub_hash"), md5(lit(""))).as("scrub_hash"))
  }

  /** [[scrub]]'s TEXT-emitting twin: `textCol` is REPLACED by the
    * surviving units (original case), all other columns pass through —
    * the form a release pipeline chains into downstream stages (the
    * hash-only [[scrub]] is for fingerprint/audit outputs where text
    * must never move). Whitespace is normalized: kept units rejoin with
    * single spaces (newlines do not survive — the corpus tokenization
    * convention is whitespace splitting throughout, so this changes no
    * downstream hash or count), and a fully-stripped doc becomes "".
    *
    * Scale note: unlike [[scrub]], this necessarily moves text ONCE —
    * the per-doc kept-index arrays (ids-only aggregation) hash-join
    * back to the docs by doc_id. That single text shuffle is inherent
    * to any rewrite; everything upstream of it is still hashes.
    */
  def scrubText(
      df: DataFrame,
      textCol: String = "text",
      maxOccurrences: Int = 1
  ): DataFrame = {
    val units = unitHashes(df, textCol)
    val repeated = units.groupBy("lh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxOccurrences)
      .select("lh")
    val keptIdx = units.join(repeated, Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list("line_idx")).as("__keep"))
    df.withColumn("__units", expr(casedUnitArraySql(textCol)))
      .join(keptIdx, Seq("doc_id"), "left")
      .withColumn(textCol,
        when(col("__keep").isNull, lit(""))
          .otherwise(concat_ws(" ",
            expr("transform(__keep, i -> element_at(__units, i + 1))"))))
      .drop("__units", "__keep")
  }
}
