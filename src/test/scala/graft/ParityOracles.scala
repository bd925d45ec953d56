package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.Rollup
import graft.functions.BpeTokens
import graft.ops.{Decontam, LineDedup}
import graft.parse.QualityScore

/** Plain reference forms the specs compare the engine against. Each one
  * is the simplest statement of what an optimized engine path computes;
  * none of them runs in a query or an entry point.
  */
object ParityOracles {

  /** Unsalted per-(minute window, conv_id, dims...) counts: Catalyst's
    * own partial/final split, the baseline the salted rollup must equal.
    */
  def counts(df: DataFrame, dims: Seq[String]): DataFrame = {
    val keys = Seq("window_start", "conv_id") ++ dims
    df.withColumn("window_start", Rollup.windowStart(col("ts"), "minute"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** The literal serialized-string BPE fold — the exact computation the
    * DuckDB oracle runs (one non-overlapping `replace` pass per merge over
    * the per-token-wrapped `~tok~~tok~` form; see the BpeTokens object doc
    * for why that equals the token-level sweep of `countTokens`).
    */
  def countTokensViaReplace(text: String): Int = {
    import BpeTokens.{Merges, Sep}
    val norm = BpeTokens.normalize(text)
    val sb = new StringBuilder
    norm.foreach(c => sb.append(Sep).append(c).append(Sep))
    var s = sb.toString
    Merges.foreach { case (a, b) =>
      s = s.replace(Sep + a + Sep + Sep + b + Sep, Sep + a + b + Sep)
    }
    // every token is wrapped in exactly two separators
    val tokensAll = (s.length - s.replace(Sep, "").length) / 2
    val spaces = norm.length - norm.replace(" ", "").length
    tokensAll - spaces
  }

  /** The higher-order-function form of `QualityScore.lexCol`. */
  def lexColHof(textCol: String = "text"): Column = {
    val ws = split(lower(col(textCol)), " ")
    val wsum = aggregate(
      transform(ws, w => element_at(typedLit(QualityScore.weights),
        (pmod(conv(substring(md5(w), 1, 8), 16, 10).cast("long"),
          lit(QualityScore.Buckets)) + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    wsum / size(ws).cast("double")
  }

  /** The nested-HOF SQL form of the per-doc line-unit hash array
    * (flatten(lines -> per-line unit md5s), document order) that
    * `LineUnitHashes` computes natively.
    */
  def unitArraySql(textCol: String): String = {
    val k = LineDedup.UnitWords
    s"""flatten(transform(split(lower($textCol), chr(10)), l ->
       |  transform(sequence(1, greatest(1, CAST(ceil(size(split(l, ' ')) / ${k}.0) AS INT))),
       |    u -> md5(concat_ws(' ', slice(split(l, ' '), (u - 1) * $k + 1, $k))))))"""
      .stripMargin.replace("\n", " ")
  }

  /** Ids of `docs` containing any stored eval n-gram: the plain semi-join
    * that `Decontam.contaminatedIdsBloom` must equal.
    */
  def contaminatedIds(
      docs: DataFrame,
      store: DataFrame,
      textCol: String = "text",
      n: Int = Decontam.DefaultN
  ): DataFrame =
    Decontam.gramHashes(docs, textCol, n)
      .join(store.select("gh"), Seq("gh"), "left_semi")
      .select("doc_id").distinct()
}
