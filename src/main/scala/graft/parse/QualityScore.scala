package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Document quality scoring as a fixed-weight LINEAR classifier over
  * hashed vocabulary features — the public-knowledge fastText shape
  * (hashing trick: word → md5 bucket → learned weight), with the weights
  * inlined as literals so the scorer is pure Catalyst, codegen'd, and
  * EXACTLY mirrorable in the DuckDB oracles (round-5 verdict item #6,
  * replacing the 2-stopword length heuristic).
  *
  * Features (all per-doc scalar expressions, no aggregation):
  *  - f_len  = min(1, n_words / 50)           — length saturation
  *  - f_div  = distinct_words / n_words       — vocabulary diversity
  *  - lex    = mean hashed-bucket weight      — the bag-of-words signal:
  *    function words (natural prose) carry +1, boilerplate/spam markers
  *    carry −2, everything else 0 (modulo hash collisions, the standard
  *    hashing-trick trade-off)
  *  - a hinge −2·max(0, lex − 0.4) penalizes stopword EXCESS: natural
  *    prose runs ~20–45% function words; an all-stopword doc is filler
  *
  * score = round(clamp01(−0.35 + 0.75·f_len + 0.30·f_div + 0.5·lex
  *                       − 2.0·max(0, lex − 0.4)), 4)
  *
  * Cross-engine determinism by construction: bucket weights are INTEGER
  * valued, so the per-doc weight sum is exact in IEEE double regardless
  * of fold order (the one place the engines could sum differently);
  * every other operation is a fixed-order scalar expression both engines
  * evaluate identically, and the final round(…, 4) guards the threshold.
  */
object QualityScore {

  val Buckets = 256

  /** Positive-signal vocabulary: classic English function words — the
    * fastText-style prose indicator (public-knowledge list).
    */
  val PosWords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "was", "on", "are", "as", "with", "at", "by", "this", "from", "or",
    "an", "be", "not", "you", "we")

  /** Negative-signal vocabulary: boilerplate/spam markers. */
  val NegWords: Seq[String] = Seq(
    "click", "subscribe", "free", "buy", "winner", "casino", "lorem",
    "ipsum", "cookie", "newsletter", "login", "password", "copyright",
    "promo", "unsubscribe", "advertisement")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** bucket(w) = first 8 md5 hex chars as int, mod Buckets — the exact
    * arithmetic the Spark and DuckDB runtime expressions perform.
    */
  def bucketOf(w: String): Int =
    (java.lang.Long.parseLong(md5Hex(w).substring(0, 8), 16) % Buckets).toInt

  /** The inlined weight table (collisions are additive, as in any
    * hashing-trick model). Integer-valued by design — see determinism
    * note above.
    */
  val weights: IndexedSeq[Double] = {
    val w = Array.fill(Buckets)(0.0)
    PosWords.foreach(p => w(bucketOf(p)) += 1.0)
    NegWords.foreach(n => w(bucketOf(n)) += -2.0)
    w.toIndexedSeq
  }

  /** 4-decimal rounding as floor(x·10⁴ + 0.5)/10⁴ — NOT round(): the
    * feature granularities (0.3/n, k/2n, …) land exact decimal values on
    * the .xxxx5 half boundary routinely, where Spark's BigDecimal HALF_UP
    * and DuckDB's round() disagree on the binary double. floor of the
    * identical double expression is bit-identical in both engines (the
    * emb_quantize precedent).
    */
  def round4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000.0
  def round4SqlDuck(e: String): String = s"(floor(($e) * 10000 + 0.5) / 10000.0)"

  /** Mean hashed-bucket weight of `textCol`'s words (the `lex` feature).
    * The weight sum is the codegen'd graft.functions.LexSum expression —
    * bit-identical to the aggregate(transform(...)) HOF fold it replaced
    * (round-8; LexSumSpec gates the equivalence against that form).
    */
  def lexCol(textCol: String = "text"): Column = {
    val ws = split(lower(col(textCol)), " ")
    graft.functions.LexSum.lexSum(ws) / size(ws).cast("double")
  }

  /** The quality score (already rounded to 4 decimals — safe to threshold). */
  def scoreCol(textCol: String = "text"): Column = {
    val ws = split(lower(col(textCol)), " ")
    val n = size(ws).cast("double")
    val fLen = least(lit(1.0), n / 50)
    val fDiv = size(array_distinct(ws)).cast("double") / n
    val lex = lexCol(textCol)
    round4(
      greatest(lit(0.0), least(lit(1.0),
        lit(-0.35) + lit(0.75) * fLen + lit(0.3) * fDiv + lit(0.5) * lex
          - lit(2.0) * greatest(lit(0.0), lex - lit(0.4)))))
  }

  private def weightsSqlDuck: String =
    weights.map(w => if (w == w.floor) f"$w%.1f" else w.toString)
      .mkString("[", ", ", "]::DOUBLE[]")

  /** DuckDB mirror of [[lexCol]] over a words-list SQL expression. */
  def lexSqlDuck(wsExpr: String): String =
    s"(list_sum(list_transform($wsExpr, w -> ($weightsSqlDuck)[" +
      s"CAST((('0x' || substring(md5(w), 1, 8))::BIGINT % $Buckets) AS INT) + 1])) " +
      s"/ CAST(len($wsExpr) AS DOUBLE))"

  /** DuckDB mirror of [[scoreCol]] over a raw text SQL expression. */
  def sqlDuck(textExpr: String): String = {
    val ws = s"string_split(lower($textExpr), ' ')"
    val lex = lexSqlDuck(ws)
    round4SqlDuck(s"greatest(0.0, least(1.0, -0.35 " +
      s"+ 0.75 * least(1.0, CAST(len($ws) AS DOUBLE) / 50) " +
      s"+ 0.3 * (CAST(len(list_distinct($ws)) AS DOUBLE) / len($ws)) " +
      s"+ 0.5 * $lex " +
      s"- 2.0 * greatest(0.0, $lex - 0.4)))")
  }
}
