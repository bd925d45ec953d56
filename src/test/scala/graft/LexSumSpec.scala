package graft

import org.apache.spark.sql.functions._
import graft.functions.LexSum
import graft.parse.QualityScore

/** The codegen'd lex-weight sum (graft.functions.LexSum) must be
  * BIT-IDENTICAL to the aggregate(transform(...)) HOF fold it replaced —
  * oracle-pinned arithmetic: the quality score is rounded to 4 decimals
  * and thresholded at 0.4, so a single ULP of difference could flip a
  * gate decision in the DuckDB comparisons.
  */
class LexSumSpec extends SparkSpecBase {
  import spark.implicits._

  test("lexCol is bit-identical to the HOF form on adversarial word lists") {
    // Random word soup including function words, spam markers, unicode,
    // empty strings, and long tokens — every md5 bucket gets traffic.
    val rows = spark.range(0, 2000, 1, 8).select(
      expr("""concat_ws(' ',
        transform(sequence(0, CAST(pmod(hash(id), 40) AS INT)),
          k -> CASE pmod(hash(id, k), 7)
            WHEN 0 THEN 'the' WHEN 1 THEN 'click'
            WHEN 2 THEN concat('w', hash(id, k))
            WHEN 3 THEN '' WHEN 4 THEN 'héllo✓'
            WHEN 5 THEN repeat('x', 50)
            ELSE 'of' END))""").as("text"))
    val cmp = rows.select(
      QualityScore.lexCol("text").as("fast"),
      ParityOracles.lexColHof("text").as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
    cmp.filter(col("fast").isNull =!= col("ref").isNull).count() shouldBe 0
    // the full score too (lex appears twice: signal + hinge)
    val sc = rows.select(QualityScore.scoreCol("text").as("s"))
    sc.filter(col("s").isNull || col("s") < 0.0 || col("s") > 1.0)
      .count() shouldBe 0
  }

  test("bucket arithmetic: fourth digest byte equals the hex/conv/pmod chain") {
    // per-word equality of the two index derivations, over raw words
    val words = spark.range(0, 500, 1, 4)
      .select(concat(lit("word"), col("id")).as("w"))
    val cmp = words.select(
      LexSum.lexSum(array(col("w"))).as("fast"),
      expr(s"""aggregate(transform(array(w), w ->
          element_at(${QualityScore.weights.map(d => s"${d}D").mkString("array(", ", ", ")")},
            CAST(pmod(CAST(conv(substring(md5(w), 1, 8), 16, 10) AS LONG),
              ${QualityScore.Buckets}) + 1 AS INT))),
        CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""").as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
  }

  test("null semantics match the fold: null array, null element, empty array") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        (array('the', 'click')),
        (CAST(NULL AS ARRAY<STRING>)),
        (array('the', CAST(NULL AS STRING))),
        (array()) AS t(ws)""")
    val hof = expr(s"""aggregate(transform(ws, w ->
        element_at(${QualityScore.weights.map(d => s"${d}D").mkString("array(", ", ", ")")},
          CAST(pmod(CAST(conv(substring(md5(w), 1, 8), 16, 10) AS LONG),
            ${QualityScore.Buckets}) + 1 AS INT))),
      CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""")
    val out = df.select(LexSum.lexSum(col("ws")).as("fast"), hof.as("ref"))
      .collect()
    out.foreach { r => r.isNullAt(0) shouldBe r.isNullAt(1) }
    out(0).getDouble(0) shouldBe out(0).getDouble(1)
    out(1).isNullAt(0) shouldBe true
    out(2).isNullAt(0) shouldBe true
    out(3).getDouble(0) shouldBe 0.0
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val a = ArrayData.toArrayData(
      Array(UTF8String.fromString("the"), UTF8String.fromString("click")))
    val e = LexSum(Literal.create(a,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
    val expected =
      QualityScore.weights(QualityScore.bucketOf("the")) +
        QualityScore.weights(QualityScore.bucketOf("click"))
    e.eval(null) shouldBe expected
  }
}
