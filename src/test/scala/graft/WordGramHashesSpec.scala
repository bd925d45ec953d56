package graft

import org.apache.spark.sql.functions._
import graft.functions.{LineUnitHashes, WordGramHashes}

/** The codegen'd gram/unit hashers must be BIT-IDENTICAL to the HOF
  * folds they replaced — oracle-pinned: every decontamination join,
  * substring span, and line strip keys on these exact hex strings.
  */
class WordGramHashesSpec extends SparkSpecBase {

  // word soup with empty tokens, unicode, repeats (so distinct bites)
  private def corpus = spark.range(0, 2000, 1, 8).select(
    expr("""concat_ws(' ',
      transform(sequence(0, CAST(pmod(hash(id), 25) + 7 AS INT)),
        k -> CASE pmod(hash(id, k), 6)
          WHEN 0 THEN 'the' WHEN 1 THEN ''
          WHEN 2 THEN concat('w', pmod(hash(id, k), 4))
          WHEN 3 THEN 'héllo✓'
          ELSE concat('t', pmod(hash(id, k), 3)) END))""").as("text"))

  test("distinct 8-gram hashes: bit-identical to the HOF form") {
    val ws = corpus.select(split(lower(col("text")), " ").as("__ws"))
      .filter(expr("size(__ws) >= 8"))
    val cmp = ws.select(
      WordGramHashes.wordGramHashes(col("__ws"), 8, distinct = true).as("fast"),
      expr("array_distinct(transform(sequence(1, size(__ws) - 7), " +
        "i -> md5(concat_ws(' ', slice(__ws, i, 8)))))").as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
  }

  test("positioned (non-distinct) grams: bit-identical including order") {
    val ws = corpus.select(split(lower(col("text")), " ").as("__ws"))
      .filter(expr("size(__ws) >= 8"))
    val cmp = ws.select(
      WordGramHashes.wordGramHashes(col("__ws"), 8, distinct = false).as("fast"),
      expr("transform(sequence(1, size(__ws) - 7), " +
        "i -> md5(concat_ws(' ', slice(__ws, i, 8))))").as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
  }

  test("null array -> null; size == k -> one gram") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        (array('a', 'b', 'c')),
        (CAST(NULL AS ARRAY<STRING>)),
        (array('a', 'b')),
        (CAST(array() AS ARRAY<STRING>)) AS t(ws)""")
    // the HOF reference is only defined for size(ws) >= k
    val out = df.select(
      WordGramHashes.wordGramHashes(col("ws"), 3, distinct = true).as("fast"),
      expr("CASE WHEN size(ws) >= 3 THEN " +
        "array_distinct(transform(sequence(1, size(ws) - 2), " +
        "i -> md5(concat_ws(' ', slice(ws, i, 3))))) END").as("ref"),
      WordGramHashes.wordGramHashes(col("ws"), 3, distinct = false).as("pos"))
      .collect()
    out(0).getSeq[String](0) shouldBe out(0).getSeq[String](1)
    out(0).getSeq[String](0).length shouldBe 1
    out(1).isNullAt(0) shouldBe true
    out(1).isNullAt(1) shouldBe true
    out(1).isNullAt(2) shouldBe true
    // size(ws) < k, an empty array included: an empty array, both modes
    for (r <- out.drop(2)) {
      r.getSeq[String](0) shouldBe empty
      r.getSeq[String](2) shouldBe empty
    }
  }

  test("line-unit hashes: bit-identical to the nested HOF form") {
    // multi-line docs: embedded newlines, empty lines, 1..20-word lines
    val docs = spark.range(0, 1500, 1, 8).select(
      expr("""concat_ws(chr(10),
        transform(sequence(0, CAST(pmod(hash(id), 4) AS INT)),
          l -> concat_ws(' ', transform(
            sequence(0, CAST(pmod(hash(id, l), 20) AS INT)),
            k -> CASE pmod(hash(id, l, k), 4)
              WHEN 0 THEN 'The' WHEN 1 THEN ''
              WHEN 2 THEN 'Wörld✓'
              ELSE concat('u', pmod(hash(id, l, k), 5)) END))))""").as("text"))
      .union(spark.sql("SELECT '' AS text"))
      .union(spark.sql("SELECT concat(chr(10), chr(10)) AS text"))
    val cmp = docs.select(
      LineUnitHashes.lineUnitHashes(
        split(lower(col("text")), "\n"), graft.ops.LineDedup.UnitWords).as("fast"),
      expr(ParityOracles.unitArraySql("text")).as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val ws = ArrayData.toArrayData(Array(
      UTF8String.fromString("a"), UTF8String.fromString("b"),
      UTF8String.fromString("a"), UTF8String.fromString("b")))
    val tpe = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType)
    val g = WordGramHashes(Literal.create(ws, tpe), 3, distinct = true)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    g.eval(null).asInstanceOf[ArrayData].toArray[UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq shouldBe
      Seq(md5hex("a b a"), md5hex("b a b"))
    val lu = LineUnitHashes(Literal.create(
      ArrayData.toArrayData(Array(UTF8String.fromString("x y"))), tpe), 8)
    lu.eval(null).asInstanceOf[ArrayData].toArray[UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq shouldBe
      Seq(md5hex("x y"))
  }

  test("word shingles: bit-identical to the CASE/distinct/transform form") {
    val ws = corpus.select(split(lower(col("text")), " ").as("__ws"))
      .union(spark.sql("SELECT array('a', 'b') AS __ws"))
      .union(spark.sql("SELECT array() AS __ws"))
    val cmp = ws.select(
      coalesce(graft.functions.WordShingles.wordShingles(col("__ws"), 3),
        typedLit(Seq.empty[String])).as("fast"),
      expr("""CASE WHEN size(__ws) >= 3 THEN
          array_distinct(transform(sequence(1, size(__ws) - 2),
            i -> concat_ws(' ', element_at(__ws, i), element_at(__ws, i + 1),
                                element_at(__ws, i + 2))))
          ELSE array() END""").as("ref"))
    cmp.filter(col("fast") =!= col("ref")).count() shouldBe 0
    // short and empty inputs take the ELSE branch: empty array
    cmp.count() should be >= 2L
  }
}
