package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-doc line-unit md5 array — LineDedup's
  *
  *   flatten(transform(lines, l ->
  *     transform(sequence(1, greatest(1, ceil(size(split(l, ' ')) / U))),
  *       u -> md5(concat_ws(' ', slice(split(l, ' '), (u-1)*U + 1, U))))))
  *
  * — as a native codegen'd Catalyst expression (round-8; the
  * DotExact/LexSum/MinhashMin/WordGramHashes precedent applied to the
  * line-dedup unit pass). The HOF form is DOUBLY CodegenFallback (a
  * lambda inside a lambda) and re-evaluates `split(l, ' ')` once per
  * unit of each line; it runs once per session in the docLineUnits memo
  * build and per batch in the incremental/streaming line stores.
  *
  * Input: the LINES array — `split(lower(text), chr(10))` stays a
  * builtin codegen'd expression, so lowercasing and the newline split
  * keep Spark's exact semantics. Per line, words = the line split on
  * single spaces KEEPING empty tokens (Spark's split(l, ' ') regex with
  * limit -1; a space byte never occurs inside a multi-byte UTF-8
  * sequence, so the byte scan is exact); unit u covers words
  * (u-1)·U+1 … u·U (1-based, last unit short), joined with single
  * spaces and md5'd; every line yields max(1, ceil(nw/U)) units (an
  * empty line is one md5("") unit — split of "" is [""]). Lines array
  * NULL → NULL; null LINE elements cannot come out of split and are
  * treated as empty lines. WordGramHashesSpec asserts bit-equality
  * against the HOF form including codegen/interpreted parity; the full
  * oracle pass re-verified.
  */
case class LineUnitHashes(child: Expression, unitWords: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"line_unit_hashes requires an array<string> input, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(in: Any): Any =
    LineUnitHashes.unitHex(in.asInstanceOf[ArrayData], unitWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.LineUnitHashes.unitHex($a, $unitWords);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LineUnitHashes =
    copy(child = newChild)
}

object LineUnitHashes {

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Space = Array[Byte](' ')

  /** Split `line` on single space bytes keeping empty tokens (the
    * split(l, ' ') regex semantics with limit -1) — returns word
    * boundaries as (start, end) offsets into the byte array.
    */
  private def unitHexOfLine(
      bytes: Array[Byte],
      unitWords: Int,
      md: java.security.MessageDigest,
      out: java.util.ArrayList[UTF8String]): Unit = {
    // word k = bytes between the (k-1)th and kth space (0-based)
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = bytes.length + 1
    val nUnits = math.max(1, (nWords + unitWords - 1) / unitWords)
    var u = 0
    while (u < nUnits) {
      md.reset()
      val from = u * unitWords
      val to = math.min(from + unitWords, nWords)
      var k = from
      while (k < to) {
        if (k > from) md.update(Space)
        md.update(bytes, starts(k), (starts(k + 1) - 1) - starts(k))
        k += 1
      }
      out.add(MinhashMin.hex(md.digest()))
      u += 1
    }
  }

  /** The flattened unit-hash array over the lines — called from
    * generated code.
    */
  def unitHex(lines: ArrayData, unitWords: Int): ArrayData = {
    val n = lines.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    val md = mdLocal.get()
    val empty = Array.emptyByteArray
    var i = 0
    while (i < n) {
      val b = if (lines.isNullAt(i)) empty else lines.getUTF8String(i).getBytes
      unitHexOfLine(b, unitWords, md, out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column API: line_unit_hashes(lines, unitWords). */
  def lineUnitHashes(lines: Column, unitWords: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      LineUnitHashes(
        org.apache.spark.sql.GraftBridge.expression(lines), unitWords))
}
