package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The word-k-gram md5 array — `transform(sequence(1, size(ws) - k + 1),
  * i -> md5(concat_ws(' ', slice(ws, i, k))))`, optionally wrapped in
  * `array_distinct` — as a native codegen'd Catalyst expression
  * (round-8; the DotExact/LexSum/MinhashMin precedent applied to the
  * decontamination/substring gram passes). The HOF form is
  * CodegenFallback: an interpreted lambda that, per position, slices a
  * fresh sub-array, concatenates it into a fresh string, and md5s it —
  * once per token position of the corpus in the session's docGrams /
  * docPosGrams memo builds and the incremental stores' batch sides.
  *
  * Semantics replicated EXACTLY on the guarded domain (every caller
  * filters `size(ws) >= k` first — for shorter input this expression
  * returns an EMPTY array, where the raw SQL's `sequence(1, n-k+1)`
  * would produce a descending index sequence; no caller reaches that):
  *   - ws NULL → NULL;
  *   - gram i = md5 hex of the non-null words ws(i..i+k-1) joined with
  *     single spaces (concat_ws SKIPS null elements — unreachable via
  *     split(), replicated anyway);
  *   - distinct = true keeps the FIRST occurrence order
  *     (array_distinct's contract).
  * WordGramHashesSpec asserts bit-equality against the HOF forms,
  * including codegen/interpreted parity; the full oracle pass
  * re-verified.
  */
case class WordGramHashes(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_gram_hashes requires an array<string> input, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(in: Any): Any =
    WordGramHashes.gramHex(in.asInstanceOf[ArrayData], k, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.WordGramHashes.gramHex($a, $k, $distinct);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Space = Array[Byte](' ')

  /** md5 hex of each k-window of `ws` (non-null words joined with single
    * spaces), optionally first-occurrence-deduped — called from
    * generated code. Empty result for fewer than k words (callers guard
    * `size >= k`).
    */
  def gramHex(ws: ArrayData, k: Int, distinct: Boolean): ArrayData = {
    val n = ws.numElements()
    val out = new java.util.ArrayList[UTF8String](math.max(0, n - k + 1))
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    val md = mdLocal.get()
    var i = 0
    while (i <= n - k) {
      md.reset()
      var j = i
      var first = true
      while (j < i + k) {
        if (!ws.isNullAt(j)) {
          if (!first) md.update(Space)
          md.update(ws.getUTF8String(j).getBytes)
          first = false
        }
        j += 1
      }
      val h = MinhashMin.hex(md.digest())
      if (seen == null || seen.add(h)) out.add(h)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column API: word_gram_hashes(ws, k, distinct). Contract: NULL `ws`
    * → NULL; fewer than k words (an empty array included) → an EMPTY
    * array, where the raw HOF form's `sequence(1, size(ws) - k + 1)`
    * would descend; otherwise one md5 hex per k-window (first
    * occurrences only when `distinct`). WordGramHashesSpec pins the
    * short-input rows.
    */
  def wordGramHashes(ws: Column, k: Int, distinct: Boolean): Column =
    org.apache.spark.sql.GraftBridge.column(
      WordGramHashes(
        org.apache.spark.sql.GraftBridge.expression(ws), k, distinct))
}
