package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenizer-true token counting (round-6 verdict item #3): a fixed,
  * inlined BPE-style merge table applied deterministically, so the
  * budget/mixing/packing operators can count SUBWORD tokens instead of
  * whitespace words (on web text the two differ ~1.3-1.5x and
  * non-uniformly by language — whitespace counts skew the temperature
  * mixer's per-language shares). Whitespace remains the default counter
  * everywhere; this is the opt-in alternative.
  *
  * The tokenizer is fully specified so BOTH engines can run it exactly:
  *
  *   1. normalize: strip '~' (the internal separator), ASCII-lowercase
  *      (A-Z only — FULL Unicode lowering is engine-specific: Java maps
  *      'İ' to TWO chars where utf8proc maps one, which would desync
  *      the engines; merges are a-z anyway, so nothing is lost),
  *      collapse whitespace runs to one space, trim;
  *   2. seed: each Unicode CODEPOINT is one token (not UTF-16 units —
  *      an emoji is one token on both engines);
  *   3. for each merge (a, b) in rank order, replace adjacent token
  *      pairs (a, b) with the single token `ab` — left-to-right,
  *      non-overlapping, repeated until no pair of that rank remains
  *      (the canonical byte-pair-encoding application order; the merge
  *      table is WELL-FORMED: each operand is a single char or the
  *      output of a strictly earlier merge, so later merges can never
  *      create operands of earlier ones and rank order is exhaustive);
  *   4. token count = number of tokens, not counting the single-space
  *      tokens between words (spaces take part in no merge, so merges
  *      never cross word boundaries).
  *
  * The DuckDB oracle mirror ([[tokenCountCtesDuck]]) runs the IDENTICAL
  * fold on a serialized string form where every token is wrapped in its
  * OWN separators (`~tok~~tok~...`), each merge = one
  * `replace(s, '~a~~b~', '~ab~')` pass. The per-token wrapping is what
  * makes the string fold EXACTLY the token-level left-to-right sweep:
  * a pattern occurrence exists iff tokens a,b are adjacent (tokens
  * contain no '~'), disjoint pair occurrences share no characters (so
  * non-overlapping `replace` takes precisely the pairs the sweep takes
  * — a shared-separator form like `~a~b~` would skip pairs adjacent to
  * a replaced one and diverge on runs of identical tokens), and a
  * replacement (`~ab~`) can never complete a new occurrence of its own
  * pattern. BpeTokensSpec property-checks the fast path against this
  * fold form on random strings.
  *
  * The Spark-side fast path is a native Catalyst expression
  * ([[BpeTokenCount]], codegen'd like [[Fnv1a64]]) whose inner loop is
  * the standard per-word merge-rank algorithm with a bounded word cache
  * — one pass over the text, no 2x|merges| intermediate strings.
  *
  * The merge table itself is a hand-fixed public-knowledge artifact
  * (common English digram/suffix merges, the same stance as the LangId
  * function-word profiles) — inlined literals, no external vocabulary
  * file, identical on every engine.
  */
object BpeTokens {

  /** Internal separator for the serialized token-string form. Stripped
    * from input text during normalization (step 1), so it can never
    * collide with content.
    */
  val Sep = "~"

  /** The fixed merge table, rank order = application order. */
  val Merges: Vector[(String, String)] = Vector(
    // rank 1-64: character digrams (by rough English frequency)
    ("t", "h"), ("h", "e"), ("i", "n"), ("e", "r"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("a", "t"), ("e", "n"), ("o", "r"), ("t", "i"), ("e", "s"),
    ("s", "t"), ("a", "r"), ("t", "e"), ("e", "d"), ("n", "d"), ("t", "o"),
    ("n", "t"), ("h", "a"), ("o", "u"), ("i", "t"), ("i", "s"), ("h", "i"),
    ("a", "s"), ("l", "e"), ("s", "e"), ("m", "e"), ("d", "e"), ("e", "l"),
    ("r", "o"), ("r", "i"), ("r", "a"), ("l", "i"), ("l", "a"), ("n", "e"),
    ("m", "a"), ("c", "e"), ("c", "o"), ("t", "a"), ("u", "r"), ("u", "s"),
    ("a", "l"), ("l", "o"), ("o", "l"), ("i", "l"), ("i", "r"), ("a", "c"),
    ("c", "a"), ("u", "n"), ("o", "m"), ("o", "s"), ("n", "o"), ("v", "e"),
    ("v", "i"), ("p", "e"), ("p", "o"), ("c", "h"), ("s", "h"), ("w", "h"),
    ("q", "u"), ("i", "o"), ("e", "t"), ("u", "t"),
    // rank 65+: subword/word merges over earlier outputs
    ("th", "e"), ("in", "g"), ("a", "nd"), ("i", "on"), ("t", "ion"),
    ("en", "t"), ("er", "e"), ("f", "or"), ("i", "th"), ("w", "ith"),
    ("o", "f"), ("w", "as"), ("o", "t"), ("no", "t"), ("th", "at"),
    ("th", "is"), ("a", "re"), ("b", "e"), ("b", "y"), ("f", "r"),
    ("fr", "om"), ("al", "l"), ("c", "an"), ("w", "e"), ("y", "ou"),
    ("the", "y"), ("on", "e"), ("ha", "ve"), ("b", "ut"), ("i", "ch"),
    ("wh", "ich"), ("s", "ion"), ("a", "tion"), ("er", "s"), ("b", "le"),
    ("a", "ble"), ("m", "ent"), ("c", "om"), ("com", "p"), ("p", "re"),
    ("p", "ro"), ("d", "is"), ("e", "x"), ("s", "u"), ("su", "b"),
    ("k", "e"), ("li", "ke"), ("ti", "me"), ("ou", "r"), ("ou", "t"),
    ("an", "y"), ("s", "o"), ("i", "f"), ("ha", "s"), ("d", "o"),
    ("g", "o"))

  /** rank lookup (pair -> index); building it validates the table. */
  private lazy val ranks: Map[(String, String), Int] = {
    val produced = scala.collection.mutable.Set[String]()
    Merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a.length == 1 || produced(a),
        s"merge $i: left operand '$a' not a char and not yet produced")
      require(b.length == 1 || produced(b),
        s"merge $i: right operand '$b' not a char and not yet produced")
      require((a + b).forall(c => c >= 'a' && c <= 'z'),
        s"merge $i: operands must be lowercase ASCII letters")
      require(!produced(a + b), s"merge $i: duplicate output '${a + b}'")
      produced += (a + b)
    }
    Merges.zipWithIndex.toMap
  }

  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  /** ASCII-only lowercasing (step 1) — `Character.toLowerCase`/`lower()`
    * disagree across engines on special-cased codepoints, `translate`
    * over A-Z cannot.
    */
  private def asciiLower(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    sb.toString
  }

  /** Normalization (step 1), shared by both the fast path and the fold
    * reference so they cannot drift.
    */
  def normalize(text: String): String =
    WsRun.matcher(asciiLower(text.replace(Sep, ""))).replaceAll(" ").trim

  // Words repeat heavily in natural text; a bounded cache makes the
  // per-word merge loop amortized O(1) for the frequent head. Cleared
  // (not LRU-evicted) at the cap — simple, deterministic results either
  // way since the cache only memoizes a pure function.
  private val wordCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val WordCacheCap = 1 << 16

  /** BPE token count of one word (no whitespace inside). */
  def wordTokens(word: String): Int = {
    val cached = wordCache.get(word)
    if (cached != null) return cached.intValue()
    val toks = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) { toks += word.substring(i, i + 1); i += 1 }
    var done = false
    while (!done && toks.length > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var j = 0
      while (j < toks.length - 1) {
        val r = ranks.getOrElse((toks(j), toks(j + 1)), Int.MaxValue)
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge that pair's occurrences left-to-right, non-overlapping
        val (a, b) = Merges(best)
        var k = 0
        while (k < toks.length - 1) {
          if (toks(k) == a && toks(k + 1) == b) {
            toks(k) = a + b
            toks.remove(k + 1)
          }
          k += 1
        }
      }
    }
    if (wordCache.size() >= WordCacheCap) wordCache.clear()
    wordCache.put(word, toks.length)
    toks.length
  }

  /** BPE token count of a text (step 4: spaces excluded). */
  def countTokens(text: String): Int = {
    val norm = normalize(text)
    if (norm.isEmpty) return 0
    var total = 0
    var start = 0
    var i = 0
    while (i <= norm.length) {
      if (i == norm.length || norm.charAt(i) == ' ') {
        if (i > start) total += wordTokens(norm.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    total
  }

  /** Column API over the native expression. */
  def bpeTokenCount(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      BpeTokenCount(org.apache.spark.sql.GraftBridge.expression(c)))

  /** The identical computation as a DuckDB CTE chain — the oracle
    * mirror, generated from the SAME merge table literals the Scala side
    * folds (the engine-shared-parameter pattern of hashOrd/LangId).
    *
    * STAGED, not one nested scalar: DuckDB's binder caps expression
    * depth at 128, and |Merges| nested `replace` calls exceed it — so
    * the fold is split into CTE stages of `perStage` replaces each
    * (depth resets per CTE; results are identical, the fold is just
    * checkpointed). Produces `<outCte>_n, <outCte>_s0..sK, <outCte>`
    * where the final CTE is `(idCol, bpe_tokens)` over `srcTable`.
    */
  def tokenCountCtesDuck(
      outCte: String,
      srcTable: String,
      idCol: String = "doc_id",
      perStage: Int = 12
  ): String = {
    val norm =
      "trim(regexp_replace(lower(replace(text, '~', '')), '\\s+', ' ', 'g'))"
    val seeded = "regexp_replace(norm, '([\\s\\S])', '~\\1~', 'g')"
    val stages = Merges.grouped(perStage).toSeq
    val stageCtes = stages.zipWithIndex.map { case (ms, i) =>
      val src = if (i == 0) s"${outCte}_s" else s"${outCte}_s${i - 1}"
      val folded = ms.foldLeft("s") { case (acc, (a, b)) =>
        s"replace($acc, '~$a~~$b~', '~$a$b~')"
      }
      s"${outCte}_s$i AS (SELECT $idCol, norm, $folded AS s FROM $src)"
    }
    val last = s"${outCte}_s${stages.size - 1}"
    (Seq(
      s"${outCte}_n AS (SELECT $idCol, $norm AS norm FROM $srcTable)",
      s"${outCte}_s AS (SELECT $idCol, norm, $seeded AS s FROM ${outCte}_n)") ++
      stageCtes :+
      (s"$outCte AS (SELECT $idCol, CAST((((length(s) - " +
        "length(replace(s, '~', ''))) // 2) - (length(norm) - " +
        s"length(replace(norm, ' ', '')))) AS INT) AS bpe_tokens FROM $last)"))
      .mkString(", ")
  }
}

/** Native codegen'd expression: BPE-style token count of a string column
  * (see [[BpeTokens]] for the tokenizer spec). A static call into the
  * per-word merge loop, same shape as [[Fnv1a64]] — stays inside
  * whole-stage codegen, no Scala UDF boundary.
  */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_token_count requires string input, got ${child.dataType}")

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any =
    BpeTokens.countTokens(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeTokens.countTokens($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
