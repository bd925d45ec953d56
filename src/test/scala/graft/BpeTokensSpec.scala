package graft

import graft.functions.BpeTokens

/** The BPE-style token counter (round-7: tokenizer-true budgets).
  * Three corners are welded together: the per-word merge-loop fast path
  * (the production Catalyst expression), the serialized replace-fold
  * (the exact computation the DuckDB oracle runs), and hand-computed
  * examples. tx_tokens_bpe's oracle MATCH then closes Scala-vs-DuckDB.
  */
class BpeTokensSpec extends SparkSpecBase {

  test("merge table is well-formed (validated on first rank lookup)") {
    // building the rank map runs the well-formedness assertions
    BpeTokens.wordTokens("the") shouldBe 1
  }

  test("hand-computed examples") {
    BpeTokens.countTokens("") shouldBe 0
    BpeTokens.countTokens("   ") shouldBe 0
    BpeTokens.countTokens("the") shouldBe 1 // t,h -> th; th,e -> the
    BpeTokens.countTokens("The THE the") shouldBe 3 // case-folded
    // "cat": (c,a)->ca rank 49 beats (a,t) rank 8? No: rank 8 < 49, so
    // c,[at] -> no (c,at) merge -> 2 tokens.
    BpeTokens.countTokens("cat") shouldBe 2
    // separator chars are stripped before tokenizing
    BpeTokens.countTokens("t~he") shouldBe 1
    // spaces never merge across words
    BpeTokens.countTokens("the the") shouldBe 2
    // digits/punctuation take part in no merge: one token per char
    BpeTokens.countTokens("a1b2") shouldBe 4
  }

  test("subword compression is real on English text (vs whitespace)") {
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "they went from one place to another with all of them"
    val ws = text.split("\\s+").length
    val bpe = BpeTokens.countTokens(text)
    // more tokens than words (subword), but far fewer than chars
    bpe should be > ws
    bpe should be < text.replace(" ", "").length
  }

  test("fast path == serialized replace-fold (the oracle's computation)") {
    // biased alphabet so merges actually fire; includes separator, case,
    // digits, punctuation, repeated chars and multi-space runs
    val rnd = new java.util.Random(42) // deterministic
    val hot = "ethanoirst"
    def genChar(): Char = rnd.nextInt(21) match {
      case i if i < 12 => hot.charAt(rnd.nextInt(hot.length))
      case i if i < 16 => ('a' + rnd.nextInt(26)).toChar
      case i if i < 18 => ('A' + rnd.nextInt(26)).toChar
      case i if i < 20 => ' '
      case _ => "0189.,!~\t\n".charAt(rnd.nextInt(10))
    }
    (1 to 500).foreach { _ =>
      val text = Seq.fill(rnd.nextInt(160))(genChar()).mkString
      withClue(s"text=<$text>") {
        BpeTokens.countTokens(text) shouldBe ParityOracles.countTokensViaReplace(text)
      }
    }
    // adversarial identical-token runs (where a shared-separator fold
    // form would diverge from the token-level sweep)
    for (n <- 0 to 12; c <- Seq("a", "t", "x")) {
      val s = c * n
      BpeTokens.countTokens(s) shouldBe ParityOracles.countTokensViaReplace(s)
    }
    BpeTokens.countTokens("hahahahahaha") shouldBe
      ParityOracles.countTokensViaReplace("hahahahahaha")
  }

  test("native expression matches the Scala fast path and stays codegen'd") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "", "Thee  and THEM", "a~b c1d",
      "aaaaaaa hahaha", "with which they have gone out").toDF("text")
    val got = df.select(BpeTokens.bpeTokenCount(org.apache.spark.sql.functions.col("text")))
      .as[Int].collect().toSeq
    val want = Seq("the quick brown fox", "", "Thee  and THEM", "a~b c1d",
      "aaaaaaa hahaha", "with which they have gone out")
      .map(BpeTokens.countTokens)
    got shouldBe want
    // whole-stage codegen keeps the expression (a local relation would be
    // constant-folded away, so gate on a real parquet scan)
    val planStr = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(BpeTokens.bpeTokenCount(org.apache.spark.sql.functions.col("text")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the whole-stage-codegen marker: the projection
    // compiled, no interpreted fallback
    planStr should include regex """\*\(\d+\) Project \[bpetokencount"""
  }
}
