package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.app.{CorpusMain, Flags, Main}

/** The strict flag parser both entry points share. Every rejection below
  * happens before a main starts its Spark session, so the spec needs none.
  */
class FlagsSpec extends AnyFunSuite with Matchers {

  private def rejected(run: => Unit): String =
    intercept[IllegalArgumentException](run).getMessage

  test("known flags parse; absent ones fall back to the caller's default") {
    val f = Flags.parse(Array("--out", "/tmp/o", "--window", "hour", "--salt", "8"), Main.KnownFlags)
    f.getOrElse("--window", "minute") shouldBe "hour"
    f.int("--salt") shouldBe Some(8)
    f.long("--rows-per-minute").getOrElse(1000L) shouldBe 1000L
    f.get("--master") shouldBe None
  }

  test("a misspelled flag is rejected, in both mains") {
    rejected(Main.main(Array("--out", "/tmp/o", "--windw", "hour"))) should
      include("unknown flag(s) --windw")
    rejected(CorpusMain.main(Array("--input", "d.parquet", "--qualty-min", "0.5"))) should
      include("unknown flag(s) --qualty-min")
  }

  test("a trailing flag with no value is rejected") {
    rejected(Main.main(Array("--out", "/tmp/o", "--salt"))) should
      include("dangling argument '--salt'")
  }

  test("a flag followed by another flag has no value") {
    rejected(Main.main(Array("--run-id", "--out", "--salt", "4"))) should
      include("--run-id: missing value")
  }

  test("a malformed number names its flag") {
    rejected(Main.main(Array("--out", "/tmp/o", "--salt", "many"))) shouldBe
      "--salt: expected an integer, got 'many'"
    rejected(Main.main(Array("--out", "/tmp/o", "--rows-per-minute", "1e3"))) shouldBe
      "--rows-per-minute: expected an integer, got '1e3'"
    rejected(CorpusMain.main(Array("--input", "d", "--out", "/tmp/o", "--quality-min", "high"))) shouldBe
      "--quality-min: expected a number, got 'high'"
    rejected(CorpusMain.main(Array("--input", "d", "--out", "/tmp/o", "--budgets", "en"))) should
      include("--budgets")
  }
}
