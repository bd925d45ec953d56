package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `def` under src/main/scala has a caller under src/main/scala.
  * Code that only specs call is a reference form (it belongs in src/test,
  * see [[ParityOracles]]) or dead; either way the catalog's oracle would
  * check a copy of the code instead of the code.
  *
  * The scan blanks comments (string and char literals are kept, so a `//`
  * inside one is not a comment), then counts each def name's whole-word
  * occurrences in all main sources beyond its own definitions. Skipped:
  * `override` defs (the framework calls them) and `main`, `apply` and
  * `unapply` (entry points and syntax-invoked).
  *
  * Name-level matching is a floor, not a proof: a def passes whenever its
  * name occurs anywhere else, for instance as another object's member or a
  * local val. `Rollup.counts`, a spec-only def until it moved to
  * [[ParityOracles]], passed this scan only because the word `counts`
  * appears elsewhere in src/main.
  */
class MainCallersSpec extends AnyFunSuite with Matchers {
  import MainCallersSpec._

  /** Defs the scan may flag, one reason each. A key is a prefix of
    * `<path under src/main/scala>#<def name>`: a directory, a file or a
    * single def.
    */
  private val Allowlist: Map[String, String] = Map(
    "graft/streaming/" -> ("no entry point starts a stream yet; ROADMAP " +
      "direction 5 decides between a stream mode for app.Main and deleting " +
      "the unused paths"))

  private lazy val flagged: Seq[Def] = uncalled(mainSources())

  private def allowed(d: Def): Boolean =
    Allowlist.keys.exists(k => s"${d.file}#${d.name}".startsWith(k))

  test("every main-source def has a main-source caller") {
    flagged.size should be > 0 // the allowlisted streaming defs
    val offenders = flagged.filterNot(allowed).map(_.toString)
    withClue("call it from a query or entry point, move it to src/test, or delete it: ") {
      offenders shouldBe empty
    }
  }

  test("every allowlist entry still excuses a def") {
    val stale = Allowlist.keys.filterNot(k =>
      flagged.exists(d => s"${d.file}#${d.name}".startsWith(k)))
    stale shouldBe empty
  }

  test("the scan reads through comments but not through strings") {
    val src =
      """object A {
        |  def used(): Int = 1 // def commented() = 2
        |  /* def blocked() = 3 /* nested */ still comment */
        |  val url = "http://x" + used() + 'x'
        |  def lonely(): String = "/* not a comment */"
        |  override def toString: String = "a"
        |}""".stripMargin
    uncalled(Map("A.scala" -> stripComments(src))).map(_.toString) shouldBe
      Seq("A.scala:5 lonely")
  }
}

object MainCallersSpec {

  final case class Def(file: String, line: Int, name: String) {
    override def toString: String = s"$file:$line $name"
  }

  private val Skipped = Set("main", "apply", "unapply")
  private val DefName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Word = """[A-Za-z0-9_]+""".r

  /** src/main/scala, comment-stripped, keyed by path under that root. */
  def mainSources(): Map[String, String] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        stripComments(new String(Files.readAllBytes(p), "UTF-8")))
      .toMap
  }

  /** Defs whose name occurs nowhere in `sources` but at its definitions. */
  def uncalled(sources: Map[String, String]): Seq[Def] = {
    val defs = for {
      (file, src) <- sources.toSeq
      m <- DefName.findAllMatchIn(src)
      lineStart = src.lastIndexOf('\n', m.start) + 1
      if !src.substring(lineStart, m.start).contains("override")
    } yield Def(file, src.substring(0, m.start).count(_ == '\n') + 1, m.group(1))
    val definedAt = sources.values.flatMap(DefName.findAllMatchIn(_).map(_.group(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val words = sources.values.flatMap(Word.findAllIn(_))
      .groupBy(identity).view.mapValues(_.size).toMap
    defs.filter(d => !Skipped(d.name) && words(d.name) <= definedAt(d.name))
      .sortBy(d => (d.file, d.line))
  }

  /** `src` with every comment blanked (its newlines kept, so line numbers
    * hold). Nested block comments nest, as in Scala.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      val end =
        if (src.startsWith("//", i)) {
          src.indexOf('\n', i) match { case -1 => n; case e => e }
        } else if (src.startsWith("/*", i)) {
          var j = i + 2
          var depth = 1
          while (j < n && depth > 0) {
            if (src.startsWith("/*", j)) { depth += 1; j += 2 }
            else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
            else j += 1
          }
          j
        } else if (src.startsWith("\"\"\"", i)) {
          var j = src.indexOf("\"\"\"", i + 3) match { case -1 => n; case e => e + 3 }
          while (j < n && src(j) == '"') j += 1
          j
        } else if (src(i) == '"') {
          var j = i + 1
          while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
          math.min(j + 1, n)
        } else if (src(i) == '\'' && i + 2 < n && src(i + 1) == '\\') {
          src.indexOf('\'', i + 3) match { case -1 => n; case e => e + 1 }
        } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
          i + 3
        } else i + 1
      val token = src.substring(i, end)
      if (src.startsWith("//", i) || src.startsWith("/*", i)) out.append(token.filter(_ == '\n'))
      else out.append(token)
      i = end
    }
    out.toString
  }
}
