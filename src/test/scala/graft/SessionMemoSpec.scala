package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ops.SessionMemo

/** graft.ops.SessionMemo: one build per (session, name, params), nested
  * builds, failed-build retry, single-flight under contention, and the
  * stopped-session purge — all observed through build counters. Each
  * test keys on its own `newSession()` so entries never leak between
  * tests.
  */
class SessionMemoSpec extends SparkSpecBase {

  test("a nested build (memo A's builder calls memo B) builds each memo once") {
    // A fans out to 32 inner memos: a builder run inside the map's
    // computeIfAbsent would hit A's reserved bin with one of them and
    // throw IllegalStateException("Recursive update").
    val s = spark.newSession()
    val builtA = new AtomicInteger
    val builtB = (0 until 32).map(_ => new AtomicInteger)
    def memoB(i: Int): Int = SessionMemo(s, "B", i) { builtB(i).incrementAndGet(); i }
    def memoA: Int = SessionMemo(s, "A") {
      builtA.incrementAndGet()
      (0 until 32).map(memoB).sum
    }
    memoA shouldBe 496
    memoA shouldBe 496
    (0 until 32).map(memoB) shouldBe (0 until 32)
    builtA.get shouldBe 1
    builtB.map(_.get).toSet shouldBe Set(1)
  }

  test("a build that throws is not kept: the next call retries") {
    val s = spark.newSession()
    val built = new AtomicInteger
    def memo: Int = SessionMemo(s, "flaky") {
      if (built.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    an[IllegalStateException] should be thrownBy memo
    memo shouldBe 42
    memo shouldBe 42
    built.get shouldBe 2
  }

  test("every param value is its own entry; a repeated value builds once") {
    val s = spark.newSession()
    val built = Map(4 -> new AtomicInteger, 8 -> new AtomicInteger)
    def cells(nCells: Int): Int = SessionMemo(s, "cells", "dir", nCells) {
      built(nCells).incrementAndGet()
      nCells * 10
    }
    Seq(4, 8, 4, 8, 4).map(cells) shouldBe Seq(40, 80, 40, 80, 40)
    built.map { case (n, c) => n -> c.get } shouldBe Map(4 -> 1, 8 -> 1)
    // the same params under another name or session are other entries
    SessionMemo(s, "other", "dir", 4)(-1) shouldBe -1
    SessionMemo(spark.newSession(), "cells", "dir", 4)(-2) shouldBe -2
  }

  test("8 threads calling one key run its builder once") {
    val s = spark.newSession()
    val built = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val call = new Callable[AnyRef] {
        def call(): AnyRef = {
          gate.await()
          SessionMemo(s, "contended") {
            built.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new Object
          }
        }
      }
      val results = (1 to 8).map(_ => pool.submit(call))
      gate.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      built.get shouldBe 1
      values.distinct.size shouldBe 1
    } finally pool.shutdownNow()
  }

  test("entries of a stopped session are dropped") {
    // Stopping a SparkContext would end the suite's shared session, so
    // the stop runs in a child JVM (SessionMemoStoppedProbe below).
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin, "-Xmx512m") ++ args ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.SessionMemoStoppedProbe")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    withClue(out) {
      proc.waitFor() shouldBe 0
      out should include("builds before stop=1 after stop=2")
    }
  }

  test("no main source but SessionMemo declares a ConcurrentHashMap keyed by SparkSession") {
    val root = new java.io.File("src/main/scala")
    val files = java.nio.file.Files.walk(root.toPath).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.map(_.getFileName.toString) should contain("SessionMemo.scala")
    // the key type: a parenthesized tuple, or the first type argument
    val keyType = """ConcurrentHashMap\s*\[\s*(\([^)]*\)|[^,\]]+)""".r
    val offenders = files.filterNot(_.getFileName.toString == "SessionMemo.scala")
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        keyType.findAllMatchIn(src).exists(_.group(1).contains("SparkSession"))
      }
    withClue("use graft.ops.SessionMemo for per-session caches: ") {
      offenders shouldBe empty
    }
  }
}

/** Child-JVM half of the stopped-session test: memoizes on a session,
  * stops it, and calls the memo again — the purge must have dropped the
  * entry, so the builder runs a second time.
  */
object SessionMemoStoppedProbe {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[1]").appName("memo-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    var builds = 0
    def memo(): Unit = SessionMemo(s, "probe") { builds += 1 }
    memo()
    memo()
    val before = builds
    s.stop()
    memo()
    println(s"builds before stop=$before after stop=$builds")
  }
}
