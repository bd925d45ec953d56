package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. `tiny` shrinks every input for the
  * smoke test; `corruptRouteCount` makes the output check see one wrong
  * route count, so the smoke test can prove the check fails.
  */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    expected: String,
    tiny: Boolean = false,
    corruptRouteCount: Boolean = false,
    record: Option[String] = None
)

object Conf {
  def parse(args: Array[String]): Conf = {
    def value(k: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`k`, v) => v }
    def need(k: String) = value(k).getOrElse(sys.error(s"missing $k"))
    Conf(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toDouble,
      trace = need("--trace") == "1",
      work = need("--work"),
      data = need("--data"),
      expected = need("--expected"),
      tiny = args.contains("--tiny"),
      corruptRouteCount = args.contains("--corrupt-route-count"),
      record = value("--record"))
  }
}

object Stats {
  /** NaN when there are no samples, which prints as null. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the value
    * ranked n-10 in ascending order. Below 20 samples that percentile would
    * fall under the median, so the maximum is reported instead. Returns
    * (value, percentile); NaN when there are no samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 20) (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    else (s.lastOption.getOrElse(Double.NaN), 100.0)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def seconds(body: => Unit): Double = time(body)._2
}

/** Metrics of one run, in the order they are added. */
final class Report {
  private val values = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def add(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def addAll(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (n, v, u) => add(n, v, u) }

  /** Count one checked operation; false when it threw or its output differed. */
  def outcome(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  /** The result line. A metric that was never recorded, or is NaN or
    * infinite, prints as null, which run.py refuses.
    */
  def json(names: Seq[(String, String)]): String = {
    val ms = names.map { case (n, unit) =>
      val num = values.get(n).map(_._1).filterNot(v => v.isNaN || v.isInfinite)
      s""""$n": {"value": ${num.fold("null")(_.toString)}, "unit": "${values.get(n).fold(unit)(_._2)}"}"""
    }
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Main {

  /** End-to-end metrics, printed by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s_p50" -> "s", "job_s_tail" -> "s",
    "turns_per_s" -> "1/s", "scaling_eff" -> "ratio", "pass_s" -> "s",
    "write_amp" -> "ratio")

  private def phaseNames(prefix: String) = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "run_s" -> "s", "gc_s" -> "s", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
    .map { case (n, u) => s"$prefix.$n" -> u }

  /** Per-layer metrics, printed by every traced run. A layer a workload does
    * not run reads 0 there, set by [[notMeasured]].
    */
  val perLayer: Seq[(String, String)] = Seq(
    "app.route_write_s" -> "s", "app.rollup_write_s" -> "s", "app.route_counts_s" -> "s",
    "app.partition_gc_s" -> "s", "app.unphased_s" -> "s",
    "parse.classify_s" -> "s", "parse.extract_s" -> "s", "enrich.join_s" -> "s",
    "route.assign_s" -> "s", "agg.rollup_s" -> "s",
    "sink.write_s" -> "s", "sink.files_written" -> "count", "sink.bytes_written" -> "bytes",
    "sink.list_s" -> "s", "sink.readback_files" -> "count",
    "checkpoint.read_s" -> "s", "checkpoint.write_s" -> "s", "checkpoint.manifest_bytes" -> "bytes",
    "app.input_passes" -> "ratio", "app.rows_seen_gap" -> "count",
    "agg.shuffle_bytes" -> "bytes", "agg.reducer_skew" -> "ratio") ++
    phaseNames("app.route_write") ++ phaseNames("app.rollup_write") ++ phaseNames("catalog") ++
    Catalog.families.flatMap(f => Seq(s"catalog.${f}_s" -> "s", s"catalog.${f}_steady_s" -> "s")) ++
    Seq("catalog.memo_build_s" -> "s", "catalog.cached_bytes" -> "bytes") ++
    Catalog.leaves.map(q => s"catalog.leaf.${q}_s" -> "s") ++
    Seq("catalog.exchanges" -> "count", "catalog.non_codegen_nodes" -> "count",
      "catalog.codegen_fallbacks" -> "count", "catalog.single_partition_windows" -> "count",
      "trace_overhead" -> "ratio", "fail_ratio" -> "ratio",
      "host.burn_s" -> "s", "host.disk_burn_s" -> "s",
      "jvm.peak_heap_after_gc_mb" -> "MB", "jvm.gcs" -> "count",
      "job.samples" -> "count", "job.tail_pct" -> "%")

  /** Record 0 for the per-layer metrics named by `which`, which the
    * calling workload does not run. Only these read 0 without a probe.
    */
  def notMeasured(report: Report, which: String => Boolean): Unit =
    perLayer.filter(m => which(m._1)).foreach { case (n, u) => report.add(n, 0.0, u) }

  /** A per-layer metric of the pipe layers, which only pipe_incremental runs. */
  def pipeLayer(name: String): Boolean =
    Seq("app.", "parse.", "enrich.", "route.", "agg.", "sink.", "checkpoint.").exists(name.startsWith)

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The repo's own bench session (graft.BenchOne.benchSession) at `n`
    * local cores; its shuffle partitions follow the core count.
    */
  def session(n: Int): SparkSession = graft.BenchOne.benchSession(n.toString)

  /** Stop the active session and start one with `n` local cores. */
  def restart(spark: SparkSession, n: Int): SparkSession = { spark.stop(); session(n) }

  /** Scaling efficiency from interleaved pairs: (time at local[1] ÷ time at
    * local[cores]) ÷ cores, median over the pairs. `op` runs one measured
    * operation in the given session and returns its seconds. Leaves a
    * local[cores] session running and returns it with the efficiency.
    */
  def scalingPairs(spark0: SparkSession, pairs: Int)(op: SparkSession => Double): (SparkSession, Double) = {
    var spark = spark0
    val effs = (1 to pairs).map { _ =>
      spark = restart(spark, 1)
      val one = op(spark)
      spark = restart(spark, cores)
      val many = op(spark)
      (one / many) / cores
    }
    (spark, Stats.median(effs))
  }

  /** Host controls, stamped on every run beside the metrics: the repo's CPU
    * burn (BenchOne.burn) and disk burn (BenchPipe.diskBurn), in seconds.
    * They run after the measurement, which ends with the heap metrics.
    */
  def hostControls(spark: SparkSession, work: String, report: Report): Unit = {
    // The heap metrics end here, before the controls' own collections.
    report.add("jvm.peak_heap_after_gc_mb", HeapWatch.peakMb, "MB")
    report.add("jvm.gcs", HeapWatch.collections.toDouble, "count")
    val burn = Stats.seconds(graft.BenchOne.burn(spark))
    val disk = graft.BenchPipe.diskBurn(work)
    report.add("host.burn_s", burn, "s")
    report.add("host.disk_burn_s", disk, "s")
    println(s"""{"host": {"burn_s": $burn, "disk_burn_s": $disk}}""")
  }

  def dirBytes(dir: String, skip: String => Boolean = _ => false): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.filterNot(g => skip(g.getName)).flatMap(walk)
      else Seq(f)
    val files = walk(new File(dir)).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    (files.size.toLong, files.map(_.length).sum)
  }

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))

  def freshDir(parent: String, prefix: String): String =
    Files.createTempDirectory(Files.createDirectories(Paths.get(parent)), prefix).toString

  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val report = new Report
    HeapWatch.start()
    conf.workload match {
      case "pipe_incremental" => PipeIncremental.run(conf, report, jvmStartMs)
      case "catalog" => Catalog.run(conf, report, jvmStartMs)
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    report.add("fail_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    println(report.json(if (conf.trace) perLayer else endToEnd))
  }

  /** Progress line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.currentTimeMillis() - startMs) / 1e3}%.1f] $msg")
  private lazy val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds from process start to now. */
  def sinceStart(jvmStartMs: Long): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications: memory the program still held, without the garbage and
  * without the heap size the GC chose. Counted from the last [[reset]].
  */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val afterGc = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def samples: Seq[Double] = synchronized(afterGc.toSeq)

  /** Largest, in MB; NaN when none ran. */
  def peakMb: Double = samples.maxOption.getOrElse(Double.NaN)

  def collections: Int = samples.size

  def reset(): Unit = synchronized(afterGc.clear())

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized(afterGc += used / (1024.0 * 1024.0))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
