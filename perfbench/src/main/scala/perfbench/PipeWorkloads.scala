package perfbench

import java.io.File

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Rollup
import graft.app.PipelineJob
import graft.checkpoint.Checkpoint
import graft.enrich.Enrich
import graft.model.PipelineConfig
import graft.parse.TranscriptParse
import graft.route.Router
import graft.sink.TranscriptCatalog

/** What the pipe workloads share: one checked `PipelineJob.run`, the traced
  * listeners, and the per-layer probes that call each module's public
  * functions from outside.
  */
object Pipe {

  /** One timed run plus its output check. `secs` is None when it threw. */
  final case class Run(secs: Option[Double], result: Option[PipelineJob.Result], offered: Long)

  def run(spark: SparkSession, report: Report, input: String, root: String, config: PipelineConfig,
      runId: String, exp: Transcripts.Expect, corrupt: Boolean,
      tablesOk: () => Boolean = () => true): Run =
    try {
      val (res, secs) = Stats.time(
        PipelineJob.run(spark, spark.read.parquet(input), root, config, runId))
      val routesOk = Transcripts.checkRun(runId, res, exp, corrupt)
      report.outcome(tablesOk() && routesOk)
      Run(Some(secs), Some(res), exp.offered)
    } catch {
      case e: Exception =>
        System.err.println(s"[run] $runId failed: $e")
        report.outcome(false)
        Run(None, None, exp.offered)
    }

  /** Listeners of the traced stretches of a run, attached by `start`. */
  final class Traced(spark: SparkSession, inputRoot: String) {
    val tracer = new Tracer
    val plans = new PlanTracer(inputRoot)

    def start(): Unit = {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(plans)
    }

    def stop(): Unit = {
      org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(plans)
    }
  }

  /** App and sink metrics of a traced pass. The route and rollup write
    * phases are the bulk load's (the first run); the other phases are the
    * median over the resume and replay runs.
    */
  def reportRuns(report: Report, runs: Seq[Run], traced: Traced, inputBytes: Long): Unit = {
    val done = runs.filter(_.result.isDefined)
    val n = math.max(1, done.size).toDouble
    val bulk = runs.take(1).filter(_.result.isDefined)
    val resumes = runs.drop(1).filter(_.result.isDefined)
    def phase(rs: Seq[Run], k: String) =
      Stats.median(rs.map(_.result.get.metrics.getOrElse(s"phase_ms_$k", 0L) / 1e3))
    Seq("route_write", "rollup_write").foreach(k => report.add(s"app.${k}_s", phase(bulk, k), "s"))
    Seq("route_counts", "partition_gc").foreach(k => report.add(s"app.${k}_s", phase(resumes, k), "s"))
    report.add("app.unphased_s", Stats.median(resumes.map { r =>
      r.secs.get - r.result.get.metrics.collect { case (k, v) if k.startsWith("phase_ms_") => v / 1e3 }.sum
    }), "s")
    report.add("app.rows_seen_gap",
      done.map(r => r.offered - r.result.get.metrics.getOrElse("rows_seen", 0L)).sum.toDouble, "count")
    report.add("app.input_passes", traced.plans.inputScanBytes / (inputBytes.toDouble), "ratio")
    report.add("sink.readback_files", traced.plans.readbackFiles / n, "count")
    for (ph <- Seq("app.route_write", "app.rollup_write")) {
      val s = traced.tracer.stats(ph)
      report.addAll(s.metrics(ph).map { case (k, v, u) => (k, v / n, u) })
    }
    report.add("agg.shuffle_bytes", traced.tracer.stats("app.rollup_write").shuffleRead / n, "bytes")
    report.add("agg.reducer_skew", traced.tracer.rollupReducerSkew, "ratio")
  }

  /** Catalog-side costs measured on a catalog a run left behind: partition
    * listing (`listPartitionValues` + a no-op `dropPartitions`, as partition
    * GC walks it), manifest read and write, written files and bytes.
    */
  def catalogProbes(spark: SparkSession, root: String, work: String): Seq[(String, Double, String)] = {
    val cat = new TranscriptCatalog(root, spark)
    val list = (1 to 3).map(_ => Stats.seconds {
      cat.listPartitionValues("routed", "window_key")
      cat.dropPartitions("routed", "window_key", _ => false)
    })
    val dir = s"$root/_checkpoint"
    val reads = (1 to 5).map(_ => Stats.time(Checkpoint.read(dir)))
    val manifest = reads.head._1.get
    val scratch = Main.freshDir(work, "manifest-")
    val writes = (1 to 5).map(_ => Stats.seconds(Checkpoint.write(scratch, manifest)))
    Main.deleteDir(scratch)
    val (files, bytes) = Main.dirBytes(root, _ == "_checkpoint")
    Seq(
      ("sink.list_s", Stats.median(list), "s"),
      ("checkpoint.read_s", Stats.median(reads.map(_._2)), "s"),
      ("checkpoint.write_s", Stats.median(writes), "s"),
      ("checkpoint.manifest_bytes", new File(dir, "manifest.json").length.toDouble, "bytes"),
      ("sink.files_written", files.toDouble, "count"),
      ("sink.bytes_written", bytes.toDouble, "bytes"))
  }

  private def noop(df: DataFrame): Double =
    Stats.median((1 to 3).map(_ => Stats.seconds(df.write.format("noop").mode("overwrite").save())))

  /** Self times of parse, enrich, route and agg from cumulative prefixes of
    * their public functions, each sunk to `noop` over `raw` (median of 3):
    * a layer's self time is its prefix's time minus the prefix before it.
    * The rollup reads only columns that exist after classification, so
    * its prefix is classify → explodedRollup. Then the sink's share of a
    * routed write: `overwritePartitions` minus `noop` of the same frame.
    */
  def layerProbes(spark: SparkSession, raw: DataFrame, work: String): Seq[(String, Double, String)] = {
    val (valid, _) = TranscriptParse.classify(raw)
    val extracted = TranscriptParse.extract(valid)
    val enriched = Enrich.enrich(extracted, spark)
    val routed = enriched.withColumn("route", Router.routeColumn(Router.defaultRoutes))
    val tRaw = noop(raw)
    val tValid = noop(valid)
    val tExtract = noop(extracted)
    val tEnrich = noop(enriched)
    val tRoute = noop(routed)
    val tRollup = noop(Rollup.explodedRollup(valid))
    val toWrite = routed
      .withColumn("window_key", Rollup.windowKey(Rollup.windowStart(col("ts"), "minute"), "minute"))
      .repartition(PipelineConfig().shufflePartitions, col("route"), col("window_key"))
    val tNoop = noop(toWrite)
    val tWrite = Stats.median((1 to 3).map { _ =>
      val root = Main.freshDir(work, "sink-")
      val s = Stats.seconds(new TranscriptCatalog(root, spark)
        .overwritePartitions(toWrite, "routed", Seq("route", "window_key")))
      Main.deleteDir(root)
      s
    })
    Seq(
      ("parse.classify_s", tValid - tRaw, "s"),
      ("parse.extract_s", tExtract - tValid, "s"),
      ("enrich.join_s", tEnrich - tExtract, "s"),
      ("route.assign_s", tRoute - tEnrich, "s"),
      ("agg.rollup_s", tRollup - tValid, "s"),
      ("sink.write_s", tWrite - tNoop, "s"))
  }

  /** `job_s_p50` and `job_s_tail` of a workload's unit operations, and the
    * sample count and percentile behind the tail.
    */
  def reportTimes(report: Report, times: Seq[Double]): Unit = {
    val (tail, pct) = Stats.tail(times)
    report.add("job_s_p50", Stats.median(times), "s")
    report.add("job_s_tail", tail, "s")
    report.add("job.samples", times.size.toDouble, "count")
    report.add("job.tail_pct", pct, "%")
    println(s"""{"jobs": ${times.size}, "tail_pct": $pct, "job_s": [${times.mkString(", ")}]}""")
  }
}

/** `pipe_incremental`: one catalog receives a sequence of runs. The first
  * is a bulk load into a fresh catalog: 2 minute-windows of 100k turns,
  * the per-window density of a 2M-turn, 20-window bulk run, so that scan,
  * parse, route and the partitioned writes dominate it. Then three small
  * resume runs each deliver two new windows of 2,500 turns plus a seeded
  * redelivery of older turns (a tenth of the batch), and one run, at a
  * seeded position, is a pure replay of the batch before it.
  * maxLineageWindows = 4, so the watermark folds at the second resume run
  * and later late turns are dropped. A pass is the whole sequence into a
  * fresh catalog; closed loop, one run at a time.
  */
object PipeIncremental {

  private val maxLineageWindows = 4
  private val bulkWindows = 2
  private val resumeRuns = 3

  /** The written input batches and what the reference expects of them. */
  private final case class Inputs(dirs: Seq[String], bytes: Long, exps: Seq[Transcripts.Expect],
      aggregates: (Long, Long), quarantine: Map[String, Long])

  /** Generate the turns, write batch i under `work`/input/batch=i, and run
    * the reference over them. The turns are dropped on return, so the
    * memory the run measures later is the program's.
    */
  private def inputs(spark: SparkSession, conf: Conf): Inputs = {
    val bulkPerMinute = if (conf.tiny) 300L else 100000L
    val resumePerMinute = if (conf.tiny) 100L else 2500L
    // Generated once to parquet: every batch is a filter of it.
    Transcripts.generate(spark, bulkWindows * bulkPerMinute, bulkPerMinute, conf.seed)
      .unionByName(Transcripts.generate(spark, 2 * resumeRuns * resumePerMinute, resumePerMinute,
        conf.seed, minuteOffset = bulkWindows, convPrefix = "r"))
      .write.parquet(s"${conf.work}/generated")
    val gen = spark.read.parquet(s"${conf.work}/generated")
    val base = Transcripts.collect(gen)
    // Batch k redelivers earlier turns with u in its own quarter of [0, 1),
    // about a tenth of the batch's new turns.
    def delivery(k: Int, from: Int, until: Int) = {
      val fresh = base.count(t => t.minute >= from && t.minute < until)
      val late = base.count(_.minute < from)
      val share = 1.0 / (resumeRuns + 1)
      Transcripts.Batch(from, until, k * share, math.min(share, 0.1 * fresh / math.max(1, late)))
    }
    val fresh = delivery(0, 0, bulkWindows) +: (1 to resumeRuns).map { k =>
      delivery(k, bulkWindows + 2 * k - 2, bulkWindows + 2 * k)
    }
    // The replay follows the bulk load and at least one resume run, and
    // repeats the batch just before it.
    val replayAt = 2 + new scala.util.Random(conf.seed).nextInt(resumeRuns)
    val batches = fresh.take(replayAt) ++ Seq(fresh(replayAt - 1)) ++ fresh.drop(replayAt)
    write(gen, batches, s"${conf.work}/input")
    Main.deleteDir(s"${conf.work}/generated")
    val dirs = batches.indices.map(i => s"${conf.work}/input/batch=$i")
    val ref = new Transcripts.Reference(maxLineageWindows)
    val exps = batches.map(b => ref.run(base.filter(b.contains)))
    Inputs(dirs, dirs.map(d => Main.dirBytes(d)._2).sum, exps, Transcripts.referenceFingerprint(spark, ref),
      exps.flatMap(_.quarantine).groupMapReduce(_._1)(_._2)(_ + _))
  }

  def run(conf: Conf, report: Report, jvmStartMs: Long): Unit = {
    var spark = Main.session(Main.cores)
    val Inputs(dirs, inputBytes, exps, expFp, expQuarantine) = inputs(spark, conf)
    val config = PipelineConfig(maxLineageWindows = maxLineageWindows)
    Main.log("inputs and reference")

    var seqNo = 0
    /** One pass: the whole sequence into a fresh catalog root; `afterRun`
      * sees each run's index and the root after it.
      */
    def sequence(s: SparkSession, afterRun: (Int, String) => Unit = (_, _) => ()): (Seq[Pipe.Run], Long) = {
      seqNo += 1
      val root = Main.freshDir(conf.work, "catalog-")
      // The last run's check also covers the tables the whole sequence built.
      val done = dirs.indices.map { i =>
        val tablesOk = () => i < dirs.size - 1 || (
          Transcripts.checkEqual("aggregates", Transcripts.catalogFingerprint(s, root), expFp) &&
            Transcripts.checkEqual("quarantine", Transcripts.quarantineCounts(s, root), expQuarantine))
        val r = Pipe.run(s, report, dirs(i), root, config, s"seq$seqNo-run$i", exps(i),
          conf.corruptRouteCount, tablesOk)
        afterRun(i, root)
        r
      }
      val outBytes = Main.dirBytes(root, _ == "_checkpoint")._2
      Main.deleteDir(root)
      (done, outBytes)
    }

    // Warm-up (JIT, codegen, parquet footers): the bulk load, kept as the
    // snapshot the scaling probe resumes from, and one resume run on a copy.
    val snapshot = Main.freshDir(conf.work, "snapshot-")
    Pipe.run(spark, report, dirs(0), snapshot, config, "snapshot", exps(0), conf.corruptRouteCount)
    var resumes = 0
    def resumeFromSnapshot(s: SparkSession): Double = {
      resumes += 1
      val root = Main.freshDir(conf.work, "catalog-")
      FileUtils.copyDirectory(new File(snapshot), new File(root))
      val r = Pipe.run(s, report, dirs(1), root, config, s"resume-$resumes", exps(1), conf.corruptRouteCount)
      Main.deleteDir(root)
      r.secs.getOrElse(Double.NaN)
    }
    resumeFromSnapshot(spark)
    Main.log("warm-up")
    report.add("setup_s", Main.sinceStart(jvmStartMs), "s")
    HeapWatch.reset()

    if (!conf.trace) {
      val t0 = System.nanoTime()
      // Two more bulk loads into fresh catalogs, so turns_per_s is the
      // median of three.
      val extra = (1 to 2).map { k =>
        val root = Main.freshDir(conf.work, "catalog-")
        val r = Pipe.run(spark, report, dirs(0), root, config, s"bulk-$k", exps(0), conf.corruptRouteCount)
        Main.deleteDir(root)
        r
      }
      var passes = Seq.empty[(Seq[Pipe.Run], Long)]
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < conf.seconds) passes :+= sequence(spark)
      val bulk = (extra ++ passes.map(_._1.head)).filter(_.secs.isDefined)
      Pipe.reportTimes(report, passes.flatMap(_._1.tail.flatMap(_.secs)))
      report.add("turns_per_s", Stats.median(bulk.map(r => r.offered / r.secs.get)), "1/s")
      report.add("pass_s", Stats.median(passes.map(_._1.flatMap(_.secs).sum)), "s")
      report.add("write_amp", passes.head._2.toDouble / inputBytes, "ratio")
      Main.log("timed passes")
      // Scaling: the first resume run, at local[1] and local[cores].
      val (s2, eff) = Main.scalingPairs(spark, 1)(resumeFromSnapshot)
      Main.log("scaling")
      spark = s2
      report.add("scaling_eff", eff, "ratio")
    } else {
      // A first full pass compiles the plan shapes the warm-up did not reach.
      sequence(spark)
      val traced = new Pipe.Traced(spark, s"${conf.work}/input")
      traced.start()
      // Probe time is excluded from the run timings but not from tracing.
      val probes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double, String)]]
      val (runs, _) = sequence(spark, (_, root) => probes += Pipe.catalogProbes(spark, root, conf.work))
      traced.stop()
      // The untraced pass that trace_overhead compares with.
      val untraced = sequence(spark)._1.flatMap(_.secs).sum
      report.add("trace_overhead", runs.flatMap(_.secs).sum / untraced, "ratio")
      Pipe.reportRuns(report, runs, traced, inputBytes)
      for ((name, _, unit) <- probes.head)
        report.add(name, Stats.median(probes.toSeq.flatMap(_.find(_._1 == name).map(_._2))), unit)
      report.addAll(Pipe.layerProbes(spark, spark.read.parquet(dirs(0)), conf.work))
      Pipe.reportTimes(report, runs.tail.flatMap(_.secs))
      // The traced bulk load's wall time, beside its route and rollup phases.
      runs.head.secs.foreach(b => println(s"""{"bulk_s": $b}"""))
      Main.notMeasured(report, _.startsWith("catalog."))
    }
    Main.deleteDir(snapshot)
    Main.hostControls(spark, conf.work, report)
    spark.stop()
  }

  /** Write every batch in one job, batch i under `dir`/batch=i, each in
    * several files so that a run reads its batch in parallel.
    */
  private def write(gen: DataFrame, batches: Seq[Transcripts.Batch], dir: String): Unit =
    batches.zipWithIndex
      .map { case (b, i) => gen.filter(b.column).withColumn("batch", lit(i)) }
      .reduce(_ unionByName _)
      .drop("minute", "u")
      .write.partitionBy("batch").mode("overwrite").parquet(dir)
}
