package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.perfbench.Bridge

/** `catalog`: a fixed slice of `SparkEntry.queries` over the checked-in
  * sf0.01 tables, timed once in a fresh session after a JVM warm-up in an
  * earlier session, so memo first-touch is paid inside the timed pass as
  * users pay it. The seed permutes the query order. Each query's result is
  * checked by row count and an order-insensitive fingerprint against the
  * values recorded when the benchmark was defined
  * (`expected/catalog_sf0.01.json`).
  *
  * The slice holds five of the eight `leaves` and one or two cheaper
  * queries of the families they miss.
  * With the output check a memo-building query costs 3-12 s on a 4-core
  * host; the whole 112-query catalog would take about two minutes per pass,
  * more than a run of the benchmark can spend. Left out for that reason:
  * corpus_export and q_corpus_incremental (7 s and 6 s), emb_semdedup
  * (12 s a run with its steady passes), whose leaf metrics read 0, and the
  * scenario001 and emb families.
  */
object Catalog {

  val families: Seq[String] = Seq("ann", "corpus", "dd", "emb", "mm", "pipe", "q", "scenario001", "tx")

  val leaves: Seq[String] = Seq("corpus_build", "corpus_export", "q_corpus_incremental",
    "dd_cluster_rep", "dd_simhash", "emb_semdedup", "ann_ivf_exhaustive", "pipe_map_valued")

  /** The timed slice. */
  val queries: Seq[String] = leaves.filterNot(Set("corpus_export", "q_corpus_incremental", "emb_semdedup")) ++
    Seq("q_agg_minute_counts", "tx_tokens", "mm_decode_stub", "pipe_routes")

  private val tinyQueries = Seq("q_agg_minute_counts", "tx_tokens", "pipe_routes")
  private val warmup = Seq("q_agg_minute_counts", "tx_tokens")
  // A memo-free query over the events table, timed at local[1] and local[cores].
  private val scalingProbe = Seq("q_salted_agg")

  /** Turns each pipe_* query reads from its generator (PipelineQueries.N). */
  private val pipeQueryTurns = 100000L

  def family(q: String): String =
    if (q.startsWith("scenario001")) "scenario001" else q.takeWhile(_ != '_')

  /** Fingerprint columns of a result: floating-point values rounded to 4
    * decimals (their last bits depend on summation order), maps as JSON,
    * and nested values holding floating point left out.
    */
  private def stable(c: Column, t: DataType): Option[Column] = t match {
    case DoubleType | FloatType => Some(round(c.cast(DoubleType), 4))
    case _ if hasFloat(t) => None
    case _: MapType => Some(to_json(c))
    case _ => Some(c)
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** (rows, sum of 40-bit row hashes): equal for equal multisets of rows. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.flatMap(f => stable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(1L << 40))), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private val entry = """"([a-z0-9_]+)": \{"rows": (\d+), "fp": (\d+|null)\}""".r

  /** Expected (rows, fingerprint) per query; a null fingerprint marks a
    * query whose values differed between two recording passes, so only its
    * row count is checked.
    */
  def readExpected(path: String): Map[String, (Long, Option[Long])] =
    entry.findAllMatchIn(Files.readString(Paths.get(path))).map { m =>
      m.group(1) -> (m.group(2).toLong, Option(m.group(3)).filter(_ != "null").map(_.toLong))
    }.toMap

  /** Time every query of `names` in `spark`, checking each result. */
  def pass(spark: SparkSession, conf: Conf, names: Seq[String], report: Report,
      expected: Map[String, (Long, Option[Long])]): Seq[(String, Double)] =
    names.map { q =>
      try {
        val ((rows, fp), secs) = Stats.time(fingerprint(graft.SparkEntry.queries(q)(spark, conf.data)))
        val ok = expected.get(q).exists { case (r, f) => r == rows && f.forall(_ == fp) }
        System.err.println(s"[query] $q $secs")
        if (!ok) System.err.println(s"[check] $q: rows=$rows fp=$fp expected=${expected.get(q)}")
        report.outcome(ok)
        q -> secs
      } catch {
        case e: Exception =>
          System.err.println(s"[query] $q failed: $e")
          report.outcome(false)
          q -> Double.NaN
      }
    }

  def run(conf: Conf, report: Report, jvmStartMs: Long): Unit = {
    var spark = Main.session(Main.cores)
    conf.record.foreach { out => record(spark, conf, out); spark.stop(); return }
    val expected = readExpected(conf.expected)
    val names = new scala.util.Random(conf.seed).shuffle(if (conf.tiny) tinyQueries else queries)
    val inputBytes = Main.dirBytes(conf.data)._2
    val warm = spark.newSession()
    warmup.foreach(q => graft.SparkEntry.queries(q)(warm, conf.data).count())
    report.add("setup_s", Main.sinceStart(jvmStartMs), "s")
    HeapWatch.reset()

    def times(ts: Seq[(String, Double)]) = ts.map(_._2).filterNot(_.isNaN)
    def byFamily(ts: Seq[(String, Double)], f: String) =
      times(ts.filter(t => family(t._1) == f)).sum

    if (!conf.trace) {
      val sc = spark.sparkContext
      Bridge.drain(sc)
      val firstStage = Bridge.nextStageId(sc)
      val t0 = System.nanoTime()
      var passes = Seq.empty[Seq[(String, Double)]]
      var steady = Seq.empty[(String, Double)]
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
        val s = spark.newSession()
        passes :+= pass(s, conf, names, report, expected)
        if (passes.size == 1) {
          Bridge.drain(sc)
          report.add("write_amp",
            Bridge.shuffleWriteBytesSince(sc, firstStage).toDouble / inputBytes, "ratio")
          // Per-query latency is taken once the session's memos are built
          // (first-touch cost moves between queries with the seeded order),
          // over three steady passes: 27 samples, so that the tail
          // percentile with ten samples beyond it exists.
          steady = (1 to 3).flatMap(_ => pass(s, conf, names, report, expected))
        }
      }
      val pipe = steady.filter(t => family(t._1) == "pipe")
      Pipe.reportTimes(report, times(steady))
      report.add("turns_per_s", pipeQueryTurns * times(pipe).size / times(pipe).sum, "1/s")
      report.add("pass_s", Stats.median(passes.map(p => times(p).sum)), "s")
      val (s2, eff) = Main.scalingPairs(spark, 2)(s => times(pass(s, conf, scalingProbe, report, expected)).sum)
      spark = s2
      report.add("scaling_eff", eff, "ratio")
    } else {
      // B: the first pass in a fresh session (as timed untraced), then a
      // steady pass in the same session with every memo built. D, C, D2:
      // untraced, traced and untraced first passes, each in a fresh session
      // of the now warm JVM, so C against the mean of D and D2 is the
      // tracing alone, and D minus B's steady pass is memo first-touch
      // without compilation.
      val b = spark.newSession()
      val first = pass(b, conf, names, report, expected)
      val steady = pass(b, conf, names, report, expected)
      val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val untraced = pass(spark.newSession(), conf, names, report, expected)

      val c = spark.newSession()
      val tracer = new Tracer
      val plans = new PlanTracer(conf.data)
      spark.sparkContext.addSparkListener(tracer)
      c.listenerManager.register(plans)
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "catalog")
      val traced = pass(c, conf, names, report, expected)
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
      Bridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      c.listenerManager.unregister(plans)
      val untraced2 = pass(spark.newSession(), conf, names, report, expected)

      report.add("trace_overhead",
        2 * times(traced).sum / (times(untraced).sum + times(untraced2).sum), "ratio")
      report.addAll(tracer.stats("catalog").metrics("catalog"))
      report.add("catalog.exchanges", plans.exchanges.toDouble, "count")
      report.add("catalog.non_codegen_nodes", plans.nonCodegenNodes.toDouble, "count")
      report.add("catalog.codegen_fallbacks", plans.codegenFallbacks.toDouble, "count")
      report.add("catalog.single_partition_windows", plans.singlePartitionWindows.toDouble, "count")
      val ran = names.map(family).toSet
      for (f <- families if ran(f)) {
        report.add(s"catalog.${f}_s", byFamily(first, f), "s")
        report.add(s"catalog.${f}_steady_s", byFamily(steady, f), "s")
      }
      report.add("catalog.memo_build_s", times(untraced).sum - times(steady).sum, "s")
      report.add("catalog.cached_bytes", cached.toDouble, "bytes")
      for ((q, t) <- first if leaves.contains(q)) report.add(s"catalog.leaf.${q}_s", t, "s")
      // Not run here: the pipe layers, and the families and leaves outside the slice.
      val outside = families.filterNot(ran).flatMap(f => Seq(s"catalog.${f}_s", s"catalog.${f}_steady_s")) ++
        leaves.filterNot(names.contains).map(q => s"catalog.leaf.${q}_s")
      Main.notMeasured(report, m => outside.contains(m) || Main.pipeLayer(m))
      Pipe.reportTimes(report, times(first))
    }
    Main.hostControls(spark, conf.work, report)
    spark.stop()
  }

  /** Write the expected-values file: two passes in fresh sessions, in two
    * different orders; a fingerprint that differs between them is recorded
    * as null.
    */
  private def record(spark: SparkSession, conf: Conf, out: String): Unit = {
    def fps(order: Seq[String]) = {
      val s = spark.newSession()
      order.map(q => q -> fingerprint(graft.SparkEntry.queries(q)(s, conf.data))).toMap
    }
    val all = (queries ++ scalingProbe).distinct
    val a = fps(all)
    val b = fps(all.reverse)
    val lines = all.sorted.map { q =>
      val fp = if (a(q) == b(q)) a(q)._2.toString else "null"
      s"""  "$q": {"rows": ${a(q)._1}, "fp": $fp}"""
    }
    Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
  }
}
