package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one benchmark phase, summed over its tasks. */
final class PhaseStats {
  var jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L

  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs.toDouble, "count"),
    (s"$prefix.stages", stages.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"),
    (s"$prefix.cpu_s", cpuNs / 1e9, "s"),
    (s"$prefix.run_s", runMs / 1e3, "s"),
    (s"$prefix.gc_s", gcMs / 1e3, "s"),
    (s"$prefix.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    (s"$prefix.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    (s"$prefix.spill_bytes", spill.toDouble, "bytes"))
}

/** The traced run's SparkListener. It attributes each Spark job to a phase
  * and sums that phase's task counters. A job belongs to the phase named by
  * the driver thread's `perfbench.phase` local property, except that a SQL
  * execution writing the pipeline's `routed` or `aggregates` table belongs
  * to `app.route_write` or `app.rollup_write`: those writes happen inside
  * `PipelineJob.run`, where the benchmark cannot set a property.
  */
final class Tracer extends SparkListener {
  private val execPhase = new ConcurrentHashMap[Long, String]
  private val stagePhase = new ConcurrentHashMap[Int, String]
  private val stageExec = new ConcurrentHashMap[Int, Long]
  private val phases = new ConcurrentHashMap[String, PhaseStats]
  // Per-task shuffle-read bytes of every app.rollup_write stage.
  private val rollupReads = new ConcurrentHashMap[Int, ArrayBuffer[Long]]
  // The write's target in the formatted plan: "Arguments: file:/.../routed, ...".
  private val writeTarget = """Arguments: [^,\s]*/(routed|aggregates), """.r

  def stats(phase: String): PhaseStats = phases.computeIfAbsent(phase, _ => new PhaseStats)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      writeTarget.findFirstMatchIn(e.physicalPlanDescription).foreach { m =>
        execPhase.put(e.executionId,
          if (m.group(1) == "routed") "app.route_write" else "app.rollup_write")
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val byExec = execId.flatMap(id => Option(execPhase.get(id)))
    val phase = byExec.orElse(props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))))
    phase.foreach { ph =>
      stats(ph).synchronized { stats(ph).jobs += 1 }
      e.stageIds.foreach { st =>
        stagePhase.put(st, ph)
        execId.foreach(stageExec.put(st, _))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stagePhase.get(e.stageInfo.stageId)).foreach { ph =>
      val s = stats(ph); s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (ph <- Option(stagePhase.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = stats(ph)
      val read = m.shuffleReadMetrics.totalBytesRead
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += read
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (ph == "app.rollup_write") {
        val buf = rollupReads.computeIfAbsent(e.stageId, _ => new ArrayBuffer[Long])
        buf.synchronized { buf += read }
      }
    }

  /** Max ÷ median shuffle-read bytes over the reduce tasks of the rollup's
    * first exchange: in each rollup write, the lowest-numbered stage that
    * reads a shuffle. Median over the rollup writes seen; NaN if none ran.
    */
  def rollupReducerSkew: Double = {
    val perWrite = rollupReads.asScala.toSeq
      .flatMap { case (stage, b) =>
        val reads = b.synchronized(b.filter(_ > 0).toSeq)
        Option(stageExec.get(stage)).filter(_ => reads.nonEmpty).map(ex => (ex, stage, reads))
      }
      .groupBy(_._1).values.map(_.minBy(_._2)._3.map(_.toDouble))
    Stats.median(perWrite.map(r => r.max / Stats.median(r)).toSeq)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}

/** The traced run's QueryExecutionListener: reads the executed (final AQE)
  * plan of every action and write.
  *  - `inputScanBytes`: file bytes selected by scans of the input root.
  *  - `readbackFiles`: files selected by scans of the pipeline's `routed` table.
  *  - plan invariants: exchanges, nodes outside whole-stage codegen,
  *    CodegenFallback expressions, windows without a partition key.
  */
final class PlanTracer(inputRoot: String) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var inputScanBytes = 0L
  @volatile var readbackFiles = 0L
  @volatile var exchanges = 0L
  @volatile var nonCodegenNodes = 0L
  @volatile var codegenFallbacks = 0L
  @volatile var singlePartitionWindows = 0L

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    nodes.foreach {
      case scan: FileSourceScanExec =>
        val roots = scan.relation.location.rootPaths.map(_.toString)
        def metric(k: String) = scan.metrics.get(k).map(_.value).getOrElse(0L)
        if (roots.exists(_.contains(inputRoot))) inputScanBytes += metric("filesSize")
        if (roots.exists(r => r.endsWith("/routed") || r.contains("/routed/")))
          readbackFiles += metric("numFiles")
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
      case w: WindowExec if w.partitionSpec.isEmpty => singlePartitionWindows += 1
      case _ =>
    }
    nodes.foreach { p =>
      codegenFallbacks += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }
    nonCodegenNodes += PlanTracer.outsideCodegen(plan)
  }
}

object PlanTracer {
  /** Operators that run outside whole-stage codegen. Wrappers that only
    * mark stage, exchange or codegen boundaries are not counted.
    */
  def outsideCodegen(plan: SparkPlan): Long = {
    def walk(p: SparkPlan, inCodegen: Boolean): Long = {
      val here: Long = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
            _: QueryStageExec | _: Exchange | _: ReusedExchangeExec |
            _: AQEShuffleReadExec => 0L
        case _ => if (inCodegen) 0L else 1L
      }
      val kids: Seq[(SparkPlan, Boolean)] = p match {
        case w: WholeStageCodegenExec => Seq(w.child -> true)
        case i: InputAdapter => Seq(i.child -> false)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
        case q: QueryStageExec => Seq(q.plan -> false)
        case other => other.children.map(_ -> inCodegen)
      }
      here + kids.map { case (c, cg) => walk(c, cg) }.sum +
        p.subqueries.map(walk(_, inCodegen = false)).sum
    }
    walk(plan, inCodegen = false)
  }
}
