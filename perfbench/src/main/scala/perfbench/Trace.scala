package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the runner sets so every job carries the operation
  * and pipeline phase it ran for. */
object Props {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

/** Counters every run keeps, traced or not: one event per stage. They
  * give the end-to-end `cpu_s` and `peak_exec_mib`. */
final class StageMeter extends SparkListener {
  private var cpuNs = 0L
  private var peakBytes = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      peakBytes = math.max(peakBytes, m.peakExecutionMemory)
    }
  }

  /** (executor CPU seconds, largest stage peak execution MiB) since the
    * last call. */
  def take(): (Double, Double) = synchronized {
    val out = (cpuNs / 1e9, peakBytes / Mib)
    cpuNs = 0L; peakBytes = 0L
    out
  }

  private val Mib = 1024.0 * 1024.0
}

/** The traced run's recorder: job and stage spans with task metrics
  * (a SparkListener) and the per-operator SQL metrics of every action's
  * executed plan, writes included (a QueryExecutionListener). It lives
  * wholly in the benchmark; the engine is not changed to be traced.
  *
  * Each completed stage's task time is charged to one layer, from the
  * plan-node scopes its RDDs were created in. A `WholeStageCodegen (n)`
  * scope stands for the operators fused into codegen stage n of that
  * execution's plan. The most specific operator wins: write > kernel
  * (Generate) > window > sort > agg > join > exchange > scan; a stage
  * with none of these is charged to `other`.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.Map.empty[Int, Job]
  /** stage id → SQL execution id of its first job */
  private val stageExec = mutable.Map.empty[Int, String]
  /** SQL execution id → pipeline phase of its first job */
  private val execPhase = mutable.Map.empty[String, String]
  /** SQL metric accumulator id → first SQL execution whose plan has it */
  private val accOwner = mutable.Map.empty[Long, String]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  /** codegen stage id → fused operator names, per SQL execution id */
  private val codegen = mutable.Map.empty[String, mutable.Map[Int, mutable.Set[String]]]
  /** accumulator id → (metric name, latest value in base units) */
  private val sqlMetrics = mutable.Map.empty[Long, (String, Double)]
  private var planMs = 0L
  private val stageEvents = mutable.ArrayBuffer.empty[StageInfo]

  def reset(): Unit = synchronized {
    jobs.clear(); stageExec.clear(); stages.clear(); codegen.clear()
    execPhase.clear(); accOwner.clear(); sqlMetrics.clear(); stageEvents.clear()
    planMs = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.time, e.time, prop(Props.Op))
    val exec = prop("spark.sql.execution.id")
    e.stageIds.foreach(id => if (!stageExec.contains(id)) stageExec(id) = exec)
    if (!execPhase.contains(exec)) execPhase(exec) = prop(Props.Phase)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => addPlan(s.executionId.toString, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addPlan(u.executionId.toString, u.sparkPlanInfo)
    case _ =>
  }

  /** Note which operators each codegen stage of an execution fuses, and
    * which execution each SQL metric belongs to. */
  private def addPlan(exec: String, plan: SparkPlanInfo): Unit = synchronized {
    val fused = codegen.getOrElseUpdate(exec, mutable.Map.empty)
    def visit(p: SparkPlanInfo): Unit = {
      p.nodeName match {
        case CodegenScope(id) =>
          fused.getOrElseUpdate(id.toInt, mutable.Set.empty) ++= fusedNames(p.children)
        case _ =>
      }
      p.metrics.foreach(m => if (!accOwner.contains(m.accumulatorId)) accOwner(m.accumulatorId) = exec)
      p.children.foreach(visit)
    }
    visit(plan)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEvents += e.stageInfo
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    walk(qe.executedPlan) { node =>
      for ((key, metricName) <- sqlMetricsOf(node); m <- node.metrics.get(metricName)) {
        val scale = m.metricType match {
          case "timing" => 1e-3
          case "nsTiming" => 1e-9
          case "size" => 1.0 / Mib
          case _ => 1.0
        }
        sqlMetrics(m.id) = (key, m.value * scale)
      }
    }
  }

  /** Charge each stage completed since the last reset to a layer. Call
    * after the listener bus is drained. */
  private def settleStages(): Unit = {
    stageEvents.foreach { s =>
      val exec = stageExec.getOrElse(s.stageId, "")
      val scopes = s.rddInfos.flatMap(PerfbenchAccess.scopeNames).distinct
      val fused = codegen.getOrElse(exec, mutable.Map.empty[Int, mutable.Set[String]])
      val names = scopes.flatMap {
        case CodegenScope(id) => fused.getOrElse(id.toInt, Set.empty[String]).toSeq
        case other => Seq(other)
      }
      val m = s.taskMetrics
      val written = m.outputMetrics.bytesWritten > 0 || names.exists(_.startsWith("WriteFiles"))
      val layer =
        if (written) "write"
        else Precedence.find(l => names.exists(n => layerOf(n).contains(l))).getOrElse("other")
      stages += Stage(layer, m.executorRunTime,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled, s.numTasks)
    }
    stageEvents.clear()
  }

  /** Per-layer metrics of one pass that ran from `startMs` to `endMs`.
    * `csvOnDisk` is the size of the pass's CSV inputs (0 if none). */
  def summarize(startMs: Long, endMs: Long, csvOnDisk: Long): Map[String, Double] = synchronized {
    settleStages()
    val wallMs = (endMs - startMs).toDouble
    val spans = jobs.values.map(j => (math.max(j.start, startMs), math.min(j.end, endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    val runMs = stages.map(_.runMs).sum.toDouble
    def layerS(l: String) = stages.filter(_.layer == l).map(_.runMs).sum / 1e3
    def sql(k: String, phase: String = null) = sqlMetrics.collect {
      case (acc, (`k`, v)) if phase == null ||
        accOwner.get(acc).flatMap(execPhase.get).contains(phase) => v
    }.sum
    val csvMib = sql("scan.csv_mib")
    val base = Map(
      "driver.gap_s" -> (wallMs - covered) / 1e3,
      "driver.plan_s" -> planMs / 1e3,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> stages.size.toDouble,
      "driver.tasks" -> stages.map(_.tasks).sum.toDouble,
      "scan.parquet_mib" -> sql("scan.parquet_mib"),
      "scan.csv_mib" -> csvMib,
      "scan.csv_amplification" -> (if (csvOnDisk > 0) csvMib * Mib / csvOnDisk else 0.0),
      "scan.rows" -> sql("scan.rows"),
      "scan.time_s" -> sql("scan.time_s"),
      "exchange.write_mib" -> stages.map(_.shuffleBytes).sum / Mib,
      "exchange.records" -> stages.map(_.shuffleRecords).sum.toDouble,
      "exchange.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3,
      "exchange.spill_mib" -> stages.map(_.spillBytes).sum / Mib,
      "kernel.generate_rows" -> sql("kernel.generate_rows"),
      "join.rows_out" -> sql("join.rows_out"),
      "join.broadcast_build_s" -> sql("join.broadcast_build_s"),
      "agg.time_s" -> sql("agg.time_s"),
      "agg.rows_out" -> sql("agg.rows_out"),
      "window.rows" -> sql("window.rows"),
      "sort.time_s" -> sql("sort.time_s"),
      "sort.spill_mib" -> sql("sort.spill_mib"),
      "write.files" -> sql("write.files"),
      "write.mib" -> sql("write.mib"),
      "qc.csv_mib" -> sql("scan.csv_mib", phase = "qc"),
      "tasks.total_s" -> runMs / 1e3,
      "layers.coverage" -> (if (runMs > 0) 1.0 - layerS("other") * 1e3 / runMs else 1.0))
    val layers = (Precedence :+ "other").map(l => s"$l.task_s" -> layerS(l))
    val opJobs = jobs.values.groupBy(_.op).map { case (op, js) => s"op.$op.jobs" -> js.size.toDouble }
    base ++ layers ++ opJobs
  }
}

object Tracer {
  private final case class Job(start: Long, var end: Long, op: String)
  private final case class Stage(layer: String, runMs: Long, fetchWaitMs: Long,
      shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long, tasks: Int)
  private val Mib = 1024.0 * 1024.0
  private val CodegenScope = """WholeStageCodegen \((\d+)\)""".r

  /** Layers in the order a stage is charged: the first one present wins. */
  val Precedence: Seq[String] =
    Seq("write", "kernel", "window", "sort", "agg", "join", "exchange", "scan")

  def layerOf(node: String): Option[String] = {
    val n = node.trim
    if (n.startsWith("Generate")) Some("kernel")
    else if (n.startsWith("Window") || n.startsWith("RunningWindowFunction")) Some("window")
    else if (n == "Sort" || n.startsWith("TakeOrderedAndProject")) Some("sort")
    else if (n.endsWith("Aggregate")) Some("agg")
    else if (n.contains("Join") || n.startsWith("CartesianProduct")) Some("join")
    else if (n.startsWith("Exchange") || n.startsWith("AQEShuffleRead") ||
      n.startsWith("BroadcastExchange") || n.startsWith("ShuffleQueryStage")) Some("exchange")
    else if (n.startsWith("Scan") || n.contains("TableScan") || n.startsWith("Range") ||
      n.startsWith("ColumnarToRow")) Some("scan")
    else None
  }

  /** (reported metric, SQL metric name) pairs an operator contributes. */
  def sqlMetricsOf(node: SparkPlan): Seq[(String, String)] = {
    val n = node.nodeName.trim
    layerOf(n) match {
      case Some("scan") => Seq("scan.rows" -> "numOutputRows", "scan.time_s" -> "scanTime") ++
        (if (n.startsWith("Scan csv")) Seq("scan.csv_mib" -> "filesSize")
         else if (n.startsWith("Scan parquet")) Seq("scan.parquet_mib" -> "filesSize") else Nil)
      case Some("kernel") => Seq("kernel.generate_rows" -> "numOutputRows")
      case Some("window") => Seq("window.rows" -> "numOutputRows")
      case Some("sort") => Seq("sort.time_s" -> "sortTime", "sort.spill_mib" -> "spillSize")
      case Some("agg") => Seq("agg.time_s" -> "aggTime", "agg.rows_out" -> "numOutputRows")
      case Some("join") => Seq("join.rows_out" -> "numOutputRows")
      case Some("exchange") if n.startsWith("BroadcastExchange") =>
        Seq("join.broadcast_build_s" -> "buildTime")
      case _ if node.isInstanceOf[DataWritingCommandExec] =>
        Seq("write.files" -> "numFiles", "write.mib" -> "numOutputBytes")
      case _ => Nil
    }
  }

  /** Names of the operators fused into one codegen stage. */
  private def fusedNames(ps: Seq[SparkPlanInfo]): Seq[String] =
    ps.filter(_.nodeName != "InputAdapter").flatMap(p => p.nodeName +: fusedNames(p.children))

  /** Visit every operator an action ran, once: through adaptive plans,
    * query stages, cached relations, subqueries and write commands. */
  def walk(p: SparkPlan)(visit: SparkPlan => Unit): Unit = {
    visit(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    (kids ++ p.subqueries).foreach(walk(_)(visit))
  }

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    PerfbenchAccess.drainListeners(spark.sparkContext)
}
