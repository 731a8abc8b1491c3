package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Span of wall time. Spans of one operation share `op`; `parent` is the
  * id of the enclosing span (-1 for an operation's root). Times are epoch
  * milliseconds, to line up with the Spark listener events, plus the
  * nanosecond duration.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    startMs: Long, endMs: Long, seconds: Double)

/** The spans a workload records around its calls into the repo's layers.
  * Untraced, `span` just runs its body.
  */
class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var nextOp = 0
  private var stack = List.empty[(Int, Int)] // (span id, op id)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val (parent, op) = stack match {
        case (p, o) :: _ => (p, o)
        case Nil => val o = nextOp; nextOp += 1; (-1, o)
      }
      stack = (id, op) :: stack
      val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        stack = stack.tail
        done += Span(id, op, name, parent, t0, System.currentTimeMillis(),
          (System.nanoTime() - n0) / 1e9)
      }
    }

  /** Spans recorded since the last call, in start order. */
  def take(): Vector[Span] = {
    val out = done.sortBy(_.id).toVector
    done.clear()
    out
  }
}

/** Collects Spark's scheduler and query-execution events for traced
  * passes and splits each operation's wall time into the repo's layers:
  *
  *  - `queries`: the `spec.run` span (DSL plan building plus the jobs it
  *    triggers eagerly, such as `localCheckpoint` barriers);
  *  - `plan`: the Catalyst phases of the sink's query execution;
  *  - `exec`: the rest of the sink spans (the query's `sink`, streaming
  *    `batch`, corpus `read`);
  *  - `engine`: stages that scan parquet files, wherever they run;
  *  - `streaming`: micro-batch and corpus append/read costs.
  */
final class Trace(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Trace._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val failedTasks = mutable.Map[Int, Int]().withDefaultValue(0)
  private val readingTasks = mutable.Map[Int, Int]().withDefaultValue(0)
  private val qes = mutable.ArrayBuffer[Qe]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val s = Stage(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks,
      if (m == null) 0.0 else m.executorRunTime / 1e3,
      if (m == null) 0.0 else m.executorCpuTime / 1e9,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      i.rddInfos.exists(_.name == "FileScanRDD"))
    // a retried stage attempt adds its work to the earlier attempts'
    stages(i.stageId) = stages.get(i.stageId) match {
      case Some(p) => Stage(p.submitMs, s.endMs, p.tasks + s.tasks, p.runS + s.runS,
        p.cpuS + s.cpuS, p.shuffleWrite + s.shuffleWrite, p.shuffleRead + s.shuffleRead,
        p.spill + s.spill, p.inputRows + s.inputRows, s.scansFiles)
      case None => s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failedTasks(e.stageId) += 1
    if (e.taskMetrics != null && e.taskMetrics.inputMetrics.recordsRead > 0) {
      readingTasks(e.stageId) += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    def scanned(metric: String) = collect(plan) { case s: FileSourceScanExec =>
      s.metrics.get(metric).map(_.value).getOrElse(0L)
    }.sum
    val bcast = collect(plan) { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    val appendTo = qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    synchronized {
      qes += Qe(durationNs / 1e9, phases, scanned("numFiles"), scanned("filesSize"), bcast, appendTo)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Length of the union of [start, end] intervals, in seconds. */
  private def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total / 1e3
  }

  private val sinkSpans = Set("sink", "batch", "read")
  private val mb = 1048576.0

  /** Splits one traced pass into per-layer totals and per-operation self
    * times, then forgets the pass's events. `extra` carries what only the
    * workload can measure (corpus bytes and files).
    */
  def summarize(spans: Vector[Span], extra: Map[String, Double]): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    val (js, ss, fails, reading, qs) = synchronized {
      val out = (jobs.toVector, stages.toMap, failedTasks.toMap, readingTasks.toMap, qes.toVector)
      jobs.clear(); stages.clear(); failedTasks.clear(); readingTasks.clear(); qes.clear()
      out
    }
    // the innermost span holding time t (spans nest and never overlap)
    val leaves = spans.filter(s => s.parent >= 0)
    def spanAt(t: Long): Option[Span] =
      leaves.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => s.endMs - s.startMs).headOption
    def named(names: Set[String]) = spans.filter(s => names(s.name))

    val jobSpan = js.flatMap(j => spanAt(j.startMs).map(_ -> j))
    def stagesIn(names: Set[String]): Vector[Stage] =
      jobSpan.filter(x => names(x._1.name)).flatMap(_._2.stageIds).distinct.flatMap(ss.get)
    def jobsIn(names: Set[String]): Int = jobSpan.count(x => names(x._1.name))

    // Catalyst phases of the query executions that ran inside a sink span
    val phaseSpans = for {
      q <- qs; (name, s, e) <- q.phases; sp <- spanAt(s) if sinkSpans(sp.name)
    } yield (name, sp, s, math.min(e, sp.endMs))
    def phaseS(name: Option[String], within: Span => Boolean): Double =
      unionS(phaseSpans.filter(p => name.forall(_ == p._1) && within(p._2)).map(p => (p._3, p._4)))

    val runS = named(Set("run")).map(_.seconds).sum
    val sinkS = named(sinkSpans).map(_.seconds).sum
    val planS = phaseS(None, _ => true)
    val execS = math.max(0.0, sinkS - planS)
    val exec = stagesIn(sinkSpans)
    val execBusy = unionS(exec.map(s => (s.submitMs, s.endMs)))
    val execRun = exec.map(_.runS).sum
    val run = stagesIn(Set("run"))
    val names = spans.map(_.name).toSet
    val scanIds = jobSpan.filter(x => names(x._1.name)).flatMap(_._2.stageIds).distinct
      .filter(id => ss.get(id).exists(_.scansFiles))
    val scans = scanIds.flatMap(ss.get)
    val execIds = jobSpan.filter(x => sinkSpans(x._1.name)).flatMap(_._2.stageIds).toSet

    // per-operation split; what no layer claims is `unattributed`
    val ops = spans.filter(_.parent < 0).map { root =>
      val mine = spans.filter(_.op == root.op)
      val q = mine.filter(_.name == "run").map(_.seconds).sum
      val p = phaseS(None, _.op == root.op)
      val x = math.max(0.0, mine.filter(s => sinkSpans(s.name)).map(_.seconds).sum - p)
      Map("op" -> root.op, "name" -> root.name, "wall_s" -> root.seconds,
        "queries_s" -> q, "plan_s" -> p, "exec_s" -> x,
        "unattributed_s" -> (root.seconds - q - p - x))
    }

    val layers = Map[String, Double](
      "queries.run_s" -> runS,
      "queries.run_jobs" -> jobsIn(Set("run")).toDouble,
      "queries.run_stages" -> run.size.toDouble,
      "queries.run_task_s" -> run.map(_.runS).sum,
      "plan.s" -> planS,
      "plan.analysis_s" -> phaseS(Some("analysis"), _ => true),
      "plan.optimization_s" -> phaseS(Some("optimization"), _ => true),
      "plan.planning_s" -> phaseS(Some("planning"), _ => true),
      "exec.s" -> execS,
      "exec.jobs" -> jobsIn(sinkSpans).toDouble,
      "exec.stages" -> exec.size.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.stage_busy_s" -> execBusy,
      "exec.gap_s" -> math.max(0.0, execS - execBusy),
      "exec.task_run_s" -> execRun,
      "exec.task_cpu_s" -> exec.map(_.cpuS).sum,
      "exec.core_util" -> (if (execBusy > 0) execRun / (execBusy * cores) else 0.0),
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> exec.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> exec.map(_.spill).sum / mb,
      "exec.broadcast_mb" -> qs.map(_.broadcastBytes).sum / mb,
      "exec.task_failures" -> fails.filter(f => execIds(f._1)).values.sum.toDouble,
      "engine.scan_stages" -> scans.size.toDouble,
      "engine.scan_tasks" -> scans.map(_.tasks).sum.toDouble,
      "engine.scan_reading_tasks" -> scanIds.map(reading.getOrElse(_, 0)).sum.toDouble,
      "engine.scan_stage_s" -> scans.map(s => (s.endMs - s.submitMs) / 1e3).sum,
      "engine.input_mb" -> qs.map(_.filesBytes).sum / mb,
      "engine.input_rows" -> scans.map(_.inputRows).sum.toDouble,
      "engine.files_read" -> qs.map(_.filesRead).sum.toDouble,
      "streaming.batch_s" -> named(Set("batch")).map(_.seconds).sum,
      "streaming.batch_jobs" -> jobsIn(Set("batch")).toDouble,
      "streaming.append_s" -> qs.filter(_.appendTo.isDefined).map(_.seconds).sum,
      "streaming.read_s" -> named(Set("read")).map(_.seconds).sum,
      "streaming.append_mb" -> 0.0,
      "streaming.corpus_files" -> 0.0,
    ) ++ extra

    val phaseDump = phaseSpans.map { case (n, sp, s, e) =>
      Map("op" -> sp.op, "name" -> s"plan.$n", "parent" -> sp.id, "start_ms" -> s, "end_ms" -> e)
    }
    val spanDump = spans.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds))
    Map("layers" -> layers, "split" -> ops, "spans" -> (spanDump ++ phaseDump))
  }
}

object Trace {
  final case class Job(startMs: Long, stageIds: Seq[Int])
  final case class Stage(submitMs: Long, endMs: Long, tasks: Int,
      runS: Double, cpuS: Double, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, inputRows: Long, scansFiles: Boolean)
  final case class Qe(seconds: Double, phases: Seq[(String, Long, Long)], filesRead: Long,
      filesBytes: Long, broadcastBytes: Long, appendTo: Option[String])
}
