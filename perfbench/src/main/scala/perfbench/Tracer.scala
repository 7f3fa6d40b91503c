package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Marker the driver thread posts on the listener bus. Because listeners on
  * the shared queue receive events in post order, a marker splits the event
  * stream into ops and phases exactly, and its delivery proves that every
  * earlier event has been seen (see [[Drain]]). */
final case class Mark(seq: Long, kind: String, op: Int, key: String,
                      pass: Int, timeMs: Long, values: Map[String, Double])
    extends SparkListenerEvent

/** One timed interval of the traced run. Spans of one op share `op`. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startMs: Long, var endMs: Long,
                      attrs: mutable.Map[String, Double] = mutable.Map.empty) {
  def durMs: Long = math.max(0L, endMs - startMs)
}

/** Per-op, per-layer attribution of one traced run.
  *
  * Jobs are attributed by job group (`pb:<op>:<phase>`, set by the runner
  * for every op); stages by the job that submitted them; tasks by their
  * stage. Planner phases come from the QueryExecutionListener callbacks
  * that arrive between an op's `run` and `end` markers. All state is
  * written on the listener-bus thread and read only after a [[Drain]]. */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  /** Layer sums of one op, keyed by metric name. */
  final class Op(val id: Int, val key: String, val pass: Int) {
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    var span: Span = _
  }

  val ops: mutable.LinkedHashMap[Int, Op] = mutable.LinkedHashMap.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextSpan = 0
  private var passSpan: Span = _
  private var cur: Op = _
  private var phase = ""
  private val jobOwner = mutable.Map.empty[Int, (Op, Span)]
  private val stageOwner = mutable.Map.empty[Int, (Op, Span)]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val openJobs = new AtomicLong(0L)
  private val posted = new AtomicLong(-1L)
  @volatile private var seenSeq = -1L

  private def span(parent: Span, name: String, op: Int, start: Long, end: Long): Span = {
    val s = Span(nextSpan, if (parent == null) -1 else parent.id, name, op, start, end)
    nextSpan += 1
    spans += s
    s
  }

  // ---- driver-thread side -------------------------------------------------

  def nextSeq(): Long = posted.incrementAndGet()

  def lastSeen: Long = seenSeq

  /** Events not yet delivered: markers in flight plus jobs still open. */
  def pending: Long = math.max(0L, posted.get - seenSeq) + openJobs.get

  // ---- listener-bus side --------------------------------------------------

  /** A marker's layer values; `*_ms` entries are span timestamps. */
  private def metrics(mk: Mark): Map[String, Double] =
    mk.values.filter { case (k, _) => !k.endsWith("_ms") }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case mk: Mark =>
      mk.kind match {
        case "pass" =>
          passSpan = span(null, "pass", -1, mk.timeMs, mk.timeMs)
          passSpan.attrs("pass") = mk.pass
        case "pass_end" =>
          if (passSpan != null) passSpan.endMs = mk.timeMs
        case "op" =>
          cur = new Op(mk.op, mk.key, mk.pass)
          ops(mk.op) = cur
          cur.span = span(passSpan, s"op:${mk.key}", mk.op, mk.timeMs, mk.timeMs)
          phase = "build"
        case "run" =>
          if (cur != null) {
            val build = span(cur.span, "ops.build", cur.id, cur.span.startMs, mk.timeMs)
            metrics(mk).foreach { case (k, v) => cur.m(k) += v }
            build.attrs ++= mk.values
            mk.values.get("analysis_start_ms").foreach { a0 =>
              span(cur.span, "planner.analysis", cur.id, a0.toLong,
                a0.toLong + (mk.values.getOrElse("planner.analysis_s", 0.0) * 1000).toLong)
            }
          }
          phase = "run"
        case "end" =>
          if (cur != null) {
            cur.span.endMs = mk.timeMs
            metrics(mk).foreach { case (k, v) => cur.m(k) += v }
            cur.span.attrs ++= mk.values
          }
          cur = null
          phase = ""
        case _ => ()
      }
      seenSeq = mk.seq
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.incrementAndGet()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    parseGroup(group).flatMap { case (id, ph) => ops.get(id).map(_ -> ph) }.foreach {
      case (op, ph) =>
        op.m("executor.jobs") += 1
        if (ph == "build") op.m("ops.build_jobs") += 1
        val js = span(op.span, "executor.job", op.id, e.time, e.time)
        js.attrs("job_id") = e.jobId
        jobOwner(e.jobId) = (op, js)
        e.stageInfos.foreach(si => stageOwner.getOrElseUpdate(si.stageId, (op, js)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    openJobs.decrementAndGet()
    jobOwner.remove(e.jobId).foreach { case (_, js) => js.endMs = e.time }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmitMs((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { case (op, js) =>
      op.m("executor.stages") += 1
      val start = stageSubmitMs.getOrElse((si.stageId, si.attemptNumber()),
        si.submissionTime.getOrElse(js.startMs))
      val ss = span(js, "executor.stage", op.id, start,
        si.completionTime.getOrElse(System.currentTimeMillis()))
      ss.attrs("stage_id") = si.stageId
      ss.attrs("tasks") = si.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOwner.get(e.stageId).foreach { case (op, _) =>
      val m = op.m
      m("executor.tasks") += 1
      if (e.reason != org.apache.spark.Success) m("executor.failed_tasks") += 1
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { t0 =>
        m("executor.task_wait_s") += math.max(0L, e.taskInfo.launchTime - t0) / 1000.0
      }
      val tm = e.taskMetrics
      if (tm != null) {
        m("executor.run_s") += tm.executorRunTime / 1000.0
        m("executor.cpu_s") += tm.executorCpuTime / 1e9
        m("executor.gc_s") += tm.jvmGCTime / 1000.0
        m("executor.shuffle_write_mb") += tm.shuffleWriteMetrics.bytesWritten / MB
        m("executor.shuffle_read_mb") += tm.shuffleReadMetrics.totalBytesRead / MB
        m("executor.spill_mb") += (tm.memoryBytesSpilled + tm.diskBytesSpilled) / MB
        m("executor.input_mb") += tm.inputMetrics.bytesRead / MB
        m("executor.output_mb") += tm.outputMetrics.bytesWritten / MB
        if (tm.inputMetrics.recordsRead == 0 && tm.shuffleReadMetrics.recordsRead == 0)
          m("executor.empty_tasks") += 1
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  /** Planner phases of the op's own executions. Queries a key's build
    * function runs eagerly (checkpoint loops, collected thresholds) are
    * part of its build time and stay in `ops.build`. */
  private def planned(qe: QueryExecution): Unit = if (cur != null && phase == "run") {
    val parent = cur.span
    Seq("analysis" -> "planner.analysis", "optimization" -> "planner.optimizer",
        "planning" -> "planner.planning").foreach { case (ph, name) =>
      qe.tracker.phases.get(ph).foreach { p =>
        cur.m(name + "_s") += p.durationMs / 1000.0
        span(parent, name, cur.id, p.startTimeMs, p.endTimeMs)
      }
    }
    cur.m("planner.shuffles") += PlanText.shuffles(qe.executedPlan.toString)
  }

  /** Self time: a span's duration minus the part of its interval that its
    * children cover (children can overlap, e.g. jobs of one op). */
  def selfTimes(): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      var covered = 0L
      var upTo = s.startMs
      children.getOrElse(s.id, Nil).sortBy(_.startMs).foreach { c =>
        val from = math.max(c.startMs, upTo)
        val to = math.min(c.endMs, s.endMs)
        if (to > from) { covered += to - from; upTo = to }
      }
      s.id -> math.max(0L, s.durMs - covered)
    }.toMap
  }

  /** Spans as JSON lines (written once, when the run ends). */
  def spanLines(): Seq[String] = {
    val self = selfTimes()
    spans.toSeq.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"dur_ms":${s.durMs},"self_ms":${self(s.id)},"attrs":{$attrs}}"""
    }
  }

  /** Layer totals of one pass, with `executor.dispatch_s` derived per op as
    * wall − staging − planner − executor run time spread over the cores. */
  def passTotals(pass: Int): Map[String, Double] = {
    val tot = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.values.filter(_.pass == pass).foreach { op =>
      op.m.foreach { case (k, v) => tot(k) += v }
      val planner = op.m("planner.analysis_s") + op.m("planner.optimizer_s") +
        op.m("planner.planning_s")
      tot("executor.dispatch_s") += op.m("wall_s") - op.m("T.staged_s") - planner -
        op.m("executor.run_s") / cores
    }
    tot.toMap
  }
}

object Tracer {
  private val MB = 1024.0 * 1024.0

  def group(op: Int, phase: String): String = s"pb:$op:$phase"

  def parseGroup(g: String): Option[(Int, String)] =
    Option(g).filter(_.startsWith("pb:")).flatMap { s =>
      s.split(":") match {
        case Array(_, id, ph) => id.toIntOption.map(_ -> ph)
        case _ => None
      }
    }
}

/** Minimal JSON rendering for the result file and the spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
