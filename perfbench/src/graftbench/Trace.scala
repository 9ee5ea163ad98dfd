package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

final case class StageRec(id: Int, submittedMs: Long, completedMs: Long, tasks: Int,
                          cpuNs: Long, shuffleBytes: Long, inputRecords: Long)

final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int], site: String) {
  @volatile var endMs: Long = -1L
}

/** Counts the engine's work from Spark's own events: jobs with their call
  * site (the engine source line that started them), completed stages with
  * their task metrics, planning time per executed query and files read by
  * each file scan. Registered only for traced runs. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val planningMs = new AtomicLong(0)
  val filesRead = new AtomicLong(0)
  val fileBytes = new AtomicLong(0)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** SQL execution id → the call site of the action that started it, e.g.
    * "save at Export.scala:36" (jobs that adaptive execution submits from
    * its own threads carry only their execution id). */
  private val executions = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => Option(executions.get(id.toLong)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null && si.failureReason.isEmpty)
      stages.put(si.stageId, StageRec(si.stageId, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), si.numTasks, tm.executorCpuTime,
        tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten,
        tm.inputMetrics.recordsRead))
  }

  private def record(qe: QueryExecution): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    val scans = PlanWalk.collect(qe.executedPlan) { case s: FileSourceScanExec => s.metrics }
    filesRead.addAndGet(scans.flatMap(_.get("numFiles")).map(_.value).sum)
    fileBytes.addAndGet(scans.flatMap(_.get("filesSize")).map(_.value).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def flush(): Unit = SparkInternals.flushListenerBus(spark.sparkContext)
}

/** One timed call. `layer` is the text before the first '.' of `name`;
  * `iter` groups the spans of one benchmark iteration. */
final case class Span(id: Int, name: String, iter: Int, parent: Int,
                      startMs: Double, endMs: Double, planningMs: Long,
                      codegenMs: Double, files: Long, fileBytes: Long,
                      attrs: Map[String, Double]) {
  def layer: String = name.takeWhile(_ != '.')
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spans held in memory and written as JSON when the run ends. With `on`
  * false (or no probe) every call runs bare, and `span` costs nothing. */
final class Tracer(spark: SparkSession, val probe: Option[Probe]) {
  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0
  var on: Boolean = false
  var iter: Int = -1
  /** Time spent in span bookkeeping outside the traced calls. */
  var costMs: Double = 0.0

  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  /** Run `f` inside span `name`. */
  def span[T](name: String)(f: => T): T = spanWith(name, (_: T) => Map.empty[String, Double])(f)

  /** [[span]], with `attrs` reading counts off the result. */
  def spanWith[T](name: String, attrs: T => Map[String, Double])(f: => T): T = probe match {
    case Some(p) if on =>
      val c0 = nowMs
      p.flush()
      val plan0 = p.planningMs.get(); val files0 = p.filesRead.get(); val bytes0 = p.fileBytes.get()
      val cg0 = CodeGenerator.compileTime
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = nowMs
      val out = try f finally stack.pop()
      val t1 = nowMs
      p.flush()
      spans += Span(id, name, iter, parent, t0, t1, p.planningMs.get() - plan0,
        (CodeGenerator.compileTime - cg0) / 1e6, p.filesRead.get() - files0,
        p.fileBytes.get() - bytes0, attrs(out))
      costMs += (t0 - c0) + (nowMs - t1)
      out
    case _ => f
  }

  def jobsIn(s: Span): Seq[JobRec] = probe.toSeq.flatMap(_.jobs.values.asScala)
    .filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs).sortBy(_.id)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = probe.toSeq.flatMap { p =>
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(p.stages.get(id)))
  }

  /** The spans, plus the Spark jobs seen (with call site and stages). */
  def toJson: String = {
    val ss = spans.toSeq.map(s => RawJson(Json.obj(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "iteration" -> s.iter,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "planning_ms" -> s.planningMs, "codegen_ms" -> s.codegenMs,
      "files_read" -> s.files, "file_bytes" -> s.fileBytes, "attrs" -> s.attrs)))
    val js = probe.toSeq.flatMap(_.jobs.values.asScala).sortBy(_.id).map(j => RawJson(Json.obj(
      "id" -> j.id, "site" -> j.site, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stageIds)))
    Json.obj("spans" -> ss, "jobs" -> js)
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case xs: Array[_] => arr(xs.toSeq)
    case raw: RawJson => raw.text
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}

final case class RawJson(text: String)
