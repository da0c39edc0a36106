package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime`; `parent` is the
  * index of the enclosing span in the same [[Tracer]] (-1 at top level). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
    iter: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call order on the calling thread;
  * nothing is written until the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[String, Double]()
  private var stack = List.empty[Int]
  var iter = 0
  /** Called with the innermost open span name on every enter and exit. */
  var onChange: Option[String] => Unit = _ => ()

  def span[T](name: String)(f: => T): T = {
    val idx = spans.size
    spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), iter)
    stack = idx :: stack
    onChange(Some(name))
    try f
    finally {
      stack = stack.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      onChange(stack.headOption.map(spans(_).name))
    }
  }

  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Self time of iteration `iter`'s spans summed per layer, in ms. */
  def selfMsByLayer(iter: Int): Map[String, Double] =
    Tracer.selfNs(spans.toSeq).zip(spans).filter(_._2.iter == iter)
      .groupMapReduce(_._2.layer)(_._1 / 1e6)(_ + _)
}

object Tracer {

  /** Self time per span: its duration minus the union of its children's
    * intervals (children may overlap when they run concurrently). */
  def selfNs(spans: Seq[Span]): Seq[Long] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val covered = unionNs(kids.getOrElse(i, Nil).map(k =>
        (spans(k).startNs max s.startNs, spans(k).endNs min s.endNs)))
      (s.endNs - s.startNs) - covered
    }
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `[startNs, endNs)` that no top-level span covers. */
  def uncoveredNs(spans: Seq[Span], startNs: Long, endNs: Long): Long =
    (endNs - startNs) - unionNs(spans.filter(_.parent < 0)
      .map(s => (s.startNs max startNs, s.endNs min endNs)))
}

/** Maps a Spark job to the graft module that caused it. A long call-site
  * form is a stack of user frames (`pkg.Class.method(File.scala:n)`); its
  * first frame under `graft.` names the package, whose directory is the
  * module. A job takes the module of the SQL action that started its query
  * execution (which also covers jobs that adaptive execution submits from
  * its own threads), else of its own call site; a job the benchmark submits
  * itself, or one with no graft frame, takes the layer of the span open when
  * it was submitted, else `other`. */
object Modules {
  /** Classes whose layer differs from their package directory: the
    * Delta-lite writer lives under sources, the composed curation
    * pipelines under queries. */
  private val overrides = Seq(
    "graft.sources.DeltaLite" -> "write",
    "graft.queries." -> "functions")

  /** Local property carrying the open span name into job-start events. */
  val SpanProperty = "graft.perfbench.span"

  def ofJob(sqlDetails: Option[String], details: String,
      openSpan: Option[String]): String =
    (sqlDetails.toSeq :+ details).iterator.flatMap(ofCallSite)
      .nextOption()
      .orElse(openSpan.map(_.takeWhile(_ != '.')))
      .getOrElse("other")

  /** The graft module named by a long call-site form, if any. */
  def ofCallSite(details: String): Option[String] =
    Option(details).getOrElse("").split('\n').iterator.map(_.trim)
      .collectFirst { case f if f.startsWith("graft.") => ofClass(f) }
      .filterNot(m => m == "bench" || m == "graft")

  def ofClass(frame: String): String =
    overrides.collectFirst { case (p, m) if frame.startsWith(p) => m }
      .getOrElse(frame.split('.').toSeq match {
        case Seq("graft", "perfbench", _*) => "bench"
        case Seq("graft", pkg, _, _*) if pkg.headOption.exists(_.isLower) => pkg
        case _ => "graft"
      })
}

/** What the listener keeps from one finished task. */
final case class TaskSample(stageId: Int, runMs: Long, cpuMs: Double,
    gcMs: Long, spillBytes: Long, shuffleWriteBytes: Long,
    fetchWaitMs: Long, inputBytes: Long, outputBytes: Long)

/** Aggregates Spark events by module: job and task counts and task time per
  * module, plus engine-wide totals. Fed by [[LayerListener]]; kept free of
  * Spark types past the event boundary so it can be driven directly. */
final class Attribution {
  private val stageModule = mutable.HashMap[Int, String]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val sqlDetails = mutable.HashMap[Long, String]()
  private val jobs = mutable.HashMap[String, Int]().withDefaultValue(0)
  private val taskMs = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val total = mutable.LinkedHashMap[String, Double]()

  private def add(k: String, v: Double): Unit =
    total(k) = total.getOrElse(k, 0.0) + v

  def sqlStart(executionId: Long, details: String): Unit = synchronized {
    sqlDetails(executionId) = details
  }

  def jobStart(stageIds: Seq[Int], details: String, executionId: Option[Long],
      openSpan: Option[String]): Unit = synchronized {
    val m = Modules.ofJob(executionId.flatMap(sqlDetails.get), details, openSpan)
    jobs(m) += 1
    add("spark.jobs", 1)
    stageIds.foreach(stageModule(_) = m)
  }

  def stageDone(): Unit = synchronized { add("spark.stages", 1) }

  def task(t: TaskSample): Unit = synchronized {
    val m = stageModule.getOrElse(t.stageId, "other")
    taskMs(m) += t.runMs
    stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += t.runMs
    add("spark.tasks", 1)
    add("spark.task_ms", t.runMs)
    add("spark.task_cpu_ms", t.cpuMs)
    add("spark.gc_ms", t.gcMs)
    add("spark.spill_bytes", t.spillBytes)
    add("spark.shuffle_write_bytes", t.shuffleWriteBytes)
    add("spark.shuffle_fetch_wait_ms", t.fetchWaitMs)
    add("spark.input_bytes", t.inputBytes)
    add("spark.output_bytes", t.outputBytes)
  }

  def query(planningMs: Double): Unit = synchronized {
    add("spark.plan_ms", planningMs)
  }

  /** Every counter so far, flat: engine totals plus `<module>.jobs` and
    * `<module>.task_ms`. Per-iteration values are differences. */
  def snapshot(): Map[String, Double] = synchronized {
    total.toMap ++
      jobs.map { case (m, n) => s"$m.jobs" -> n.toDouble } ++
      taskMs.map { case (m, t) => s"$m.task_ms" -> t.toDouble }
  }

  /** Forget per-stage task times, so [[stageSkew]] covers what follows. */
  def resetStages(): Unit = synchronized { stageTaskMs.clear() }

  /** Max over stages of (max task ms / median task ms), stages with ≥ 2
    * tasks and a non-zero median. 1.0 when no stage qualifies. */
  def stageSkew: Double = synchronized {
    val r = stageTaskMs.values.filter(_.size >= 2).flatMap { ts =>
      val s = ts.sorted
      val med = s(s.size / 2)
      if (med > 0) Some(s.last.toDouble / med) else None
    }
    if (r.isEmpty) 1.0 else r.max
  }
}

/** Spark listener + query-execution listener feeding an [[Attribution]]. */
final class LayerListener(val attr: Attribution) extends SparkListener
    with QueryExecutionListener {

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    attr.jobStart(e.stageInfos.map(_.stageId),
      e.stageInfos.headOption.map(_.details).getOrElse(""),
      prop(SQLExecution.EXECUTION_ID_KEY).map(_.toLong),
      prop(Modules.SpanProperty))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => attr.sqlStart(s.executionId, s.details)
    case _ => ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    attr.stageDone()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) attr.task(TaskSample(e.stageId, m.executorRunTime,
      m.executorCpuTime / 1e6, m.jvmGCTime,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val p = qe.tracker.phases
    attr.query(Seq("analysis", "optimization", "planning")
      .flatMap(p.get).map(_.durationMs.toDouble).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
