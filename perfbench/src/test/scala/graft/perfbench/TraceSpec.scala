package graft.perfbench

import java.util.Properties

import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def stage(id: Int, details: String) =
    new StageInfo(id, 0, s"stage $id", 2, Seq.empty, Seq.empty, details,
      null, Seq.empty, None, 0, false, 0)

  private def props(kv: (String, String)*): Properties = {
    val p = new Properties
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private val writeSite =
    "graft.write.ParquetTarget.replaceWith(ParquetTarget.scala:44)\n" +
      "graft.write.Modes$.upsert(Modes.scala:95)\n" +
      "graft.repl.Replication$.$anonfun$run$4(Replication.scala:214)"
  private val replSite =
    "graft.repl.Replication$.$anonfun$run$4(Replication.scala:237)"
  private val benchSite =
    "graft.perfbench.Main$CsvBulk.iteration(Main.scala:210)"

  private def task(stageId: Int, ms: Long) =
    TaskSample(stageId, ms, ms * 0.5, 1L, 0L, 10L, 2L, 100L, 7L)

  test("call sites map to the package directory, with layer overrides") {
    assert(Modules.ofClass("graft.repl.TaskConfig$.run(TaskConfig.scala:1)") == "repl")
    assert(Modules.ofClass("graft.functions.expressions.TextGrams.eval(X.scala:1)") ==
      "functions")
    assert(Modules.ofClass("graft.sources.DeltaLite$.overwrite(DeltaLite.scala:9)") ==
      "write")
    assert(Modules.ofClass("graft.queries.TrainingData$.x(TrainingData.scala:9)") ==
      "functions")
    assert(Modules.ofClass("graft.ScaleGen$.main(ScaleGen.scala:1)") == "graft")
    assert(Modules.ofClass(benchSite) == "bench")
    assert(Modules.ofCallSite("java.lang.Thread.run(Thread.java:840)").isEmpty)
  }

  test("jobs take their SQL action's module, else their own, else the open span") {
    val a = new Attribution
    val l = new LayerListener(a)
    // an adaptive-execution job: no graft frame of its own, but its query
    // execution was started by the write layer's merge
    l.onOtherEvent(SparkListenerSQLExecutionStart(7L, None, "d", writeSite, "",
      null, 0L, Map.empty, Set.empty, None))
    l.onJobStart(SparkListenerJobStart(1, 0L,
      Seq(stage(10, "java.lang.Thread.run(Thread.java:840)")),
      props(SQLExecution.EXECUTION_ID_KEY -> "7",
        Modules.SpanProperty -> "repl.run")))
    // a post-load count the replication engine runs itself
    l.onJobStart(SparkListenerJobStart(2, 0L, Seq(stage(11, replSite)),
      props(Modules.SpanProperty -> "repl.run")))
    // the benchmark's own noop drain, inside a sources span
    l.onJobStart(SparkListenerJobStart(3, 0L, Seq(stage(12, benchSite), stage(13, benchSite)),
      props(Modules.SpanProperty -> "sources.drain")))
    // nothing to go by
    l.onJobStart(SparkListenerJobStart(4, 0L, Seq(stage(14, "")), null))
    Seq(10 -> 300L, 10 -> 100L, 11 -> 40L, 12 -> 25L, 13 -> 35L, 14 -> 5L)
      .foreach { case (s, ms) => a.task(task(s, ms)) }
    (10 to 14).foreach(s => l.onStageCompleted(SparkListenerStageCompleted(stage(s, ""))))

    val snap = a.snapshot()
    assert(snap("write.jobs") == 1 && snap("write.task_ms") == 400)
    assert(snap("repl.jobs") == 1 && snap("repl.task_ms") == 40)
    assert(snap("sources.jobs") == 1 && snap("sources.task_ms") == 60)
    assert(snap("other.jobs") == 1 && snap("other.task_ms") == 5)
    assert(snap("spark.jobs") == 4 && snap("spark.stages") == 5)
    assert(snap("spark.tasks") == 6 && snap("spark.task_ms") == 505)
    assert(snap("spark.task_cpu_ms") == 252.5)
    assert(snap("spark.shuffle_write_bytes") == 60)
    // stage 10: max 300 over median 300 of (100, 300); 13 and 14 one task
    assert(a.stageSkew == 1.0)
    a.task(task(10, 50))
    assert(a.stageSkew == 3.0)
    a.resetStages()
    assert(a.stageSkew == 1.0)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span("repl.run", 0L, 100L, -1, 0),
      Span("write.commit", 10L, 40L, 0, 0),
      Span("write.count", 30L, 60L, 0, 0), // overlaps its sibling
      Span("bench.gap", 70L, 80L, 0, 0),
      Span("model.infer", 120L, 150L, -1, 0))
    assert(Tracer.selfNs(spans) == Seq(100L - 50L - 10L, 30L, 30L, 10L, 30L))
    assert(Tracer.unionNs(Seq((5L, 10L), (0L, 3L), (2L, 6L), (20L, 20L))) == 10L)
    // iteration [0, 200): top-level spans cover 100 + 30
    assert(Tracer.uncoveredNs(spans, 0L, 200L) == 70L)
  }

  test("the tracer nests spans and reports the open span on every change") {
    val t = new Tracer
    val seen = collection.mutable.ArrayBuffer[Option[String]]()
    t.onChange = seen += _
    t.iter = 3
    val r = t.span("repl.run") {
      t.span("write.commit")(())
      t.span("write.count")(42)
    }
    assert(r == 42)
    assert(t.spans.map(s => (s.name, s.parent, s.iter)) ==
      Seq(("repl.run", -1, 3), ("write.commit", 0, 3), ("write.count", 0, 3)))
    assert(t.spans.forall(s => s.endNs >= s.startNs))
    assert(seen.toSeq == Seq(Some("repl.run"), Some("write.commit"), Some("repl.run"),
      Some("write.count"), Some("repl.run"), None))
    intercept[IllegalStateException](t.span("sources.open")(throw new IllegalStateException))
    assert(t.spans.last.endNs > 0 && seen.last.isEmpty)
  }

  test("per-layer self time of one iteration among several") {
    val t = new Tracer
    t.spans ++= Seq(
      Span("functions.rw", 0L, 1000000L, -1, 0),
      Span("functions.rw.enrich", 0L, 400000L, 0, 0),
      Span("functions.rw", 2000000L, 5000000L, -1, 1),
      Span("sources.open", 2000000L, 3000000L, 2, 1),
      Span("functions.rw.enrich", 3000000L, 4000000L, 2, 1))
    assert(t.selfMsByLayer(1) == Map("functions" -> 2.0, "sources" -> 1.0))
    assert(t.selfMsByLayer(0) == Map("functions" -> 1.0))
  }
}
