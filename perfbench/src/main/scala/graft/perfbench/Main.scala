package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.functions.{LangIdNgram, NgramLm, QualityModel}
import graft.model.TypeInference
import graft.queries.TrainingData
import graft.repl.{Replication, TaskConfig}
import graft.sources.{DeltaLite, Tables}

/** One benchmark run in a fresh JVM: set up a session, run a workload's
  * iterations through graft's public entry points (a cold first one, then
  * a fixed number of warm ones), and write per-iteration measurements to
  * `<out>/result.json` for `run.py` to check and summarise.
  *
  * {{{
  * Main --workload <name> --input <dir> --out <dir> --trace <0|1>
  * }}}
  *
  * With `--trace 1` a listener attributes Spark work to graft modules, warm
  * iterations alternate between the plain entry point and a traced
  * decomposition of the same work into per-layer calls, and the result
  * carries per-layer metrics.
  */
object Main {

  final case class Iter(k: Int, traced: Boolean, wallMs: Double, cpuMs: Double,
      writtenBytes: Long, layer: Map[String, Double], error: Option[String])

  /** A workload's iteration `k`; `tr` is set when it runs traced. */
  trait Workload {
    /** Warm iterations every run makes, whatever the host's speed, so a
      * faster and a slower program take their medians over the same
      * iterations. */
    def warm: Int
    def maxIters: Int = Int.MaxValue
    def iteration(k: Int, tr: Option[Tracer]): Unit
    /** Untimed work after iteration `k` (e.g. preserving its output). */
    def after(k: Int): Unit = ()
    /** Directory whose files written during an iteration are its output. */
    def targetRoot: File
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val n = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(master = s"local[$n]", cpus = n)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val env = Map[String, Any](
      "setup_s" -> setupS,
      "nproc" -> n,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    try {
      val result = env ++ run(spark, opt("workload"), opt("input"),
        out.toFile, opt("trace") == "1")
      Files.write(out.resolve("result.json"), Json(result).getBytes("UTF-8"))
    } finally spark.stop()
  }

  def run(spark: SparkSession, name: String, input: String, out: File,
      trace: Boolean): Map[String, Any] = {
    val n = Runtime.getRuntime.availableProcessors
    val wl: Workload = name match {
      case "el_csv_bulk" => new CsvBulk(spark, input, out)
      case "el_repl_incremental" => new ReplIncremental(spark, input, out, n)
      case "curate_corpus" => new CurateCorpus(spark, input, out)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val attr = new Attribution
    val tracer = new Tracer
    if (trace) {
      val l = new LayerListener(attr)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      tracer.onChange = s => spark.sparkContext.setLocalProperty(
        Modules.SpanProperty, s.orNull)
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val iters = collection.mutable.ArrayBuffer[Iter]()
    val runStart = System.nanoTime()
    // the workload's warm iterations, at least two when traced (one of
    // each kind); the time cap keeps a run on a very slow host inside its
    // time limit
    val warm = if (trace) math.max(2, wl.warm) else wl.warm
    def more(k: Int): Boolean = k <= warm && k < wl.maxIters &&
      (System.nanoTime() - runStart) < 120e9
    var k = 0
    var failed = false
    while (!failed && (k == 0 || more(k))) {
      // a traced run traces the first iteration, then alternates plain
      // and traced, so tracing overhead shows as their ratio
      val traced = trace && k % 2 == 0
      val tr = if (traced) Some(tracer) else None
      tracer.iter = k
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val before = attr.snapshot()
      attr.resetStages()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val classes0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      val startMs = System.currentTimeMillis()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { wl.iteration(k, tr); None }
        catch { case NonFatal(e) => Some(e.toString) }
      val t1 = System.nanoTime()
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      val (bytes, files) = writtenSince(wl.targetRoot, startMs)
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
          val after = attr.snapshot()
          val spans = tracer.spans.filter(_.iter == k).toSeq
          val wallMs = (t1 - t0) / 1e6
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          val spanMs = spans.groupMapReduce(s => s"${s.name}_ms")(_.ms)(_ + _)
          val self = tracer.selfMsByLayer(k).map { case (l, v) => s"$l.self_ms" -> v }
          (after.keySet ++ before.keySet).map(key =>
            key -> (after.getOrElse(key, 0.0) - before.getOrElse(key, 0.0))).toMap ++
            spanMs ++ self ++
            tracer.counts.map { case (c, v) => c -> v } ++ Map(
              "spark.codegen_classes" -> (CodegenMetrics
                .METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classes0).toDouble,
              // the compile-time histogram keeps a sample, not a sum:
              // compiles x sample mean approximates the iteration's total
              "spark.codegen_ms" -> compiles * CodegenMetrics
                .METRIC_COMPILATION_TIME.getSnapshot.getMean,
              "spark.stage_skew" -> attr.stageSkew,
              "spark.slot_busy_ratio" -> (after.getOrElse("spark.task_ms", 0.0) -
                before.getOrElse("spark.task_ms", 0.0)) / (wallMs * n),
              "bench.uncovered_ms" -> Tracer.uncoveredNs(spans, t0, t1) / 1e6,
              "write.bytes" -> bytes.toDouble,
              "write.files" -> files.toDouble)
        }
      tracer.counts.clear()
      iters += Iter(k, traced, (t1 - t0) / 1e6, cpuMs, bytes, layer, err)
      failed = err.nonEmpty
      if (!failed) wl.after(k)
      k += 1
    }
    val heapMb = liveHeapMb()
    Map("heap_live_mb" -> heapMb,
      // every span, as [name, start ms, end ms, parent index, iteration]
      // with times relative to the first iteration's start
      "spans" -> tracer.spans.map(s => Seq(s.name, (s.startNs - runStart) / 1e6,
        (s.endNs - runStart) / 1e6, s.parent, s.iter)).toSeq,
      "iterations" -> iters.map(i => Map[String, Any](
        "k" -> i.k, "traced" -> i.traced, "wall_ms" -> i.wallMs,
        "cpu_ms" -> i.cpuMs, "written_bytes" -> i.writtenBytes,
        "layer" -> i.layer, "error" -> i.error.orNull)).toSeq)
  }

  /** Heap in use after full collections. Spark's context cleaner drops
    * blocks and shuffle files of unreachable datasets on its own thread once
    * a collection has found them, so collect until the figure settles. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = used()
      rounds += 1
    } while (rounds < 8 && math.abs(cur - prev) > 1.0)
    cur
  }

  /** Bytes and files under `root` modified at or after `sinceMs`. */
  def writtenSince(root: File, sinceMs: Long): (Long, Long) =
    if (!root.exists) (0L, 0L)
    else {
      val st = Files.walk(root.toPath)
      try st.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.lastModified >= sinceMs)
        .foldLeft((0L, 0L)) { case ((b, c), f) => (b + f.length, c + 1) }
      finally st.close()
    }

  private def span[T](tr: Option[Tracer], name: String)(f: => T): T =
    tr.fold(f)(_.span(name)(f))

  // ---- workloads ------------------------------------------------------------

  /** `TaskConfig.run` of the generated CSV → Delta-lite full-refresh task,
    * into a fresh target per iteration. Traced, the same task runs as its
    * layer calls: parse, source open, inference, pipeline plan, a noop
    * drain of the transformed frame, the Delta-lite commit and the count. */
  final class CsvBulk(spark: SparkSession, input: String, out: File)
      extends Workload {
    private val src = new File(input, "csv").getAbsolutePath
    private val taskTpl = jsonField(new File(input, "spec.json"), "task")
    val targetRoot = new File(out, "tgt")
    val warm = 10

    def iteration(k: Int, tr: Option[Tracer]): Unit = {
      val tgt = new File(targetRoot, f"iter$k%03d").getAbsolutePath
      val yaml = taskTpl.replace("{src}", src).replace("{tgt}", tgt)
      tr match {
        case None => TaskConfig.run(spark, yaml, input)
        case Some(t) =>
          val task = t.span("repl.parse")(TaskConfig.parse(yaml))
          val raw = t.span("sources.open")(
            TaskConfig.readSource(spark, task.source, input))
          // the source holds its 900-row sample privately: take the same
          // sample again (untimed as model) and time inference on it
          val (sample, names) = t.span("bench.resample") {
            val strings = spark.read.option("header", "true")
              .option("escape", "\"").csv(src)
            (strings.limit(TypeInference.SampleSize).collect().toSeq,
              strings.columns.toSeq)
          }
          t.span("model.infer")(TypeInference.infer(sample, names))
          val df = t.span("transform.plan")(TaskConfig.applyPipeline(raw, task))
          t.span("sources.drain")(
            df.write.format("noop").mode("overwrite").save())
          t.span("write.commit")(DeltaLite.overwrite(df, tgt))
          t.span("write.count")(DeltaLite.read(spark, tgt).count())
      }
    }
  }

  /** `Replication.run` of the 10-stream replication against snapshot `k`
    * into one persistent target root: iteration 0 is the initial load,
    * later ones apply each snapshot's updated and new rows. */
  final class ReplIncremental(spark: SparkSession, input: String, out: File,
      n: Int) extends Workload {
    private val yaml = jsonField(new File(input, "spec.json"), "replication")
    val targetRoot = new File(out, "tgt")
    val warm = 2
    override val maxIters: Int = new File(input).listFiles()
      .count(_.getName.startsWith("snap"))

    def iteration(k: Int, tr: Option[Tracer]): Unit = {
      val sfDir = new File(input, f"snap$k%02d").getAbsolutePath
      val compiled = span(tr, "repl.parse")(Replication.parse(yaml, Tables.names))
      tr.foreach(_.count("repl.streams", compiled.streams.size))
      span(tr, "repl.run")(Replication.run(spark, sfDir, compiled,
        targetRoot.getAbsolutePath, threads = math.min(4, n)))
    }

    /** Keep iteration k's committed files for checking: hard links, so the
      * next merge's delete-and-swap leaves them in place. */
    override def after(k: Int): Unit = {
      val dst = new File(out, f"check/iter$k%03d").toPath
      val st = Files.walk(targetRoot.toPath)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val to = dst.resolve(targetRoot.toPath.relativize(p))
        Files.createDirectories(to.getParent)
        Files.createLink(to, p)
      } finally st.close()
    }
  }

  /** The composed CCNet and RefinedWeb pipelines over the generated corpus,
    * each result committed to parquet. Traced, CCNet runs stage by stage
    * (each stage materialised) and RefinedWeb through its `tap` hook. */
  final class CurateCorpus(spark: SparkSession, input: String, out: File)
      extends Workload {
    val targetRoot = new File(out, "tgt")
    val warm = 1
    Files.write(new File(out, "ccnet_oracle.sql").toPath,
      SparkEntry.oracleSql("td_pipeline_ccnet").getBytes("UTF-8"))

    def iteration(k: Int, tr: Option[Tracer]): Unit = {
      val ccOut = new File(targetRoot, f"ccnet/iter$k%03d").getAbsolutePath
      val rwOut = new File(targetRoot, f"rw/iter$k%03d").getAbsolutePath
      tr match {
        case None =>
          SparkEntry.queries("td_pipeline_ccnet")(spark, input)
            .write.parquet(ccOut)
          SparkEntry.queries("td_pipeline_refinedweb")(spark, input)
            .write.parquet(rwOut)
        case Some(t) =>
          t.span("functions.ccnet")(ccnetStaged(t, ccOut))
          t.span("functions.rw") {
            val docs = t.span("sources.open")(Tables(spark, input, "documents"))
            val rw = TrainingData.refinedWebPipeline(
              TrainingData.refinedWebFixture(docs),
              (stage, f) => t.span(s"functions.rw.$stage") {
                val d = f().localCheckpoint()
                val rows = d.count()
                t.count(s"functions.rw.$stage.rows_out", rows)
                d
              })
            t.span("functions.rw.assemble")(
              rw.orderBy("doc_id").write.parquet(rwOut))
          }
      }
    }

    /** `td_pipeline_ccnet`, one materialised stage per public call, then the
      * final join committed to `dst`. A copy of the plan in
      * `TrainingData.td_pipeline_ccnet` (queries/TrainingData.scala, the
      * `Q("td_pipeline_ccnet", ...)` entry): keep the two in step, or the
      * `functions.ccnet.*` split times a pipeline the program no longer
      * runs. */
    private def ccnetStaged(t: Tracer, dst: String): Unit = {
      val docs = t.span("sources.open")(Tables(spark, input, "documents"))
      val lid = t.span("functions.ccnet.langid") {
        val profiles = LangIdNgram.fitProfiles(docs, "lang", "text", n = 3, k = 40)
        LangIdNgram.classify(docs.select("doc_id", "text"), "doc_id", "text",
          profiles, n = 3, k = 40).select("doc_id", "pred_lang").localCheckpoint()
      }
      val ppl = t.span("functions.ccnet.ppl") {
        val lm = NgramLm.fit(docs.filter(col("lang") === "en").select("text"), "text")
        NgramLm.score(docs.select("doc_id", "text"), "doc_id", "text", lm)
          .withColumn("ppl_bucket", NgramLm.pplBucket(
            col("avg_logprob_micro"), -3400000L, -3600000L))
          .select("doc_id", "ppl_bucket").localCheckpoint()
      }
      val qm = t.span("functions.ccnet.quality") {
        val w = QualityModel.fitLogOddsMicro(
          docs.filter(col("lang") === "en").select("text"),
          docs.filter(col("lang") =!= "en").select("text"),
          "text", nBuckets = 1024)
        QualityModel.score(docs.select("doc_id", "text"), "doc_id", "text", w,
          nBuckets = 1024).select("doc_id", "keep").localCheckpoint()
      }
      t.span("functions.ccnet.assemble")(docs.select("doc_id")
        .join(lid, Seq("doc_id"), "left")
        .join(ppl, Seq("doc_id"), "left")
        .join(qm, Seq("doc_id"), "left")
        .withColumn("keep_final",
          coalesce(col("pred_lang") === "en", lit(false)) &&
            col("ppl_bucket") =!= "tail" && col("keep"))
        .orderBy("doc_id").write.parquet(dst))
    }
  }

  /** A top-level string field of a small JSON file. */
  private def jsonField(f: File, key: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get(key).asText()
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.model.JsonText.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case x: Int => x.toString
    case x: Long => x.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
