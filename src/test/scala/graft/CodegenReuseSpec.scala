package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Warm runs of the composed curation pipelines reuse their generated
  * classes. They need more distinct classes than Spark's default codegen
  * cache (100 entries) holds, so with the default every run recompiles
  * hundreds of them; the factory's cache size is what keeps them.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def runPipelines(): Unit =
    Seq("td_pipeline_ccnet", "td_pipeline_refinedweb").foreach { name =>
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }

  private def classesGenerated(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    body
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - before
  }

  test("the shared session carries the factory's codegen cache size") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      GraftSession.CodegenCacheEntries)
  }

  test("a second ccnet + refinedweb run compiles almost no new classes") {
    // AQE numbers whole-stage codegen stages in the order it re-plans them,
    // which follows which concurrent stage finishes first; the number is
    // part of the class text, so with AQE a warm run still compiles a
    // timing-dependent handful of renumbered classes whatever the cache
    // size. Without AQE the plans, and so the classes, are the same each run.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val cold = classesGenerated(runPipelines())
      val warm = classesGenerated(runPipelines())
      assert(warm <= 5, s"warm run generated $warm classes (cold run: $cold)")
    }
  }
}
