package graft.tools

import org.apache.spark.sql.DataFrame

import graft.queries.TrainingData
import graft.sources.Tables

/** Stage-by-stage wall profile of the td_pipeline_refinedweb composition.
  * Drives the SAME [[TrainingData.refinedWebFixture]] /
  * [[TrainingData.refinedWebPipeline]] the gated row runs — the stage
  * `tap` hook times each stage's construction+materialization, so the
  * profiler can never silently measure a different pipeline than the one
  * the bench prices. (This tool is how the r17 O(n³) captured-lambda
  * Gopher regression was isolated — BASELINE.md round-17.)
  *
  * Usage: runMain graft.tools.RwProfile [sfDir]
  */
object RwProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get("ERROR")

    def tap(name: String, f: () => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      // stages the row leaves lazy (near_dup, budget) are forced through
      // localCheckpoint here so each stage's print is its own cost —
      // same computation, one extra materialization boundary
      val r = f().localCheckpoint()
      println(f"[rw] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = TrainingData.refinedWebFixture(
      Tables(spark, sfDir, "documents")).localCheckpoint()

    // per-primitive timings of the enrich stage's expressions — the
    // granularity that isolated the r17 Gopher O(n³) regression: a slow
    // aggregated "enrich" below points HERE to name the culprit
    {
      import org.apache.spark.sql.functions._
      import graft.functions.{TextAnalysis => TA, Urls}
      def prim(name: String)(df: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[rw] p_$name%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      prim("urlfilter")(Urls.urlFilter(docs, "url",
        blockedDomains = Seq("tracker.net"),
        scoredWords = Seq(("casino", 30), ("free", 25)), maxScore = 50))
      prim("langid")(docs.select(col("doc_id"),
        TA.langId(col("txt")).as("v")))
      prim("top2")(docs.select(col("doc_id"),
        TA.topNgramFraction(col("txt"), 2).as("v")))
      prim("dup3")(docs.select(col("doc_id"),
        TA.dupNgramFraction(col("txt"), 3).as("v")))
      prim("c4")(docs.select(col("doc_id"), TA.c4DocKeep(col("txt")).as("v")))
    }

    val t0 = System.nanoTime()
    TrainingData.refinedWebPipeline(docs, tap)
      .write.format("noop").mode("overwrite").save()
    println(f"[rw] total        ${(System.nanoTime() - t0) / 1e9}%8.2f s " +
      "(incl. final assembly)")
    spark.stop()
  }
}
