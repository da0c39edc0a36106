package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence probe for the round-9/10 surfaces that are not
  * SparkEntry bench queries (BASELINE.md r10 table):
  *   - gopher_agg_long: [[graft.functions.TextAnalysis.gopherAuto]] over a
  *     long-document corpus (50k tokens/doc) — must dispatch to the
  *     aggregation plan and stay linear in corpus size;
  *   - jdbc_cdc_apply: events-derived CDC feed merged into a Derby target
  *     (`Jdbc.cdcApply` — delete + MERGE in one transaction);
  *   - cdc_bounded: the same feed as parquet files through
  *     `EventStream.cdcApplyBounded` (streaming foreachBatch apply).
  * Feed size scales with the sf dir (event_id % 20 slice), so sf0.1→sf1
  * gives the 10× point. Median-of-3 warm runs per probe; one JSON line.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [longDocs]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val longDocCount = args.lift(1).map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.get("ERROR")
    def med3(f: => Unit): Double = {
      f // warm
      val xs = Seq.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      xs.sorted.apply(1)
    }
    val out = collection.mutable.LinkedHashMap[String, Double]()

    // ---- gopher agg over long docs ----------------------------------------
    // sf1 dirs carry documents_long from ScaleGen; otherwise synthesize the
    // sf0.1-equivalent point (20 docs) in-memory with the same generator
    val longDocsDf: DataFrame = {
      val p = s"$sfDir/documents_long.parquet"
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(p))) spark.read.parquet(p)
      else graft.ScaleGen.longDocs(spark,
        if (longDocCount > 0) longDocCount else 20, 50000)
        .cache()
    }
    val nLong = longDocsDf.count()
    out("gopher_agg_long") = med3 {
      graft.functions.TextAnalysis.gopherAuto(longDocsDf, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }

    // ---- CDC feed (scales with sf) ----------------------------------------
    val events = graft.sources.Tables(spark, sfDir, "events")
    val slice = events.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val nFeed = slice.count()
    val feed = slice.withColumn("_sling_synced_op",
        when(col("event_id") % 200 === 0, "D").otherwise("U"))
      .withColumn("_sling_cdc_seq", col("event_id"))

    // Derby target seeded once (unmeasured); each measured run applies the
    // full feed (idempotent: same keys -> updates + deletes)
    val url = "jdbc:derby:memory:graft_scaleprobe;create=true"
    graft.sources.Jdbc.write(
      slice, url, "SP_TGT", org.apache.spark.sql.SaveMode.Overwrite,
      columnTypes = Map("event_type" -> "VARCHAR(40)"))
    out("jdbc_cdc_apply") = med3 {
      graft.sources.Jdbc.cdcApply(feed, url, "SP_TGT", Seq("event_id"),
        columnTypes = Map("event_type" -> "VARCHAR(40)"))
    }

    // bounded streaming apply over a 4-file parquet feed
    val scratch = "/tmp/graft-scaleprobe"
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    feed.repartition(4).write.parquet(s"$scratch/feed")
    out("cdc_bounded") = med3 {
      val t = graft.write.ParquetTarget(spark, s"$scratch/tgt")
      graft.write.Modes.fullRefresh(t, feed.filter(col("_sling_synced_op") =!= "D"))
      graft.streaming.EventStream.cdcApplyBounded(spark, s"$scratch/feed", t,
        Seq("event_id"))
      ()
    }

    val probes = out.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","long_docs":$nLong,"feed_rows":$nFeed,"probes":$probes}""")
    spark.stop()
  }
}
