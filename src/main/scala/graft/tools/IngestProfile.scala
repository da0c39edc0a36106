package graft.tools

/** Diagnostic: stage-by-stage timing of the CSV ingest path, to attribute
  * bench_ingest_csv's cost (parse vs inference-cast vs staged write) and
  * validate the narrow-scan widening fix. Not part of the product surface.
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get("ERROR")
    val csvDir = args.headOption.getOrElse("/tmp/graft-bench-ingest/lineitem_csv")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // raw parse only (multiLine, no inference)
    val raw = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(csvDir)
    println(s"[profile] raw partitions: ${raw.rdd.getNumPartitions}")
    t("parse only (noop)") {
      raw.write.format("noop").mode("overwrite").save()
    }
    t("parse+count") { raw.count() }
    val inferred = t("graft csv() build (sample+infer)") {
      graft.sources.FileSources.csv(spark, csvDir)
    }
    t("graft csv -> noop (parse+cast)") {
      inferred.write.format("noop").mode("overwrite").save()
    }
    t("graft csv -> staged parquet") {
      graft.write.Modes.fullRefresh(
        graft.write.ParquetTarget(spark, "/tmp/graft-bench-ingest/profile_tgt"),
        inferred)
    }
    t("graft csv repartitioned -> noop") {
      inferred.repartition(32).write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
