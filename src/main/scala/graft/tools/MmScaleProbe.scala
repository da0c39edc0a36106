package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{Multimodal, Similarity}

/** Scaling-evidence probe for the round-13 media/PQ surfaces
  * (BASELINE.md r13 table): each operator runs end-to-end over media
  * payloads synthesized from `documents.doc_id` with the same
  * arithmetic as the td_mm_* fixtures (solid rasters, animated GIFs,
  * PCM WAVs), plus the PQ ADC scan over the full embeddings table.
  * All four are partition-wise / broadcast-bounded, so sf0.1 → sf1
  * must scale ~linearly in rows. Median-of-3 warm runs; one JSON line.
  *
  * Usage: runMain graft.tools.MmScaleProbe [sfDir]
  */
object MmScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get("ERROR")

    def med3(f: => Unit): Double = {
      f // warm
      val xs = Seq.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      xs.sorted.apply(1)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val raster = udf { (d: Long) =>
      val fmt = (d % 3) match { case 0 => "png"; case 1 => "gif"; case _ => "bmp" }
      Multimodal.encodeSolid(fmt, 8 + (d % 24).toInt, 8 + (d % 16).toInt,
        (((d * 3 + 17) % 256).toInt, ((d * 7 + 31) % 256).toInt,
          ((d * 13 + 101) % 256).toInt))
    }
    val clip = udf { (d: Long) =>
      Multimodal.encodeAnimatedGif(16, 10,
        (0 until (1 + (d % 5).toInt)).map(f => ((d * 31 + f * 47) % 256).toInt))
    }
    val wav = udf { (d: Long) =>
      Multimodal.encodeWavPcm16(8000, 1 + (d % 2).toInt,
        800 + (d % 5).toInt * 80, 1000 + (d % 100).toInt * 10)
    }

    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"))
    val nDocs = docs.count()
    val out = collection.mutable.LinkedHashMap[String, Double]()

    out("mm_resize_pixels") = med3 {
      noop(Multimodal.pixelStats(
        Multimodal.resize(
          docs.select(col("doc_id"), raster(col("doc_id")).as("payload")),
          "payload", 24, 16), "payload"))
    }
    out("mm_frames") = med3 {
      noop(Multimodal.pixelStats(
        Multimodal.frameSample(
          docs.select(col("doc_id"), clip(col("doc_id")).as("payload")),
          "payload", every = 2), "frame"))
    }
    out("mm_audio") = med3 {
      noop(Multimodal.audioFeatures(
        docs.select(col("doc_id"), wav(col("doc_id")).as("payload")),
        "payload"))
    }

    val e = graft.sources.Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val nVecs = e.count()
    val q = e.filter(col("vec_id") < 20)
    out("sim_pq_adc") = med3 {
      noop(Similarity.pqTopK(q, e, "vec_id", "embedding", k = 5,
        m = 8, ksub = 32, kmeansIters = 3, refine = 16))
    }

    val qs = out.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"mm_scale","docs":$nDocs,"vectors":$nVecs,""" +
      s""""probes":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
