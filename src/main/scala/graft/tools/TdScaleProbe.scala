package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Dsir, LangIdNgram, Packing, QualityModel, Sampling}

/** Scaling-evidence probe for the round-14 text-family surfaces
  * (exact-substring dedup, prefix-sum packing, DSIR scoring,
  * deterministic sampling): each runs end-to-end over the `documents`
  * table of the given scale dir, so sf0.1 vs the ScaleGen-synthesized
  * sf1 gives the 10×-rows wall ratio. All four are corpus-linear by
  * design (one keyed shuffle for substr dedup, one range shuffle for
  * the prefix sum, zero shuffles for DSIR scoring and sampling), so
  * the ratio must stay ~linear. Median-of-3 warm runs; one JSON line.
  *
  * Usage: runMain graft.tools.TdScaleProbe [sfDir]
  */
object TdScaleProbe {
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

    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "lang")
    val nDocs = docs.count()
    val out = collection.mutable.LinkedHashMap[String, Double]()

    out("dedup_substr") = med3 {
      noop(Dedup.exactSubstrDedup(docs, "doc_id", "text", w = 50))
    }
    out("pack_sequences") = med3 {
      noop(Packing.packChunks(
        docs.select(col("doc_id"), size(split(col("text"), " ")).as("n")),
        "doc_id", "n", ctx = 512))
    }
    out("dsir_weights") = med3 {
      noop(Dsir.importanceWeights(
        docs.select("doc_id", "text"),
        docs.filter(col("lang") === "en").select("doc_id", "text"),
        "doc_id", "text", nBuckets = 1024))
    }
    out("sample_stratified") = med3 {
      noop(docs.filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
        Map("en" -> 0.75, "fr" -> 0.5, "de" -> 0.25))))
    }
    // round-15 additions: the quality-model SCORING fold (the fit is
    // bounded by contract — measured separately so the corpus-linear
    // part is what the ratio tracks) and the full langid classify
    // (fit + corpus classification; the fit aggregate is corpus-linear
    // too, so it belongs in the measured body)
    val qmWeights = QualityModel.fitLogOddsMicro(
      docs.filter(col("lang") === "en").select("text"),
      docs.filter(col("lang") =!= "en").select("text"),
      "text", nBuckets = 1024)
    out("quality_model_score") = med3 {
      noop(QualityModel.score(docs.select("doc_id", "text"),
        "doc_id", "text", qmWeights, nBuckets = 1024))
    }
    out("langid_ngram") = med3 {
      val profiles = LangIdNgram.fitProfiles(docs, "lang", "text",
        n = 3, k = 40)
      noop(LangIdNgram.classify(docs.select("doc_id", "text"),
        "doc_id", "text", profiles, n = 3, k = 40))
    }
    // the headline minhash near-dup (collapse prepass + signatures +
    // banded self-join + exact verify) — the family's other
    // corpus-keyed shuffle chain, probed end-to-end
    out("dedup_near") = med3 {
      noop(Dedup.nearDupPairs(docs.select("doc_id", "text"),
        "doc_id", "text", threshold = 0.8))
    }
    // perplexity gate: fit (two distributed counts) + join-based score
    out("ngram_ppl") = med3 {
      val lm = graft.functions.NgramLm.fit(
        docs.filter(col("lang") === "en").select("text"), "text")
      noop(graft.functions.NgramLm.score(docs.select("doc_id", "text"),
        "doc_id", "text", lm))
    }

    // round-16 additions: URL dedup (normalize expressions + one
    // url_norm-keyed groupBy + join — the crawl pipeline's first stage)
    // and the distributed BPE multiset build + 3 merge rounds (the
    // build pass is the corpus-linear part; the rounds work on the
    // bounded distinct-word multiset)
    out("url_dedup") = med3 {
      val urls = docs.select(col("doc_id"),
        concat(lit("https://www.Example.com/p/"),
          col("doc_id").cast("string"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("#f")))
          .as("url"))
      noop(graft.functions.Urls.dedupByUrl(urls, "doc_id", "url"))
    }
    out("bpe_learn") = med3 {
      val fx = docs.select(
        repeat(lit("a"), (lit(1) + col("doc_id") % 9).cast("int")).as("t"))
      graft.functions.Bpe.learnDistributed(fx, "t", numMerges = 3)
    }

    // round-17 additions: URL filtering (pure codegen scoring — the
    // zero-shuffle claim is the thing to evidence), the per-domain cap
    // on an even key mix, and the cap's worst-case skew shape (6/7 of
    // the corpus on ONE domain) demonstrating that the Partial
    // WindowGroupLimit truncates the mega-key map-side instead of
    // funneling its full row set through one window partition sort.
    out("url_filter") = med3 {
      val urls = docs.select(col("doc_id"),
        concat(lit("https://w"), pmod(col("doc_id"), lit(997)).cast("string"),
          lit(".example.org/a"), col("doc_id").cast("string")).as("url"))
      noop(graft.functions.Urls.urlFilter(urls, "url",
        blockedDomains = Seq("ads.example.org", "tracker.net"),
        scoredWords = Seq(("casino", 60), ("free", 30), ("spam", 50)),
        maxScore = 50))
    }
    out("cap_per_key") = med3 {
      val hosts = docs.select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(200)).cast("string"))
          .as("host"))
      noop(Sampling.capPerKey(hosts, "doc_id", "host", cap = 10))
    }
    out("cap_per_key_skew") = med3 {
      val hosts = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("h"), col("doc_id").cast("string")))
          .otherwise(lit("mega.com")).as("host"))
      noop(Sampling.capPerKey(hosts, "doc_id", "host", cap = 10))
    }

    // round-17: the alternating-star connected components, probed on
    // its two extreme shapes — a corpus-length CHAIN (worst diameter;
    // the shape min-label propagation could not close in bounded
    // rounds) and a star-group forest (the dedup-cluster common case).
    // Chain rounds grow like log2(n), so the 10x ratio carries one
    // extra ~3 rounds of fixed per-round cost, not 10x the work.
    val ccIds = docs.select(col("doc_id"))
    out("cc_chain") = med3 {
      noop(Dedup.connectedComponents(
        docs.select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b")).filter(col("id_b") < nDocs),
        ccIds, "doc_id"))
    }
    out("cc_groups") = med3 {
      noop(Dedup.connectedComponents(
        docs.select(col("doc_id").as("id_a"),
          (col("doc_id") - pmod(col("doc_id"), lit(5))).as("id_b"))
          .filter(col("id_a") =!= col("id_b")),
        ccIds, "doc_id"))
    }

    // round-19: the kernel-era shapes VERDICT r18 item 6 asked fresh sf1
    // rows for — every r17-era row above predates the compiled kernels.
    // Paragraph-level minhash (explode + collapse + fused banding), the
    // IVF-PQ encode+probe chain (VecResidual/ArgMinL2/SortedCells
    // kernels), and the sign-LSH postings kernel behind embedding dedup.
    out("dedup_para") = med3 {
      // the td_dedup_para fixture shape: boilerplate + per-doc paragraph
      // (+ planted near-dups on id mods), newline-delimited
      val id = col("doc_id")
      val paraDocs = docs.select(id, concat_ws("\n",
        lit("common boilerplate license header shared across this crawl corpus"),
        when(pmod(id, lit(13)) === 0, lit(""))
          .otherwise(lit(null).cast("string")),
        concat(lit("p"), id.cast("string"), lit(" "),
          array_join(slice(split(col("text"), " "), 1, 10), " ")),
        when(pmod(id, lit(10)) === 0,
          lit("planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta"))
          .when(pmod(id, lit(10)) === 5,
            lit("planted near duplicate paragraph alpha beta gamma delta epsilon zeta eta theta iota"))
          .otherwise(lit(null).cast("string"))).as("__t"))
      noop(graft.functions.Dedup.paraNearDupPairs(paraDocs,
        "doc_id", "__t", threshold = 0.8))
    }
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    out("sim_ivfpq") = med3 {
      val qs = emb.filter(col("vec_id") < 20)
      noop(graft.functions.Similarity.ivfpqTopK(qs, emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6, m = 8,
        ksub = 32, kmeansIters = 3, refine = 16))
    }
    out("dedup_embed") = med3 {
      noop(graft.functions.Dedup.embedNearDupPairs(emb,
        "vec_id", "embedding", threshold = 0.95))
    }

    val qs = out.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"td_scale","docs":$nDocs,"probes":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
