package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout. Queries are materialized through the noop sink so a
  * metadata-only count can't fake the work.
  */
object Bench {

  /** Representative slice of the operator inventory: scan/agg, pushdown
    * filter, multi-join, window, top-k, SQL surface, merge + CDC writers,
    * as-of join, sessionization, streaming window, text stats, LSH dedup,
    * similarity top-k, exact n-gram join, table-format write+pruned-scan.
    * The last two joined in round 8 (VERDICT r7 item 3): td_dedup_ngram was
    * the most expensive single operator with no regression tracking, and
    * op_delta_skipping covers the table-format metadata/stat-skipping path.
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q2_filter_project", "q3_join_agg", "q4_window_topn", "q5_topk",
    "q13_custom_sql", "mode_upsert", "mode_cdc_apply", "t_asof_join",
    "t_sessionize", "t_stream_window", "td_text_stats", "td_dedup_near",
    "td_sim_topk", "td_dedup_ngram", "op_delta_skipping")

  /** Round-14 additions (VERDICT r13 item 7): the shipped LLM-pipeline
    * family joins the gated set — decontamination (broadcast eval join),
    * IVF-PQ (its oracle-gate query: encode + probed ADC scan + refine +
    * in-query brute-force recall check), byte-level BPE counting
    * (partition-wise CPU), and C4 span dedup (span-hash groupBy).
    * Kept OUTSIDE `headline` so `total_legacy16` stays comparable
    * across rounds; their idle-box bands live in [[RefQueryNormMed]]
    * and BASELINE.md like everyone else's.
    */
  val extendedHeadline: Seq[String] = Seq(
    "td_decontaminate", "td_sim_ivfpq", "td_token_bpe",
    "td_quality_c4_spans",
    // second round-14 batch: exact-substring dedup (the family's largest
    // corpus-keyed shuffle), prefix-sum packing (the RDD two-pass scan),
    // and DSIR scoring (md5-bound CPU) — the three new operators whose
    // regressions would matter at scale. The samplers are trivial scans
    // and td_dedup_semantic runs on the fixed-size embeddings table, so
    // they stay out of the bench budget.
    "td_dedup_substr", "td_pack_sequences", "td_dsir_weights",
    // round-15 additions: the quality-model gate (second md5-bound corpus
    // fold — same cost family as DSIR scoring), rank-order n-gram
    // language ID (char-trigram explode + doc-keyed window — the
    // family's newest corpus-linear shuffle), and the LM-perplexity
    // gate (distributed bigram counts + three-way keyed score join).
    // td_mm_videodup_trim stays out (fixed 24-clip fixture, no corpus
    // scaling).
    "td_quality_model", "td_quality_langid_ngram", "td_quality_ppl",
    // round-16 additions: URL dedup (corpus-linear normalize + groupBy —
    // the stage crawl pipelines run before text dedup) and the composed
    // CCNet gate (langid + ppl + quality model chained — the composition
    // is the workload a real curation run executes, and a regression in
    // any stage or in their join shape shows up here). The fixed-fixture
    // rows (td_mm_imagedup_phash, td_token_bpe_learn's 9-word multiset)
    // stay out: no corpus scaling to track.
    "td_dedup_url", "td_pipeline_ccnet",
    // round-17 additions: the full RefinedWeb-order composed pipeline
    // (url filter/dedup + langid + gopher rails + near-dup + substr
    // dedup + domain cap + budget cut — the priciest row in the set and
    // the one a regression in ANY stage moves) and paragraph-level
    // fuzzy dedup (paragraph explode + collapse + banded LSH — the
    // family's newest corpus-keyed shuffle chain).
    "td_pipeline_refinedweb", "td_dedup_para")

  /** EL ingest throughput headlines (VERDICT r9 item 2): the product's
    * core extract-load path had correctness coverage but no tracked
    * rows/sec. Workload shape follows the reference's own tuning
    * constants (100k rows/file CSV, bulk-batched DB loads):
    *   - bench_ingest_csv: CSV parse + sample-based type inference +
    *     cast + metadata columns + staged parquet load (temp + swap);
    *   - bench_ingest_parquet: parquet scan + metadata columns + staged
    *     parquet load — isolates the non-parse part of the path;
    *   - bench_ingest_db: same CSV front half, staged bulk load into an
    *     embedded Derby target (the offline stand-in for the DB writers).
    */
  val ingestHeadline: Seq[String] =
    Seq("bench_ingest_csv", "bench_ingest_parquet", "bench_ingest_db")

  // ---- self-calibration (VERDICT r8 item 1, banded per r9 item 6) --------
  // Two fixed workloads measure the BOX, not the code, so every bench
  // artifact carries its own speed reference and round-over-round
  // comparisons stop needing manual "was the machine loaded?" adjudication:
  //   - calib_cpu_sec: single-threaded deterministic spin (xorshift64*,
  //     fixed iteration count) — pure scalar CPU speed;
  //   - calib_spark_sec: a pinned-partitioning in-memory Spark aggregation
  //     (range → hash-mix → groupBy) — scheduler + shuffle + codegen path
  //     at the same local[32] the queries use.
  // The reference is a BAND, not a point (r9's first idle run flagged
  // itself against placeholder point constants): [lo, hi] brackets the
  // median-of-5 observed across idle-box runs (BASELINE.md "Calibration").
  // Normalized totals use the band midpoint; `contended` fires on
  // band-exit, not on a fixed ±20% of a single reading.
  // Low edge widened 0.85 → 0.70 on 2026-08-16: after a box restart the
  // single-thread spin reads 0.73-0.77 s across three idle runs (loadavg
  // < 1.2, spark calib in-band, per-query spreads <= 1.25) — the HOST got
  // faster, which is not contention; normalization (spark-calib-driven)
  // already rescales totals for comparability. The slow edge (1.00) — the
  // side that actually detects a loaded box — is unchanged.
  // Low edge 0.70 → 0.65 later the same day: an idle-box round-15 run
  // read the spin at 0.691 (all four attempts fast-side by ~1%) while
  // spark calib sat in-band, band_out/polluted were empty, and
  // normalized per-query medians matched the r14 ledger — the spin
  // itself jitters ±10% on this host (0.69-0.84 observed same-day
  // idle), so the fast edge gets the jitter margin. Slow edge still
  // unchanged; a faster box remains not-contention by construction.
  val CalibCpuRefBand = (0.65, 1.00)
  val CalibSparkRefBand = (0.30, 0.46)

  // ---- per-query reference bands (VERDICT r12 item 3) ----------------------
  // The round-robin spread detector is blind to a SUSTAINED pressure
  // window covering every interleaved sample of one query: r12's
  // td_dedup_ngram shipped at ~8.1 s raw against its 3.89–4.82 s box
  // band with spread 1.02. Second detector: each committed NORMALIZED
  // median must sit under its recorded idle-box reference median ×
  // BandHiFactor (BASELINE.md "Per-query reference bands", r13). A
  // query that exits gets re-sampled isolated; if it stays out, the
  // pass is flagged and re-run like a contended one. One-sided — a
  // faster box is never an error.
  val RefQueryNormMed: Map[String, Double] = Map(
    "q1_agg" -> 1.29, "q2_filter_project" -> 0.37, "q3_join_agg" -> 1.52,
    "q4_window_topn" -> 0.48, "q5_topk" -> 0.18, "q13_custom_sql" -> 0.87,
    "mode_upsert" -> 1.02, "mode_cdc_apply" -> 1.38, "t_asof_join" -> 1.04,
    "t_sessionize" -> 0.62, "t_stream_window" -> 1.51,
    "td_text_stats" -> 0.30, // r19 re-pin: CountInSet kernel (see below)
    // td_dedup_near gained the identical-text collapse in r15 (one
    // md5-keyed groupBy+join ahead of the signatures — the prepass that
    // caps N identical docs at O(N) output instead of C(N,2)).
    // Re-read on r16's all-gates-clean run per VERDICT r15 #7: the
    // round's idle-box readings sit at 2.22-2.28 norm (the 1.43 r15
    // reading was a one-off isolated measurement) — the prepass costs
    // ~30% normalized on this DUP-FREE corpus, the documented insurance
    // premium. Reference moved 1.65 → 2.22 to track the operator as
    // shipped.
    // r17 re-read (VERDICT r16 #4): 2.70 on the round's all-gates-clean
    // run vs 2.22-2.28 across r16 — ref moved to the midpoint of the
    // clean readings; the collapse-prepass premium is stable, the drift
    // is box noise on a 2-3 s query.
    // --- r18 re-pin (optimization round): every query the compiled
    // kernels touched moved its reference DOWN to the round's
    // all-gates-clean full-run median (2026-08-18 02:47, calib_spark
    // 0.362, band_out/polluted empty) so the bands keep detecting
    // regressions against the OPTIMIZED operators; untouched queries
    // keep their earlier (tighter) idle-box references. td_dedup_near's
    // re-pin also closes ADVICE r17 #3 — the 2.46 ref was loosened from
    // a single noisy reading; the operator now has a fresh clean-run
    // anchor (1.74) entirely below the old band.
    "td_dedup_near" -> 1.74, "td_sim_topk" -> 0.56,
    // --- r19 re-pin (optimization round 2): queries the r19 changes
    // moved (guard-deduplication Opaque barriers, LshPostings/
    // BigramPairs/VecResidual/CountInSet/C4Lines kernels, langid
    // one-exchange profile, RefinedWeb union-fold assembly) re-anchor
    // DOWN to the round's all-gates-clean full-run medians (2026-08-18
    // 06:57, calib_spark 0.415, attempt 1, band_out/polluted empty) so
    // the bands guard the optimized shapes; everything else keeps its
    // existing (tighter) anchor. td_dedup_near/para read flat at sf0.1
    // (overhead-bound; the halved per-row signature work shows at
    // scale, not here) and keep their r18 anchors.
    // (moved refs are the MAX of the round's two all-gates-clean full
    // runs — 06:57 calib 0.415 and the closing 07:45 calib 0.451 — so
    // they guard the optimized shape while tolerating clean-run
    // variance; queries this round did not move keep their r18 anchors)
    "td_dedup_ngram" -> 2.77, "op_delta_skipping" -> 1.19,
    "bench_ingest_csv" -> 1.95, "bench_ingest_parquet" -> 2.10,
    "bench_ingest_db" -> 3.10,
    "td_decontaminate" -> 0.65, "td_sim_ivfpq" -> 2.36,
    "td_token_bpe" -> 0.27, "td_quality_c4_spans" -> 0.71,
    "td_dedup_substr" -> 0.62, "td_pack_sequences" -> 0.36,
    "td_dsir_weights" -> 1.04,
    "td_quality_model" -> 0.90, "td_quality_langid_ngram" -> 1.85,
    "td_quality_ppl" -> 1.00,
    "td_dedup_url" -> 0.51, "td_pipeline_ccnet" -> 2.94,
    "td_pipeline_refinedweb" -> 3.97, "td_dedup_para" -> 2.15)
  val BandHiFactor = 1.6
  def CalibCpuRefSec: Double = (CalibCpuRefBand._1 + CalibCpuRefBand._2) / 2
  def CalibSparkRefSec: Double = (CalibSparkRefBand._1 + CalibSparkRefBand._2) / 2

  /** Single-threaded spin: xorshift64* over a fixed iteration count. The
    * blackhole return defeats JIT dead-code elimination. */
  def calibCpu(): (Double, Long) = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 400000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, acc)
  }

  /** Pinned 32-partition in-memory aggregation: 64M rows hashed into 1k
    * groups. Deterministic plan (no files, no AQE dependence on input
    * sizes); exercises codegen, partial agg, and one exchange. */
  def calibSpark(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0, 64L * 1024 * 1024, 1, 32)
      .select((xxhash64(col("id")) % 1024).as("g"), col("id"))
      .groupBy("g").agg(sum("id"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // ---- in-band ledger (VERDICT r15 item 1) --------------------------------
  // The artifact of record must be self-adjudicating: two rounds running,
  // the driver's closing bench landed inside a host-degradation window and
  // the committed JSON carried `contended: true`, leaving the
  // round-over-round comparison to prose notes in BASELINE.md. Now every
  // all-gates-clean FULL run persists its medians to this ledger file, and
  // a run that exhausts its attempts still flagged embeds the ledger's
  // last clean entry as `last_inband` in the emitted JSON — the flagged
  // artifact carries its own in-band reference. Subset runs
  // (SPARK_GRAFT_BENCH_ONLY) never write the ledger: their totals aren't
  // comparable to a full pass.
  def ledgerPath: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEDGER",
    new java.io.File(".bench_ledger.json").getAbsolutePath)
  def writeLedger(entry: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(ledgerPath),
      (entry + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] ledger write failed: $e") }
  def readLedger(): Option[String] =
    try {
      val p = java.nio.file.Paths.get(ledgerPath)
      if (java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
        if (s.startsWith("{")) Some(s) else None
      } else None
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.get("ERROR")

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    runOnce("q1_agg") // JVM/codegen warm-up, unmeasured

    // ROUND-ROBIN SAMPLING (VERDICT r9 item 1). The old scheme took each
    // query's N iterations in one contiguous window, so a transient
    // pressure window (GC, codegen-cache churn from a neighbor, a burst of
    // external load) landed on EVERY sample of ONE query and its median
    // shipped polluted (r9: td_sim_topk 8.29 s committed vs 1.27 s
    // isolated, `contended: false`). Now iterations interleave: R full
    // rounds across the whole set, one sample per query per round, median
    // taken across rounds — a pressure window pollutes at most one sample
    // of each query, which the median discards. Queries whose first-round
    // cost is ≥ fastCutoffSec stop sampling after `iters` rounds (their
    // medians need fewer samples and their reruns dominate wall time);
    // fast queries run all `fastIters` rounds.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val fastIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_ITERS", "7").toInt
    val fastCutoffSec = 2.0
    // optional comma-separated subset for targeted profiling
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq).getOrElse(headline ++ extendedHeadline)
    val ingestSelected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.filter(ingestHeadline.contains))
      .getOrElse(ingestHeadline)
    val querySelected = selected.filterNot(ingestHeadline.contains)
    // Contention telemetry (VERDICT r6 "What's wrong" #2): the r6 committed
    // artifact was 131 s on a loaded box vs 12.8 s for identical code on an
    // idle one. Record process-CPU vs wall and /proc/loadavg alongside the
    // timings so the harness can tell "slow code" from "loaded machine".
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def procCpuSec: Double = osBean.getProcessCpuTime / 1e9
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg
    def medianD(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

    def time(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    // ---- ingest workload setup (unmeasured): lineitem re-materialized as
    // headered CSV once; row count read from the parquet source
    val ingestBase = "/tmp/graft-bench-ingest"
    val ingestCsvDir = s"$ingestBase/lineitem_csv"
    val ingestDbCsvDir = s"$ingestBase/lineitem_csv_100k"
    // the DB workload is pinned at the reference's own CSV suite shape
    // (100k rows — its file_max_rows default and suite.cli id=127's file):
    // an embedded-Derby load is a single-node stand-in for the DB writers,
    // and rows/sec at a fixed row count is the comparable number
    val DbIngestRows = 100000L
    lazy val ingestRows: Long = {
      val li = graft.sources.Tables(spark, sfDir, "lineitem")
      li.write.mode("overwrite").option("header", "true").csv(ingestCsvDir)
      li.limit(DbIngestRows.toInt).coalesce(4)
        .write.mode("overwrite").option("header", "true").csv(ingestDbCsvDir)
      li.count()
    }
    lazy val ingestDbRows: Long = math.min(ingestRows, DbIngestRows)
    val ingestTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def withMeta(df: org.apache.spark.sql.DataFrame) =
      graft.transform.Meta.loadedAt(graft.transform.Meta.streamUrl(df), ingestTs)
    def ingestBody(name: String): Unit = name match {
      case "bench_ingest_csv" =>
        // the product EL path: parse + inference sample + cast + metadata
        // cols + staged (temp-then-swap) parquet load
        val df = graft.sources.FileSources.csv(spark, ingestCsvDir)
        graft.write.Modes.fullRefresh(
          graft.write.ParquetTarget(spark, s"$ingestBase/tgt_csv"), withMeta(df))
      case "bench_ingest_parquet" =>
        val df = graft.sources.Tables(spark, sfDir, "lineitem")
        graft.write.Modes.fullRefresh(
          graft.write.ParquetTarget(spark, s"$ingestBase/tgt_parquet"), withMeta(df))
      case "bench_ingest_db" =>
        val df = graft.sources.FileSources.csv(spark, ingestDbCsvDir)
        graft.sources.Jdbc.write(withMeta(df),
          s"jdbc:derby:$ingestBase/derbydb;create=true", "BENCH_INGEST",
          org.apache.spark.sql.SaveMode.Overwrite)
    }

    // One full measurement pass: calibration, round-robin sampling,
    // ingest rounds, metrics. Returns (flagged, inbandLedgerEntry,
    // compactJsonLine, diagJson) so the ledger guard below can re-run a
    // contended / out-of-band pass instead of committing it (VERDICT
    // r10 item 5 — the closing artifact must be an in-band run whenever
    // the box allows one) and persist a clean pass's medians for later
    // flagged artifacts to reference.
    def attemptRun(attempt: Int): (Boolean, String, String, String) = {
    // calibration before the measured queries (post-warm-up, so JIT and
    // Spark session startup don't pollute it); spark calib is median-of-5
    // after one discarded warm run (VERDICT r9 item 6)
    val calibCpuStart = medianD(Seq.fill(3)(calibCpu()._1))
    val calibSparkSec = { calibSpark(spark); medianD(Seq.fill(5)(calibSpark(spark))) }
    val wallStart = System.nanoTime()
    val cpuStart = procCpuSec

    // round-robin over the query set
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val active = scala.collection.mutable.LinkedHashSet(querySelected: _*)
    var round = 0
    while (round < fastIters && active.nonEmpty) {
      for (name <- querySelected if active.contains(name)) {
        samples(name) = samples(name) :+ time(name)(runOnce(name))
      }
      round += 1
      if (round >= iters)
        // slow queries keep their first `iters` samples; fast ones continue
        active.filterInPlace(n => samples(n).min < fastCutoffSec &&
          fastIters > iters)
    }
    // ingest workloads: measured after the query rounds (they write real
    // output, so their IO pressure shouldn't interleave with query samples),
    // still round-robin among themselves, `iters` rounds each
    if (ingestSelected.nonEmpty) {
      val _ = ingestRows // materialize the CSV before the first timed run
      var r2 = 0
      while (r2 < iters) {
        for (name <- ingestSelected)
          samples(name) = samples(name) :+ time(name)(ingestBody(name))
        r2 += 1
      }
    }

    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val orderedNames = querySelected ++ ingestSelected

    // normalization factor is known as soon as calibration ran — the
    // band check below compares normalized medians against the
    // recorded reference medians
    val sparkFactor = CalibSparkRefSec / calibSparkSec
    def runBody(name: String): Unit =
      if (ingestSelected.contains(name)) ingestBody(name) else runOnce(name)
    def isBandOut(name: String): Boolean =
      RefQueryNormMed.get(name).exists { ref =>
        median(samples(name)) * sparkFactor > ref * BandHiFactor }
    def isSpreadPolluted(name: String): Boolean = {
      val xs = samples(name)
      val med = median(xs)
      xs.length >= 3 && xs.min > 0 && med / xs.min > 2.0 && med - xs.min > 0.3
    }
    // RE-SAMPLE offenders before judging (VERDICT r12 item 3): three
    // extra isolated samples fold into the median — a transient window
    // that polluted the interleaved samples washes out; real slowness
    // survives and flags the pass
    val offenders = orderedNames.filter(n =>
      isBandOut(n) || isSpreadPolluted(n))
    offenders.foreach { n =>
      (1 to 3).foreach { _ => samples(n) = samples(n) :+ time(n)(runBody(n)) }
    }
    val resampledJson = offenders.map("\"" + _ + "\"").mkString("[", ",", "]")
    val bandOut = orderedNames.filter(isBandOut)
    val bandOutJson = bandOut.map("\"" + _ + "\"").mkString("[", ",", "]")

    val results = orderedNames.map { name =>
      val xs = samples(name)
      (name, median(xs), xs.min, xs.length)
    }
    val qs = results.map { case (k, med, _, _) => "\"" + k + f"\":$med%.3f" }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn, _) => "\"" + k + f"\":$mn%.3f" }
      .mkString("{", ",", "}")
    val ns = results.map { case (k, _, _, n) => "\"" + k + s"""\":$n""" }
      .mkString("{", ",", "}")
    // per-query spread = median/min: an honest query sits near 1; a query
    // whose median was polluted by box pressure shows a large spread.
    // `polluted` uses the SAME isSpreadPolluted predicate that triggered
    // re-sampling above (one set of thresholds: spread > 2, gap > 0.3 s,
    // n >= 3 — fewer samples measure jitter, not pollution), evaluated on
    // the post-resample samples, so "re-sample offenders before judging"
    // can't drift out of sync with the shipped gate (VERDICT r9 item 1,
    // r12 item 3).
    val spreads = results.map { case (k, med, mn, n) =>
      (k, if (mn > 0) med / mn else 1.0, med - mn, n) }
    val spreadJson = spreads.map { case (k, sp, _, _) => "\"" + k + f"\":$sp%.2f" }
      .mkString("{", ",", "}")
    val polluted = orderedNames.filter(isSpreadPolluted)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val ingestRates = if (ingestSelected.nonEmpty) {
      results.filter(r => ingestSelected.contains(r._1)).map {
        case (k, med, _, _) =>
          val n = if (k == "bench_ingest_db") ingestDbRows else ingestRows
          "\"" + k + s"""\":{"rows":$n,"sec":${f"$med%.3f"},"rows_per_sec":${(n / med).toLong}}"""
      }.mkString("{", ",", "}")
    } else "{}"
    val legacyTotal = results.filter(r => headline.contains(r._1)).map(_._2).sum
    val total = results.map(_._2).sum
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val cpuSec = procCpuSec - cpuStart
    val ratio = if (wallSec > 0) cpuSec / wallSec else 0.0
    // … and a second CPU spin after them, to catch load that arrived
    // mid-run (the r8 failure mode: loadavg 2.03 at start, flag silent)
    val calibCpuEnd = calibCpu()._1
    // normalized numbers: what this run WOULD have measured on the box the
    // reference band was recorded on. Spark factor normalizes the query
    // timings (they are Spark workloads; defined above, before the band
    // check); the CPU factor is reported for diagnosis. Factors < 1 mean
    // this box ran faster than reference.
    val cpuFactor = CalibCpuRefSec / medianD(Seq(calibCpuStart, calibCpuEnd))
    val totalNorm = total * sparkFactor
    val qsNorm = results.map { case (k, med, _, _) =>
      "\"" + k + f"\":${med * sparkFactor}%.3f" }.mkString("{", ",", "}")
    // contended when a calibration exits its idle-box band on the SLOW
    // side — box-speed variance that per-process cpu/wall ratio cannot
    // see — or the process itself was starved (< 0.5 cores average).
    // FAST-side exits are reported in calib_out_of_band (so band drift
    // stays visible in the ledger) but do not flag the pass: a faster
    // box is not contention by construction — normalization rescales
    // totals, the per-query band gate still judges the normalized
    // medians, and a drain-wait can never make a fast box slower (the
    // r15 failure mode: four attempts burned on a 1% fast-side exit).
    val calibDev = math.max(math.abs(calibCpuStart / CalibCpuRefSec - 1.0),
      math.abs(calibSparkSec / CalibSparkRefSec - 1.0))
    val cpuOut = calibCpuStart < CalibCpuRefBand._1 || calibCpuStart > CalibCpuRefBand._2
    val sparkOut = calibSparkSec < CalibSparkRefBand._1 || calibSparkSec > CalibSparkRefBand._2
    val outOfBand = cpuOut || sparkOut
    val slowOut = calibCpuStart > CalibCpuRefBand._2 ||
      calibSparkSec > CalibSparkRefBand._2
    // fast-side exits never flag (a faster box is not contention), but
    // they must be VISIBLE at run time, not only as calib_out_of_band in
    // the ledger: sustained fast-side drift (changed spin code, CPU
    // governor change) is how a stale band gets noticed (ADVICE r15)
    if (outOfBand && !slowOut) System.err.println(
      f"[bench] NOTICE: fast-side calibration exit (cpu $calibCpuStart%.3f" +
        f" band [${CalibCpuRefBand._1}%.2f,${CalibCpuRefBand._2}%.2f], spark" +
        f" $calibSparkSec%.3f band [${CalibSparkRefBand._1}%.2f," +
        f"${CalibSparkRefBand._2}%.2f]) — not flagging, but if this repeats" +
        " across days the reference band is stale; re-read it on an idle box")
    val contended = ratio < 0.5 || slowOut
    // the ledger entry this pass would record if it ships clean: the
    // normalized medians that next round's flagged artifacts fall back to
    val inbandEntry =
      f"""{"total_legacy16":$legacyTotal%.3f,"total_norm":$totalNorm%.3f,"queries_norm":$qsNorm,"calib_spark_sec":$calibSparkSec%.3f,"cpus":$cpus,"sf":"$sfDir","ts":"${java.time.Instant.now()}"}"""
    // the full gate (VERDICT r12 item 3): calibration bands (slow side)
    // AND the spread detector AND the per-query reference bands — a
    // pass ships clean only when all three agree it was a measurement.
    //
    // EMIT SPLIT (VERDICT r17 item 1, two rounds of `parsed: null`): the
    // old single stdout line carried every diagnostic map and outgrew
    // the driver's bounded tail capture, so no complete JSON line ever
    // survived to parse. The stdout line is now the COMPACT contract
    // (metric/value/unit/queries/sf + the headline gates, ~1.5 KB); the
    // full diagnostics ship as a second element, written to the sidecar
    // file and stderr by the emitter below — nothing is dropped, it
    // just no longer rides the parsed line.
    (contended || polluted != "[]" || bandOut.nonEmpty,
      inbandEntry,
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","stat":"round-robin median (rounds: $fastIters%d, slow>=${fastCutoffSec}%.0fs stop at $iters%d)","attempt":$attempt,"queries":$qs,"total_legacy16":$legacyTotal%.3f,"total_norm":$totalNorm%.3f,"calib_cpu_sec":$calibCpuStart%.3f,"calib_spark_sec":$calibSparkSec%.3f,"polluted":$polluted,"band_out":$bandOutJson,"contended":$contended,"sf":"$sfDir"}""",
      f"""{"attempt":$attempt,"queries_min":$mins,"queries_norm":$qsNorm,"iters":$ns,"spread":$spreadJson,"resampled":$resampledJson,"band_hi_factor":$BandHiFactor%.2f,"ingest":$ingestRates,"calib_cpu_end_sec":$calibCpuEnd%.3f,"calib_cpu_band":[${CalibCpuRefBand._1}%.2f,${CalibCpuRefBand._2}%.2f],"calib_spark_band":[${CalibSparkRefBand._1}%.2f,${CalibSparkRefBand._2}%.2f],"calib_out_of_band":$outOfBand,"calib_dev":$calibDev%.3f,"wall_sec":$wallSec%.1f,"proc_cpu_sec":$cpuSec%.1f,"cpu_wall_ratio":$ratio%.2f,"loadavg_start":"$loadStart","loadavg_end":"$loadavg","sf":"$sfDir"}"""
    )
    }

    // Ledger guard: a contended / out-of-band pass is measurement noise,
    // not a measurement — re-run after a cooldown and only emit a
    // flagged line when every attempt stayed flagged, with a loud
    // stderr warning so it cannot ship silently. Hardened after the r14
    // artifact of record shipped `contended: true` (a load window at
    // run start outlasted the old single 30 s cooldown while same-tree
    // idle runs existed): more attempts by default, and the cooldown
    // WAITS FOR THE BOX to actually drain — it polls the 1-minute
    // loadavg and a fresh CPU-calibration spin until both re-enter the
    // idle band (bounded at 4 minutes per retry), instead of sleeping a
    // fixed 30 s and re-measuring into the same pressure window.
    val maxAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "4").toInt
    // unparseable loadavg (non-Linux) reads as 0.0 = "unknown, don't
    // block" — the spin probe below still gates on actual slowness
    def loadavg1m: Double =
      try loadavg.split(",")(0).toDouble catch { case _: Throwable => 0.0 }
    def coolDown(): Unit = {
      val deadline = System.nanoTime() + 240L * 1000000000L
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        Thread.sleep(15000)
        val spin = calibCpu()._1
        // only the SLOW edge blocks: a spin under the fast edge means
        // the box is faster than the band, which is exactly the
        // condition a drain wait can never clear — waiting for the
        // machine to slow down would burn the full deadline for nothing
        ok = loadavg1m < 8.0 && spin <= CalibCpuRefBand._2
        System.err.println(f"[bench] cooldown probe: loadavg $loadavg1m%.1f" +
          f" calib_cpu $spin%.3f s (slow edge ${CalibCpuRefBand._2}%.2f)" +
          f" — ${if (ok) "drained" else "waiting"}")
      }
    }
    val fullRun = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty
    // full diagnostics sidecar (VERDICT r17 item 1): everything the old
    // oversized stdout line carried beyond the contract fields. Default
    // paths derive from the working directory, not an absolute literal
    // (ADVICE r18 #4), so the artifacts land next to the ledger on any
    // checkout.
    val diagPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIAG",
      new java.io.File("bench_diag.json").getAbsolutePath)
    // belt-and-braces copy of the stdout contract line (VERDICT r18 item
    // 2): if anything between the forked JVM and the driver's tail capture
    // mangles stdout again, the identical line is read back from this file
    val linePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE",
      new java.io.File("BENCH_LINE.json").getAbsolutePath)
    def emit(json: String, diag: String): Unit = {
      try java.nio.file.Files.write(java.nio.file.Paths.get(diagPath),
        (diag + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] diag sidecar write failed: $e") }
      try java.nio.file.Files.write(java.nio.file.Paths.get(linePath),
        (json + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] line artifact write failed: $e") }
      System.err.println(s"[bench] diag: $diag")
      println(json)
    }
    var attempt = 0
    var emitted = false
    while (!emitted) {
      attempt += 1
      val (flagged, inband, json, diag) = attemptRun(attempt)
      if (flagged && attempt < maxAttempts) {
        System.err.println(s"[bench] attempt $attempt contended/out-of-band" +
          s" (loadavg $loadavg) — waiting for the box to drain, then re-running")
        coolDown()
      } else if (flagged) {
        // attempts exhausted while flagged: emit the honest flagged line
        // WITH the ledger's last all-gates-clean medians inline (in the
        // DIAG sidecar — the compact line carries its total only), so
        // the artifact of record adjudicates itself (VERDICT r15 item
        // 1). Embed ONLY when the reference is comparable: this must be
        // a full run (a subset's totals mean nothing next to a full
        // pass's) at the same scale dir the ledger entry was recorded
        // on — an sf mismatch or subset run emits without a reference
        // rather than with an incomparable one.
        System.err.println(
          s"[bench] WARNING: all $attempt attempts flagged — emitting a " +
            "CONTENDED ledger line; re-run on an idle box before committing")
        val (jsonRef, diagRef) = readLedger() match {
          case Some(entry) if fullRun && entry.contains(s""""sf":"$sfDir"""") =>
            (json.dropRight(1) + s""","has_last_inband":true}""",
              diag.dropRight(1) + s""","last_inband":$entry}""")
          case _ => (json, diag)
        }
        emit(jsonRef, diagRef)
        emitted = true
      } else {
        // never let a DIFFERENT-core-count clean run clobber the ledger
        // the round-over-round comparison anchors on (the driver also
        // runs a low-core pass; found in r19 when an 8-core full run
        // overwrote the 32-core closing entry). Same cpus — or a legacy
        // entry without the field, or no ledger — still writes.
        val cpusOk = readLedger() match {
          case Some(prev) if prev.contains("\"cpus\":") =>
            prev.contains(s""""cpus":$cpus,""")
          case _ => true
        }
        if (fullRun && cpusOk) writeLedger(inband)
        emit(json, diag)
        emitted = true
      }
    }
    spark.stop()
  }
}
