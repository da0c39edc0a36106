package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** VERDICT r18 item 5 probe: the td_dedup_ngram PPJoin join core is the
  * slowest td row — the join/window shapes ARE the algorithm, but §2/§3
  * still apply inside it. This probe answers, with numbers, the two
  * questions the verdict asked:
  *
  *  1. is the prefix-token self-join key skewed, or does the
  *     rarest-first prefix ordering bound group sizes as designed?
  *     (emits the prefix-group size distribution: max / p99 / p50 and
  *     the top groups, plus candidate-pair counts before/after
  *     distinct);
  *  2. would the verify join's build side (the full shingle-set table)
  *     fit a broadcast at bench scale? (emits the exact serialized-side
  *     estimate Spark compares against autoBroadcastJoinThreshold, plus
  *     raw byte sums).
  *
  * Replays the exact td_dedup_ngram construction (same fixture text,
  * same threshold/n) over the given scale dir. One JSON line to stdout.
  *
  * Usage: runMain graft.tools.NgramJoinProbe [sfDir]
  */
object NgramJoinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get("ERROR")

    val threshold = 0.7
    val n = 3
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // the query's construction, replayed (Dedup.ngramJaccardPairs
    // internals — kept in sync by eye; this is a probe, not a path)
    val sets = docs.select(col("doc_id").as("__id"),
        Dedup.shingleCol(col("text"), n).as("__sh"))
      .filter(size(col("__sh")) >= 1)
      .localCheckpoint()
    val ex = sets.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__g"))
    val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))
    val eps = 1e-9
    val ranked = ex.join(dfreq, "__g")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__id").orderBy(col("__df"), col("__g"))))
    val prefixes = ranked
      .filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - eps) + 1)
      .select(col("__g"), col("__id"), col("__sz"), col("__rk"))
      .localCheckpoint()

    val nDocs = sets.count()
    val totalGrams = ex.count()
    val prefixRows = prefixes.count()
    val groups = prefixes.groupBy("__g").agg(count(lit(1)).as("c"))
      .select(col("c")).localCheckpoint()
    val gStats = groups.agg(
      count(lit(1)).as("n_groups"), max("c").as("max"),
      expr("percentile(c, 0.99)").as("p99"),
      expr("percentile(c, 0.5)").as("p50")).head
    val topGroups = groups.orderBy(col("c").desc).limit(10)
      .collect().map(_.getLong(0)).mkString("[", ",", "]")
    // candidate volume: the equi-key product Σ C(group,2)-ish bound vs
    // what the position/length filters leave, vs post-distinct
    val alpha =
      ceil(lit(threshold / (1 + threshold)) * (col("a.__sz") + col("b.__sz")) - eps)
    val joined = prefixes.as("a").join(prefixes.as("b"),
      col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
    val candsRaw = joined.count()
    val candsFiltered = prefixes.as("a").join(prefixes.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
          col("b.__sz") >= lit(threshold) * col("a.__sz") - eps &&
          col("a.__sz") >= lit(threshold) * col("b.__sz") - eps &&
          (least(col("a.__sz") - col("a.__rk"), col("b.__sz") - col("b.__rk")) + 1) >= alpha)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val candsF = candsFiltered.count()
    val candsD = candsFiltered.distinct().count()
    // verify build side: what Spark would weigh against
    // autoBroadcastJoinThreshold (plan sizeInBytes of the sets frame),
    // plus the raw shingle payload
    val planSize = sets.queryExecution.optimizedPlan.stats.sizeInBytes
    val rawBytes = sets.select(
      sum(aggregate(col("__sh"), lit(0L),
        (acc, s) => acc + coalesce(length(s).cast("long"), lit(0L))))).head
      .getLong(0)
    val thresholdBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10m"))

    println(s"""{"probe":"ngram_join","sf":"$sfDir","docs":$nDocs,""" +
      s""""total_grams":$totalGrams,"prefix_rows":$prefixRows,""" +
      s""""prefix_groups":${gStats.getLong(0)},"group_max":${gStats.getLong(1)},""" +
      s""""group_p99":${gStats.getDouble(2)},"group_p50":${gStats.getDouble(3)},""" +
      s""""top_groups":$topGroups,""" +
      s""""cands_equi":$candsRaw,"cands_filtered":$candsF,"cands_distinct":$candsD,""" +
      s""""verify_build_plan_bytes":$planSize,"verify_build_raw_text_bytes":$rawBytes,""" +
      s""""auto_broadcast_threshold":$thresholdBytes}""")
    spark.stop()
  }
}
