package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level profile of the exact n-gram Jaccard join at a given SF. */
object NgramProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get("ERROR")
    import graft.functions.Dedup
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ngram] $name%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val n = 3; val threshold = 0.7; val eps = 1e-9
    val sets = docs.select(col("doc_id").as("__id"),
      Dedup.shingleCol(col("text"), n).as("__sh"))
      .filter(size(col("__sh")) >= 1)
    val ex = sets.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__g"))
    println(s"[ngram] docs=${timed("count docs")(sets.count())} " +
      s"occurrences=${timed("count occurrences")(ex.count())}")
    val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))
    println(s"[ngram] vocab=${timed("distinct grams")(dfreq.count())}")
    val ranked = ex.join(dfreq, "__g")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__id").orderBy(col("__df"), col("__g"))))
    val prefixes = ranked.filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - eps) + 1)
      .select(col("__g"), col("__id"), col("__sz"), col("__rk"))
    println(s"[ngram] prefix rows=${timed("prefix build")(prefixes.count())}")
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a.__sz") + col("b.__sz")) - eps)
    val cands0 = prefixes.as("a").join(prefixes.as("b"),
      col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
        col("b.__sz") >= lit(threshold) * col("a.__sz") - eps &&
        col("a.__sz") >= lit(threshold) * col("b.__sz") - eps &&
        (least(col("a.__sz") - col("a.__rk"), col("b.__sz") - col("b.__rk")) + 1) >= alpha)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    println(s"[ngram] raw candidates=${timed("candidate join")(cands0.count())}")
    val cands = cands0.distinct()
    println(s"[ngram] distinct candidates=${timed("distinct")(cands.count())}")
    val out = timed("full operator")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold).count())
    println(s"[ngram] verified pairs=$out")
    // hypothesis: the 1-file scan serializes the shingle/explode stage
    println(s"[ngram] input partitions=${docs.rdd.getNumPartitions}")
    val setsPar = docs.repartition(32).select(col("doc_id").as("__id"),
      Dedup.shingleCol(col("text"), n).as("__sh"))
      .filter(size(col("__sh")) >= 1)
    val exPar = setsPar.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__g"))
    println(s"[ngram] par occurrences=${timed("par explode")(exPar.count())}")
    println(s"[ngram] par occurrences2=${timed("par explode warm")(exPar.count())}")
    val ex2 = sets.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__g"))
    println(s"[ngram] ser occurrences2=${timed("serial explode warm")(ex2.count())}")
    spark.stop()
  }
}
