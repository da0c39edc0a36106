package graft

/** Plan review utility: prints the formatted physical plan of the given
  * queries (default: the Bench headline set) so pushdown, pruning, broadcast
  * choice, and codegen spans can be audited per round.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    // SPARK_GRAFT_EXPLAIN_NOAQE=1 prints the non-adaptive physical plan:
    // with AQE on, exchange reuse happens at RUNTIME (stage cache) and
    // the pre-execution dump shows duplicate Exchanges that never
    // actually run twice — the no-AQE plan makes the planning-time
    // ReusedExchange visible so reuse claims can be audited statically.
    val aqe = if (sys.env.contains("SPARK_GRAFT_EXPLAIN_NOAQE")) "false"
      else "true"
    val spark = GraftSession.builder()
      .config("spark.sql.adaptive.enabled", aqe)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
