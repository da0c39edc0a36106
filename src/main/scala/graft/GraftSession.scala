package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point, tool and test suite builds
  * its session here.
  *
  * Sized to the host by default (`SPARK_GRAFT_CPUS`, else the JVM's core
  * count), with settings that carry to a real cluster: AQE on (runtime
  * re-plan, skew-join splitting, partition coalescing), shuffle partitions
  * sized to cores rather than the 200 default, a codegen cache large enough
  * for the composed pipelines, and UTC session time so results are
  * oracle-comparable.
  */
object GraftSession {

  /** Entries in Spark's generated-class cache. One warm run of the CCNet
    * plus RefinedWeb pipelines needs about 600 distinct classes; Spark's
    * default of 100 makes the LRU thrash, so every run recompiles them
    * (seconds per run). It is a static conf: only the JVM's first session
    * sets it, which is why every session must come from this factory.
    */
  val CodegenCacheEntries = 5000

  /** `SPARK_GRAFT_CPUS`, else the cores this JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `master` defaults to `local[cpus]`. */
  def builder(cpus: Int = defaultCpus, master: String = ""): SparkSession.Builder =
    SparkSession.builder()
      .master(if (master.isEmpty) s"local[$cpus]" else master)
      .appName("graft")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // testdata events.parquet stores TIMESTAMP(NANOS); read as long and
      // convert explicitly (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(logLevel: String = "WARN"): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Apply graft runtime confs to an externally-created session (e.g. the
    * driver's Verify/Bench session). Safe to call repeatedly.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }
}
