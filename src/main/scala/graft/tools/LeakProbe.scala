package graft.tools

import org.apache.spark.sql.types.LongType

/** Diagnostic: run every registry query in map-iteration order (same as
  * graft.Verify) and after each one re-read events.parquet, reporting the
  * first query that leaves the session in a state where the nanos `ts`
  * column no longer reads back as long. Also diffs runtime SQL confs.
  */
object LeakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.get("ERROR")

    def tsType(): String =
      try spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType.toString
      catch { case e: Throwable => s"READ-FAIL: ${e.getMessage.take(120)}" }

    var baseline = spark.conf.getAll
    // default-resolution oracle for the benign-materialization label:
    // one child session (same context, clean conf), built once
    val fresh = spark.newSession()
    println(s"[probe] initial ts type: ${tsType()}")
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
      catch { case e: Throwable =>
        println(s"[probe] $name threw: ${e.getMessage.take(160).replace('\n', ' ')}")
      }
      val t = tsType()
      if (t != "LongType")
        println(s"[probe] AFTER $name ts type = $t")
      val now = spark.conf.getAll
      val changed = (now.keySet ++ baseline.keySet).filter(k => now.get(k) != baseline.get(k))
      if (changed.nonEmpty) {
        // save/restore code written as getOption-then-set materializes a
        // conf's DEFAULT as an explicit entry (getOption resolves
        // defaults for registered confs): the value never changed, but
        // getAll starts reporting the key. Label ONLY the
        // None -> Some(default) shape as benign — a Some(custom) ->
        // Some(default) transition is a real restore and must not be
        // skimmed past under the benign tag.
        changed.toSeq.sorted.foreach { k =>
          val default = scala.util.Try(fresh.conf.get(k)).toOption
          val benign = baseline.get(k).isEmpty &&
            now.get(k).isDefined && now.get(k) == default
          val tag = if (benign) " (= default, benign materialization)" else ""
          println(s"[probe] AFTER $name conf $k: ${baseline.get(k)} -> ${now.get(k)}$tag")
        }
        baseline = now
      }
    }
    spark.stop()
  }
}
