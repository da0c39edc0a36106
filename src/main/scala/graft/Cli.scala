package graft

import org.apache.spark.sql.SparkSession

/** CLI front-end mirroring the reference's `sling run` verbs:
  *
  *   runMain graft.Cli task <task.yaml> [sfDir]          one stream
  *   runMain graft.Cli replication <repl.yaml> <targetRoot> [sfDir]
  *   runMain graft.Cli pipeline <pipeline.yaml> [sfDir]  ordered steps
  *   runMain graft.Cli discover <pattern> [sfDir]        list streams
  *   runMain graft.Cli conns list|test|discover <env.yaml> [NAME] [pattern]
  *
  * Each verb routes to the same engine modules the library exposes —
  * the CLI is only argument parsing plus a session.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Cli <task|replication|pipeline|discover> ...")
    val spark = GraftSession.get("ERROR")
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    // JSON string escape for interpolated free text (exception messages,
    // stream names): a quote or backslash would otherwise break consumers
    def j(s: String): String = {
      val quoted = graft.model.JsonText.quote(s)
      quoted.substring(1, quoted.length - 1)
    }
    def readFile(p: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
    args.head match {
      case "task" =>
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
        val rows = repl.TaskConfig.run(spark, readFile(args(1)), sfDir)
        println(s"""{"verb":"task","rows_in_target":$rows}""")
      case "run" =>
        // `run <path>`: a DIRECTORY runs every *.yaml/*.yml inside in name
        // order (the reference's directory run, suite.cli id=144 /
        // `--directory`); a file runs alone. Each config classifies by
        // content: `streams:` → replication, `steps:` → pipeline, else task.
        import scala.jdk.CollectionConverters._
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
        val p = java.nio.file.Paths.get(args(1))
        val files =
          if (java.nio.file.Files.isDirectory(p)) {
            val st = java.nio.file.Files.list(p)
            try st.iterator().asScala
              .filter(f => f.toString.endsWith(".yaml") ||
                f.toString.endsWith(".yml"))
              .toSeq.sortBy(_.getFileName.toString)
            finally st.close()
          } else Seq(p)
        require(files.nonEmpty, s"no yaml files under $p")
        files.foreach { f =>
          val text = readFile(f.toString)
          val fname = f.getFileName.toString
          if (text.matches("(?s).*(^|\\n)streams\\s*:.*")) {
            val compiled = repl.Replication.parse(text, sources.Tables.names)
            val out = repl.Replication.run(spark, sfDir, compiled,
              s"/tmp/graft-cli-run/${fname.replaceAll("\\.ya?ml$", "")}")
            println(s"""{"file":"${j(fname)}","streams":${out.size},"rows":${out.map(_._3).sum}}""")
          } else if (text.matches("(?s).*(^|\\n)steps\\s*:.*")) {
            val results = repl.Pipeline.run(spark, text)
            println(s"""{"file":"${j(fname)}","steps":${results.size},"ok":${results.forall(_.ok)}}""")
          } else {
            val rows = repl.TaskConfig.run(spark, text, sfDir)
            println(s"""{"file":"${j(fname)}","rows_in_target":$rows}""")
          }
        }
      case "replication" =>
        // optional `--streams a,b,tag:x` selection (suite.cli id=36/42)
        val rest = args.tail
        val si = rest.indexOf("--streams")
        val (positional, selectors) =
          if (si >= 0)
            (rest.take(si) ++ rest.drop(si + 2),
              rest.lift(si + 1).toSeq.flatMap(_.split(','))
                .map(_.trim).filter(_.nonEmpty))
          else (rest, Seq.empty[String])
        val sfDir = positional.lift(2).getOrElse("/root/testdata/sf0.001")
        val compiled = repl.Replication.select(
          repl.Replication.parse(readFile(positional(0)), sources.Tables.names),
          selectors)
        val out = repl.Replication.run(spark, sfDir, compiled, positional(1))
        out.foreach { case (st, mode, n) =>
          println(s"""{"stream":"${j(st)}","mode":"${j(mode)}","rows":$n}""")
        }
      case "pipeline" =>
        val results = repl.Pipeline.run(spark, readFile(args(1)))
        results.foreach(r =>
          println(s"""{"step":"${r.hook.kind}","ok":${r.ok}}"""))
      case "discover" =>
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
        sources.Discover.columns(spark, sfDir, Seq(args(1)))
          .collect().foreach { r =>
            println(s"""{"stream":"${j(r.getString(0))}","position":${r.getLong(1)},""" +
              s""""column":"${j(r.getString(2))}","type":"${j(r.getString(3))}"}""")
          }
      case "conns" =>
        // conns list <env.yaml> | conns test <env.yaml> <NAME>
        // | conns discover <env.yaml> <NAME> [pattern]
        // (ref cmd/sling/sling_cli.go conns verbs; connection.go registry)
        val registry = repl.Connections.parse(readFile(args(2)))
        args(1) match {
          case "list" =>
            registry.values.toSeq.sortBy(_.name).foreach { c =>
              println(s"""{"name":"${j(c.name)}","type":"${j(c.kind)}"}""")
            }
          case "test" =>
            val (ok, msg) = repl.Connections.test(
              repl.Connections.resolve(registry, args(3)))
            println(s"""{"name":"${j(args(3).toUpperCase)}","ok":$ok,"detail":"${j(msg)}"}""")
          case "discover" =>
            val streams = repl.Connections.discover(
              repl.Connections.resolve(registry, args(3)),
              args.lift(4).getOrElse("*"))
            streams.foreach(t => println(s"""{"stream":"${j(t)}"}"""))
          case other =>
            throw new IllegalArgumentException(s"unknown conns verb $other")
        }
      case other =>
        throw new IllegalArgumentException(s"unknown verb $other")
    }
  }
}
