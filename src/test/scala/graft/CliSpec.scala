package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI verb routing over the library modules. */
class CliSpec extends AnyFunSuite with SparkSuite {

  private def tempFile(content: String, suffix: String): String = {
    val f = java.io.File.createTempFile("cli", suffix)
    java.nio.file.Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  test("task verb runs a yaml end to end") {
    val out = "/tmp/graft-test/cli_task"
    val yaml =
      s"""source:
         |  stream: region
         |target:
         |  object: $out
         |  mode: full-refresh
         |""".stripMargin
    Cli.run(spark, Seq("task", tempFile(yaml, ".yaml"), "/root/testdata/sf0.001"))
    assert(spark.read.parquet(out).count() == 5)
  }

  test("run verb on a directory executes every yaml inside, in name order") {
    val dir = java.nio.file.Files.createTempDirectory("cli_dir_run")
    def put(name: String, obj: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        s"""source:
           |  stream: region
           |target:
           |  object: /tmp/graft-test/cli_dir/$obj
           |  mode: full-refresh
           |""".stripMargin)
    put("a_first.yaml", "a")
    put("b_second.yml", "b")
    // a non-yaml file must be ignored
    java.nio.file.Files.writeString(dir.resolve("notes.txt"), "skip me")
    Cli.run(spark, Seq("run", dir.toString, "/root/testdata/sf0.001"))
    assert(spark.read.parquet("/tmp/graft-test/cli_dir/a").count() == 5)
    assert(spark.read.parquet("/tmp/graft-test/cli_dir/b").count() == 5)
  }

  test("replication --streams selects by name, wildcard, and tag") {
    import graft.repl.Replication
    val yaml =
      """defaults:
        |  mode: full-refresh
        |streams:
        |  region:
        |    tags: [dims]
        |  nation:
        |    tags: [dims]
        |  orders:
        |""".stripMargin
    val compiled = Replication.parse(yaml, graft.sources.Tables.names)
    assert(Replication.select(compiled, Seq("tag:dims"))
      .streams.map(_.name).sorted == Seq("nation", "region"))
    assert(Replication.select(compiled, Seq("orders"))
      .streams.map(_.name) == Seq("orders"))
    assert(Replication.select(compiled, Seq("r*", "n*"))
      .streams.map(_.name).sorted == Seq("nation", "region"))
    assert(Replication.select(compiled, Nil).streams.size == 3)
    intercept[IllegalArgumentException] {
      Replication.select(compiled, Seq("tag:nope"))
    }
    // end-to-end through the Cli flag
    val f = tempFile(yaml, ".yaml")
    Cli.run(spark, Seq("replication", f, "/tmp/graft-test/cli_repl_tags",
      "/root/testdata/sf0.001", "--streams", "tag:dims"))
    val fs = new java.io.File("/tmp/graft-test/cli_repl_tags")
    val written = fs.listFiles().map(_.getName).toSet
    assert(written.contains("region") && written.contains("nation")
      && !written.contains("orders"))
  }

  test("conns verbs: list, test, discover against embedded Derby") {
    val env =
      """connections:
        |  CLI_DB:
        |    type: derby
        |    instance: "memory:clidb"
        |  LOCAL_CAT:
        |    type: local
        |    path: /root/testdata/sf0.001
        |""".stripMargin
    val envFile = tempFile(env, ".yaml")
    // seed a table so discover finds it
    val c = java.sql.DriverManager
      .getConnection("jdbc:derby:memory:clidb;create=true")
    try c.createStatement()
      .executeUpdate("CREATE TABLE SEEDED (id INT)")
    catch { case _: java.sql.SQLException => () } finally c.close()
    Cli.run(spark, Seq("conns", "list", envFile))
    Cli.run(spark, Seq("conns", "test", envFile, "cli_db"))
    Cli.run(spark, Seq("conns", "discover", envFile, "CLI_DB", "SEED*"))
    Cli.run(spark, Seq("conns", "discover", envFile, "LOCAL_CAT", "reg*"))
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("conns", "test", envFile, "NOPE"))
    }
  }

  test("pipeline verb executes steps; discover lists columns") {
    val yaml =
      """steps:
        |  - type: log
        |    message: hello
        |  - type: check
        |    expression: "1 = 1"
        |""".stripMargin
    Cli.run(spark, Seq("pipeline", tempFile(yaml, ".yaml")))
    Cli.run(spark, Seq("discover", "reg*", "/root/testdata/sf0.001"))
    intercept[IllegalArgumentException] { Cli.run(spark, Seq("nope")) }
  }
}
