package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.NativeTypes
import graft.write.DialectSql
import graft.write.DialectSql.MergeSpec

/** EXECUTES the duckdb-dialect renders against a REAL embedded DuckDB
  * (duckdb_jdbc, offline cache): NativeTypes DDL, the delete_insert
  * merge (duckdb's default strategy in the reference, duckdb.yaml),
  * the ON CONFLICT upsert shape, and the full staged-load pipeline —
  * Spark JDBC staging write + in-DB merge + distributed read-back —
  * so the duckdb/motherduck/ducklake dialect family graduates from
  * render-only to executed. */
class DuckdbExecSpec extends AnyFunSuite with SparkSuite {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType),
    StructField("amt", DoubleType)))

  private def ddl(table: String): String =
    s"CREATE TABLE $table (" + schema.fields.map(f =>
      s"${f.name} ${NativeTypes.render("duckdb", f)}").mkString(", ") + ")"

  test("rendered duckdb DDL + base delete_insert merge execute") {
    val c = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = c.createStatement()
      st.execute(ddl("dst"))
      st.execute(ddl("stg"))
      st.execute("INSERT INTO dst VALUES (1,'old1',1.0), (2,'old2',2.0), " +
        "(3,'old3',3.0)")
      st.execute("INSERT INTO stg VALUES (2,'new2',2.5), (3,'new3',3.5), " +
        "(4,'new4',4.5)")
      val spec = MergeSpec("dst", "stg", Seq("k"), Seq("k", "v", "amt"))
      DialectSql.mergeDeleteInsert(spec).foreach(st.execute)
      val rs = st.executeQuery("SELECT k, v FROM dst ORDER BY k")
      val out = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2))).toList
      assert(out == List(1L -> "old1", 2L -> "new2", 3L -> "new3",
        4L -> "new4"))
    } finally c.close()
  }

  test("the ON CONFLICT upsert render executes on a PK table") {
    val c = DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE dst (k bigint PRIMARY KEY, v varchar)")
      st.execute("CREATE TABLE stg (k bigint, v varchar)")
      st.execute("INSERT INTO dst VALUES (1,'old1'), (2,'old2')")
      st.execute("INSERT INTO stg VALUES (2,'new2'), (3,'new3')")
      val spec = MergeSpec("dst", "stg", Seq("k"), Seq("k", "v"))
      st.execute(DialectSql.sqliteUpsert(spec))
      val rs = st.executeQuery("SELECT k, v FROM dst ORDER BY k")
      val out = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2))).toList
      assert(out == List(1L -> "old1", 2L -> "new2", 3L -> "new3"))
    } finally c.close()
  }

  test("staged-load pipeline runs end-to-end: Spark JDBC stage write, " +
      "in-DB delete_insert merge, distributed read-back") {
    import graft.sources.Jdbc
    val db = java.nio.file.Files.createTempDirectory("duck")
      .resolve("t.duckdb")
    val url = s"jdbc:duckdb:$db"
    import spark.implicits._
    val base = Seq((1L, "old1", 1.0), (2L, "old2", 2.0), (3L, "old3", 3.0))
      .toDF("k", "v", "amt")
    Jdbc.write(base, url, "facts")
    val delta = Seq((2L, "new2", 2.5), (4L, "new4", 4.5))
      .toDF("k", "v", "amt").repartition(2)
    Jdbc.mergeStrategy(delta, url, "facts", Seq("k"), "delete_insert")
    val back = Jdbc.read(spark, url, "facts")
    assert(back.orderBy("k").collect().map(r =>
      (r.getAs[Number](0).longValue(), r.getString(1))).toSeq ==
      Seq(1L -> "old1", 2L -> "new2", 3L -> "old3", 4L -> "new4"))
  }
}
