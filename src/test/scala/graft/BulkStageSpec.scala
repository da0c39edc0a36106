package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.write.BulkStage

/** Golden renders for the staged bulk-load statements (Snowflake PUT/COPY
  * INTO, BigQuery load job) — offline-testable exactly like NativeTypes.
  */
class BulkStageSpec extends AnyFunSuite with SparkSuite {

  test("snowflake PUT: parallel upload, no recompression of staged parts") {
    assert(BulkStage.snowflakePut("file:///tmp/part-0001.parquet",
      "@DB.SCH.SLING_STAGING/t1", parallel = 4) ==
      "PUT 'file:///tmp/part-0001.parquet' @DB.SCH.SLING_STAGING/t1 " +
        "PARALLEL=4 AUTO_COMPRESS=FALSE")
  }

  test("snowflake COPY INTO parquet: abort-on-error, match by column name") {
    val sql = BulkStage.snowflakeCopyFromStageParquet("SCH.T1", "@SCH.STG/T1")
    assert(sql.startsWith("COPY INTO SCH.T1\nFROM @SCH.STG/T1"))
    assert(sql.contains("TYPE = PARQUET"))
    assert(sql.contains("ON_ERROR = ABORT_STATEMENT"))
    assert(sql.contains("MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE"))
  }

  test("snowflake COPY INTO csv: positional select, \\N null sentinel") {
    val sql = BulkStage.snowflakeCopyFromStageCsv("T1", Seq("a", "b", "c"),
      "@STG/T1")
    assert(sql.contains("COPY INTO T1 (a, b, c)"))
    assert(sql.contains("SELECT T.$1, T.$2, T.$3"))
    // two backslashes in the SQL text: snowflake resolves '\\N' to the \N
    // sentinel — a single '\N' would match the literal string "N"
    assert(sql.contains("NULL_IF = '\\\\N'"))
    assert(sql.contains("FIELD_OPTIONALLY_ENCLOSED_BY = '0x22'"))
  }

  test("snowflake staged load: create stage, one PUT per part, one COPY") {
    val stmts = BulkStage.snowflakeStagedLoad("T1", "DB.SCH.SLING_STAGING",
      Seq("/tmp/p0.parquet", "/tmp/p1.parquet"))
    assert(stmts.length == 4)
    assert(stmts.head == "CREATE STAGE IF NOT EXISTS DB.SCH.SLING_STAGING")
    assert(stmts(1).startsWith("PUT 'file:///tmp/p0.parquet' @DB.SCH.SLING_STAGING/T1"))
    assert(stmts(2).startsWith("PUT 'file:///tmp/p1.parquet' @DB.SCH.SLING_STAGING/T1"))
    assert(stmts(3).startsWith("COPY INTO T1"))
  }

  test("bigquery load job: golden JSON request body") {
    val json = BulkStage.bigqueryLoadJob("proj", "ds", "t",
      Seq("gs://bkt/stage/t/part-0000.parquet", "gs://bkt/stage/t/part-0001.parquet"))
    assert(json ==
      """{"configuration":{"load":{"destinationTable":{"projectId":"proj","datasetId":"ds","tableId":"t"},""" +
        """"sourceUris":["gs://bkt/stage/t/part-0000.parquet","gs://bkt/stage/t/part-0001.parquet"],""" +
        """"sourceFormat":"PARQUET","writeDisposition":"WRITE_APPEND"}}}""")
  }

  test("bigquery load job rejects unknown formats and dispositions") {
    intercept[IllegalArgumentException] {
      BulkStage.bigqueryLoadJob("p", "d", "t", Seq("gs://x"), sourceFormat = "XLSX")
    }
    intercept[IllegalArgumentException] {
      BulkStage.bigqueryLoadJob("p", "d", "t", Seq("gs://x"),
        writeDisposition = "WRITE_MAYBE")
    }
  }

  test("fast-path dispatch per dialect") {
    assert(BulkStage.fastPathFor("postgres") == "copy_stdin")
    assert(BulkStage.fastPathFor("snowflake") == "stage_put_copy")
    assert(BulkStage.fastPathFor("bigquery") == "load_job")
    assert(BulkStage.fastPathFor("sqlserver") == "bcp")
    assert(BulkStage.fastPathFor("azuresql") == "bcp")   // embeds MsSQLServerConn
    assert(BulkStage.fastPathFor("fabric") == "bcp")
    assert(BulkStage.fastPathFor("duckdb") == "http_load")
    assert(BulkStage.fastPathFor("motherduck") == "http_load")
    assert(BulkStage.fastPathFor("mysql") == "jdbc_batch")
  }

  test("bcp sentinel encode: delimiter/quote/CR/LF/empty round-trip") {
    val raw = "a,b\"c\r\nd"
    val enc = BulkStage.bcpEncode(raw)
    assert(enc == "a$~d$~b$~q$~c$~r$~$~n$~d")
    assert(!enc.contains(",") && !enc.contains("\"") &&
      !enc.contains("\n") && !enc.contains("\r"))
    assert(BulkStage.bcpEncode("") == "$~e$~") // bcp reads empty as NULL
    // decode = the REPLACE chain bcpRestoreSql performs in-database
    val dec = enc
      .replace(BulkStage.BcpDelimRep, ",").replace(BulkStage.BcpQuoteRep, "\"")
      .replace(BulkStage.BcpCarrRep, "\r").replace(BulkStage.BcpNewlRep, "\n")
    assert(dec == raw)
  }

  test("bcp distributed encode matches the scalar encoder") {
    import spark.implicits._
    val vals = Seq("a,b", "q\"x", "line1\nline2", "cr\rhere", "", "plain", null)
    val out = vals.toDF("s")
      .select(BulkStage.bcpEncodeCol(org.apache.spark.sql.functions.col("s")))
      .collect().map(r => Option(r.getString(0)))
    val expected = vals.map(v => Option(v).map(BulkStage.bcpEncode))
    assert(out.toSeq == expected)
  }

  test("bcp restore UPDATE: nested REPLACEs in sentinel order") {
    val sql = BulkStage.bcpRestoreSql("SCH.T1", Seq("v"))
    assert(sql.startsWith("UPDATE SCH.T1 SET v = "))
    assert(sql.contains("REPLACE(CONVERT(NVARCHAR(MAX), v), '$~d$~', ',')"))
    assert(sql.contains("'$~r$~', CHAR(13)"))
    assert(sql.contains("'$~n$~', CHAR(10)"))
    assert(sql.contains("'$~e$~', ''"))
  }

  test("bcp argv: golden flags — utf8 char mode, abort-on-first-error, skip header") {
    assert(BulkStage.sqlserverBcpArgs("SCH.T1", "/tmp/part0.csv",
      "db.host", 1433, "mydb") == Seq(
      "SCH.T1", "in", "/tmp/part0.csv",
      "-S", "tcp:db.host,1433", "-d", "mydb", "-t", ",", "-m", "1",
      // -c -C 65001: the staged parts are UTF-8 CSVs, not UTF-16LE (-w)
      "-c", "-C", "65001", "-q", "-b", "50000", "-F", "2", "-e", "/dev/stderr"))
  }
}
