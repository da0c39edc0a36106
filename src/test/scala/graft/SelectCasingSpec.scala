package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.transform.{Casing, Select}

class SelectCasingSpec extends AnyFunSuite with SparkSuite {

  private def df = {
    import spark.implicits._
    Seq((1, "a", 2.0, "x")).toDF("l_orderkey", "l_comment", "l_quantity", "other")
  }

  test("include list with rename") {
    assert(Select(df, Seq("l_orderkey", "l_quantity as qty")).columns.toSeq ==
      Seq("l_orderkey", "qty"))
  }

  test("glob include expands against columns, case-insensitive") {
    assert(Select(df, Seq("L_*")).columns.toSeq ==
      Seq("l_orderkey", "l_comment", "l_quantity"))
  }

  test("exclude-only keeps everything else") {
    assert(Select(df, Seq("-l_comment")).columns.toSeq ==
      Seq("l_orderkey", "l_quantity", "other"))
  }

  test("mixed include+exclude applies excludes after includes") {
    assert(Select(df, Seq("l_*", "-l_comment")).columns.toSeq ==
      Seq("l_orderkey", "l_quantity"))
  }

  test("@columns sentinel selects all") {
    assert(Select(df, Seq("@columns")).columns.toSeq == df.columns.toSeq)
  }

  test("casing rules") {
    assert(Casing.snake("MyColumnName") == "my_column_name")
    assert(Casing.snake("already_snake") == "already_snake")
    assert(Casing.camel("my_column_name") == "myColumnName")
    assert(Casing.clean("weird col%name") == "weird_col_name")
    assert(Casing(df, "upper").columns.toSeq ==
      Seq("L_ORDERKEY", "L_COMMENT", "L_QUANTITY", "OTHER"))
  }
}
