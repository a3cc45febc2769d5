package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The DSv2 Excel source must agree with `ExcelReader` read directly.
  * Both tests read real workbooks and cancel, naming the file, where
  * it is absent; ExcelSourceFixtureSpec runs them over synthesized ones.
  */
class ExcelSourceSpec extends SparkTestBase {

  test("graft-excel reads a single workbook with correct cells") {
    Seq("aspep_2020.xlsx").map(f => s"/root/reference/data/raw/$f")
      .foreach(p => assume(new java.io.File(p).isFile, s"reference workbook not found: $p"))
    val df = spark.read.format("graft-excel")
      .option("path", "/root/reference/data/raw/aspep_2020.xlsx")
      .load()
    assert(df.columns.take(3).toSeq == Seq("_file", "_row", "c0"))
    val us = df.filter(col("_row") === 15).head()
    assert(us.getAs[String]("c0") == "US")
    assert(us.getAs[String]("c2") == "3941962")
    assert(df.count() == 1953)
  }

  test("graft-excel over a directory: one partition per workbook") {
    Seq("aspep_2020.xlsx", "aspep_2017.xls").map(f => s"/root/reference/data/raw/$f")
      .foreach(p => assume(new java.io.File(p).isFile, s"reference workbook not found: $p"))
    val dir = java.nio.file.Files.createTempDirectory("exceldir").toFile
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/data/raw/aspep_2020.xlsx"),
      java.nio.file.Paths.get(s"$dir/aspep_2020.xlsx"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/data/raw/aspep_2017.xls"),
      java.nio.file.Paths.get(s"$dir/aspep_2017.xls"))
    val df = spark.read.format("graft-excel").option("path", dir.toString).load()
    assert(df.rdd.getNumPartitions == 2)
    val byFile = df.groupBy(col("_file")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile("aspep_2020.xlsx") == 1953)
    assert(byFile("aspep_2017.xls") == 1952)
    // mixed widths: 2017 has 10 columns, 2020 has 9 -> widened schema
    assert(df.columns.length == 2 + 10)
    assert(df.filter(col("_file") === "aspep_2020.xlsx" && col("c9").isNotNull).count() == 0)
  }
}
