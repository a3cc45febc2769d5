package graft.sources

import graft.SparkTestBase
import graft.etl.AspepRawFixture
import org.apache.spark.sql.functions._

/** `graft-excel` over workbooks of the synthesized raw directory: the
  * hermetic stand-in for ExcelSourceSpec, which reads the real ones.
  */
class ExcelSourceFixtureSpec extends SparkTestBase {

  private lazy val rawDir = AspepRawFixture.write("excel_source")

  test("graft-excel reads a single synthesized workbook with correct cells") {
    val df = spark.read.format("graft-excel")
      .option("path", s"$rawDir/aspep_2020.xlsx")
      .load()
    assert(df.columns.take(3).toSeq == Seq("_file", "_row", "c0"))
    // title, 11 blank rows, headers at 12-14, then US corrections first
    val us = df.filter(col("_row") === 15).head()
    assert(us.getAs[String]("c0") == "US")
    assert(us.getAs[String]("c1") == "Corrections")
    assert(us.getAs[String]("c2") == "5,017") // the raw cell, comma-grouped text
    assert(us.getAs[String]("c3") == "25085000")
    assert(df.count() == 15 + 20)
  }

  test("graft-excel over a directory of one .xlsx and one .xls: one partition per workbook") {
    val dir = new java.io.File(rawDir).getParentFile.toPath.resolve("mixed")
    java.nio.file.Files.createDirectories(dir)
    Seq("aspep_2020.xlsx", "aspep_2017.xls").foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$rawDir/$f"), dir.resolve(f),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val df = spark.read.format("graft-excel").option("path", dir.toString).load()
    assert(df.rdd.getNumPartitions == 2)
    val byFile = df.groupBy(col("_file")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFile == Map("aspep_2020.xlsx" -> 35L, "aspep_2017.xls" -> 34L))
    // 2017 has 10 columns (part-time hours), 2020 has 9 -> widened schema
    assert(df.columns.length == 2 + 10)
    assert(df.filter(col("_file") === "aspep_2020.xlsx" && col("c9").isNotNull).count() == 0)
    assert(df.filter(col("_file") === "aspep_2017.xls" && col("c9").isNotNull).count() == 3 + 20)
  }
}
