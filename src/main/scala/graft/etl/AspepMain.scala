package graft.etl

import org.apache.spark.sql.SparkSession

/** End-to-end ASPEP pipeline runner: combine -> derive -> extended,
  * writing the reference's artifact set (three pretty-JSON arrays,
  * process_aspep/definitions.py:14-21) plus year-partitioned parquet.
  *
  * usage: runMain graft.etl.AspepMain [rawDir] [outDir]
  */
object AspepMain {
  def main(args: Array[String]): Unit = {
    val rawDir = if (args.length > 0) args(0) else "/root/reference/data/raw"
    val outDir = if (args.length > 1) args(1) else "/tmp/aspep_out"
    val spark = graft.Harness.session()
    run(spark, rawDir, outDir)
    spark.stop()
  }

  /** The pipeline over the workbooks in `rawDir`, artifacts to `outDir`. */
  def run(spark: SparkSession, rawDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val combined = Canonical.combineYears(spark, rawDir).cache()
    println(s"[aspep] combined rows=${combined.count()} cols=${combined.columns.length}")
    Writers.prettyJsonArray(combined, s"$outDir/combined_data.json")

    val derived = DeriveStats.deriveStats(combined).cache()
    println(s"[aspep] derived rows=${derived.count()} cols=${derived.columns.length}")
    Writers.prettyJsonArray(derived, s"$outDir/aspep_with_derived_stats.json")

    val extended = ExtendedStats.deriveExtendedStats(derived)
    val extendedRows = extended.cache().count()
    println(s"[aspep] extended rows=$extendedRows cols=${extended.columns.length}")
    Writers.prettyJsonArray(extended, s"$outDir/aspep_with_extended_derived_stats.json")
    Writers.parquetByYear(combined, s"$outDir/combined_parquet")

    println(s"[aspep] artifacts written to $outDir")
  }
}
