package graft.etl

import graft.SparkTestBase

/** `AspepMain.run` over the synthesized raw directory
  * ([[AspepRawFixture]]) writes the three JSON artifacts and the
  * year-partitioned parquet, each with [[AspepFixtureModel]]'s record
  * count. */
class AspepMainSpec extends SparkTestBase {

  test("run writes the three JSON artifacts and the parquet with the model's record counts") {
    val outDir = "target/aspep_main_spec/out"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    AspepMain.run(spark, AspepRawFixture.write("main"), outDir)
    // prettyJsonArray opens each record on a line of its own
    def records(file: String): Long = {
      val lines = java.nio.file.Files.lines(java.nio.file.Paths.get(s"$outDir/$file"))
      try lines.filter(_ == "    {").count() finally lines.close()
    }
    assert(records("combined_data.json") == AspepFixtureModel.combined.size)
    assert(records("aspep_with_derived_stats.json") == AspepFixtureModel.derived.size)
    assert(records("aspep_with_extended_derived_stats.json") == AspepFixtureModel.extended.size)
    val parquet = spark.read.parquet(s"$outDir/combined_parquet")
    assert(parquet.count() == AspepFixtureModel.combined.size)
    assert(parquet.select("year").distinct().count() == AspepRawFixture.years.size)
  }
}
