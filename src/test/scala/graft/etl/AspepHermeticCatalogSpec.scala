package graft.etl

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AspepCatalogGoldenSpec's lifecycle over the synthesized 2003-2024 raw
  * directory ([[AspepRawFixture]]), its hermetic stand-in: one commit
  * plus one fast-append per later year, `derive_stats` committed from a
  * pinned snapshot, the last year republished as an equality delete on
  * `year` plus an append, and the stats maintained incrementally from a
  * pruned read of that year. The frames read through the final snapshot
  * must be row-complete against the direct pipeline and give the
  * hand-worked chain values of AspepHermeticGoldenSpec.
  */
class AspepHermeticCatalogSpec extends SparkTestBase {

  private lazy val root = "target/aspep_raw_fixture/catalog/snapcat"

  private lazy val combinedDirect: DataFrame =
    Canonical.combineYears(spark, AspepRawFixture.write("catalog")).cache()

  /** (combined, derived) both read through the final snapshot. */
  private lazy val served: (DataFrame, DataFrame) = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val cat = new SnapshotCatalog(root)
    val years = combinedDirect.select(col("year")).distinct()
      .collect().map(_.getInt(0)).sorted
    years.zipWithIndex.foreach { case (y, i) =>
      val slice = combinedDirect.filter(col("year") === y).coalesce(1)
      if (i == 0) cat.commit(Map("combined" -> slice),
        statsCols = Map("combined" -> Seq("year")))
      else cat.append(Map("combined" -> slice),
        statsCols = Map("combined" -> Seq("year")))
    }
    val ingest = cat.snapshot()
    cat.commitSerializable(ingest,
      Map("derived" -> DeriveStats.deriveStats(ingest.read(spark, "combined"))),
      readTables = Set("combined"))
    val maxY = years.last
    cat.deleteWhere(spark, "combined", "year", col("year") === maxY)
    cat.append(Map("combined" ->
        combinedDirect.filter(col("year") === maxY).coalesce(1)),
      statsCols = Map("combined" -> Seq("year")))
    val cur = cat.snapshot()
    val carried = cur.read(spark, "derived").filter(col("year") =!= maxY)
    val recomputed = DeriveStats.deriveStats(
      cur.readPruned(spark, "combined", "year", maxY, maxY))
    cat.commitSerializable(cur,
      Map("derived" -> carried.unionByName(recomputed)),
      readTables = Set("combined"))
    val fin = cat.snapshot()
    (fin.read(spark, "combined").cache(), fin.read(spark, "derived").cache())
  }

  private lazy val combined: DataFrame = served._1
  private lazy val derived: DataFrame = served._2
  private lazy val extended: DataFrame = ExtendedStats.deriveExtendedStats(derived).cache()

  private def check(df: => DataFrame, state: String, gf: String, year: Int,
      column: String, expected: Double): Unit =
    test(s"golden via catalog(hermetic): $state $gf $year $column = $expected") {
      val rows = df
        .filter(col("`state code`") === state && col("gov_function") === gf && col("year") === year)
        .select(col(s"`$column`")).collect()
      assert(rows.length == 1, s"expected 1 row, got ${rows.length}: $state/$gf/$year")
      assert(!rows.head.isNullAt(0) && rows.head.getDouble(0) == expected,
        s"expected $expected, got ${rows.head.get(0)}")
    }

  // the chain values of AspepHermeticGoldenSpec, served via the catalog;
  // the 2024 rows are the republished ones
  check(combined, "WI", "corrections", 2017, "total_pay", 42327514d)
  check(combined, "NE", "public welfare", 2022, "ft_employment", 2167d)
  check(combined, "MO", "corrections", 2024, "total_pay", 38884335d)
  check(derived, "WI", "hospitals", 2020, "pay_per_ft", 473139785d / 48767d)
  check(derived, "MO", "corrections", 2024, "pay_per_fte", 38884335d / 9591d)
  check(derived, "US-median", "public welfare", 2022, "ft_employment", (2167d + 2319d) / 2)
  check(extended, "IA", "hospitals", 2024, "ft_eq_employment_1yr_abs", 10004d - 9386d)
  check(extended, "IA", "hospitals", 2024, "ft_eq_employment_5yr_abs", 10004d - 9172d)
  check(extended, "NE", "public welfare", 2022, "ft_employment_5yr_abs", 2167d - 2426d)

  test("catalog serve is row-complete vs the direct pipeline (hermetic)") {
    assert(combinedDirect.count() == AspepRawFixture.years.length * AspepRawFixture.rowKeys.length)
    assert(combined.count() == combinedDirect.count())
    val byName = combinedDirect.columns.map(c => col(s"`$c`"))
    assert(combined.select(byName: _*).exceptAll(combinedDirect).count() == 0)
    // derived rows by key: a US-mean may sum its section in another order
    def keys(df: DataFrame) = df.select(col("`state code`"), col("year"), col("gov_function"))
    val direct = DeriveStats.deriveStats(combinedDirect)
    assert(derived.count() == direct.count())
    assert(keys(derived).exceptAll(keys(direct)).count() == 0)
  }

  test("the republished year is served from its appended dir, the delete kept in metadata (hermetic)") {
    combined.count()
    val s = new SnapshotCatalog(root).snapshot()
    assert(s.tables("combined").split('|').length >= AspepRawFixture.years.length + 1,
      "dir list must hold the per-year appends plus the republish")
    assert(s.deletes.getOrElse("combined", Nil).nonEmpty,
      "the republish must be merge-on-read metadata, not a rewrite")
  }
}
