package graft.etl

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** A hermetic raw directory whose cross-sections are sums that depend
  * on their order: four legacy-layout years (2003-2006) and the 2024
  * tidy year, every state plus the national row, four functions, and
  * seeded cells mixing magnitudes from 0.1 to 1e9 (some empty), so
  * adding a cross-section's values in any order but one almost always
  * moves the last bits of its mean.
  */
object CrossSectionFixture {

  val functions: Seq[String] = Seq("Highways", "Libraries", "Parks", "Police")
  /** Every state name the recode knows, the national row included. */
  val states: Seq[String] =
    AspepConfig.stateCodeToName.values.toSeq.sorted.map(_.split(' ').map(_.capitalize).mkString(" "))

  private def cell(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => ""
    case k => (rnd.nextDouble() * Seq(0.1, 3.0, 1e3, 1e6, 1e9)(k % 5)).toString
  }

  private def dataRows(rnd: Random, width: Int): Seq[Seq[String]] =
    for (s <- states; f <- functions) yield Seq(s, f) ++ Seq.fill(width)(cell(rnd))

  private val legacyHeader: Seq[Seq[String]] = Seq(
    Seq("Annual Survey of Public Employment", "", "", "", ""),
    Seq("", "", "Full-Time", "Full-Time", "Part-Time"),
    Seq("State", "Function", "Employees", "Pay", "Hours"),
    Seq("", "", "", "(whole dollars)", ""))

  /** Write the directory and return its path. */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("aspep_xsection").toFile
    val rnd = new Random(61)
    (2003 to 2006).foreach { y =>
      XlsxFixture.writeXlsx(s"$dir/aspep_$y.xlsx", legacyHeader ++ dataRows(rnd, 3))
    }
    XlsxFixture.writeXlsx(s"$dir/aspep_2024.xlsx",
      AspepConfig.columnMap2024.map(_._1) +: dataRows(rnd, 8))
    dir.getPath
  }
}

/** The ASPEP artifacts are a function of their input alone: the
  * combine is one sorted partition, so every `US-mean` is its
  * cross-section summed in state order, and the three JSON artifacts
  * do not move with how many RDDs the session made before the combine
  * (a range sort's sampler is seeded by an RDD id). The year-partitioned
  * parquet is compared by content, not bytes: parquet-mr lists each
  * column chunk's encodings in hash-set order, so two equal writes can
  * differ in their footers (docs/DIVERGENCES.md item 9).
  */
class ArtifactDeterminismSpec extends SparkTestBase {

  private lazy val rawDir = CrossSectionFixture.write()

  private case class Run(combined: DataFrame, derived: DataFrame, artifacts: Seq[Array[Byte]],
      parquet: java.io.File)

  /** The pipeline as AspepMain runs it, after `unrelated` RDDs. */
  private def run(unrelated: Int): Run = {
    (1 to unrelated).foreach(i => spark.sparkContext.parallelize(Seq(i)).map(_ + 1))
    val combined = Canonical.combineYears(spark, rawDir, 2003, 2025).cache()
    val derived = DeriveStats.deriveStats(combined).cache()
    val extended = ExtendedStats.deriveExtendedStats(derived).cache()
    val out = java.nio.file.Files.createTempDirectory("aspep_determinism")
    val artifacts = Seq(combined, derived, extended).zipWithIndex.map { case (df, i) =>
      val path = out.resolve(s"artifact_$i.json")
      Writers.prettyJsonArray(df, path.toString)
      java.nio.file.Files.readAllBytes(path)
    }
    val parquet = out.resolve("combined_parquet").toFile
    Writers.parquetByYear(combined, parquet.getPath)
    extended.unpersist()
    Run(combined, derived, artifacts, parquet)
  }

  private lazy val first = run(0)

  /** Runs after 1 and 3 unrelated RDDs; only their outputs are kept. */
  private lazy val later: Seq[(Int, Run)] = Seq(1, 3).map { k =>
    val r = run(k)
    r.derived.unpersist()
    r.combined.unpersist()
    k -> r
  }

  /** Each `year=` partition of a parquet artifact: its rows in file
    * order, and the schema its files carry. */
  private def yearParts(dir: java.io.File): Seq[(String, String, Seq[Row])] =
    dir.listFiles().filter(_.getName.startsWith("year=")).map(_.getName).sorted.toSeq.map { y =>
      val df = spark.read.parquet(s"$dir/$y")
      (y, df.schema.json, df.collect().toSeq)
    }

  test("the combined frame is one partition") {
    assert(first.combined.rdd.getNumPartitions == 1)
    assert(first.combined.count() ==
      5 * CrossSectionFixture.states.length * CrossSectionFixture.functions.length)
  }

  test("every US-mean == a left-to-right fold over its cross-section in state order") {
    val derived = first.derived
    val stats = DeriveStats.statCols(derived)
    def key(r: Row) = (r.getAs[Int]("year"), r.getAs[String]("gov_function"))
    val bySection = derived.filter(col("state_scope") === "state").collect()
      .groupBy(key).map { case (k, rs) => k -> rs.sortBy(_.getAs[String]("state")).toSeq }
    val means = derived.filter(col("`state code`") === "US-mean").collect()
    assert(means.length == 5 * CrossSectionFixture.functions.length)
    assert(bySection.values.forall(_.length == CrossSectionFixture.states.length - 1))
    var checked = 0
    for (m <- means; c <- stats) {
      val xs = bySection(key(m)).map(r => Option(r.getAs[java.lang.Double](c)))
        .flatten.map(_.doubleValue)
      val want = if (xs.isEmpty) None else Some(xs.foldLeft(0.0)(_ + _) / xs.length)
      val got = Option(m.getAs[java.lang.Double](c)).map(_.doubleValue)
      assert(got == want, s"US-mean $c at ${key(m)}: got $got, want $want")
      if (want.isDefined) checked += 1
    }
    assert(checked >= 5 * CrossSectionFixture.functions.length * 3)
  }

  test("the three JSON artifacts are byte-identical after 0, 1 and 3 unrelated RDDs") {
    later.foreach { case (k, again) =>
      first.artifacts.zip(again.artifacts).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.util.Arrays.equals(a, b), s"artifact $i differs after $k unrelated RDDs")
      }
    }
  }

  test("combined_parquet has equal rows, schema and year partitions after 0, 1 and 3 unrelated RDDs") {
    val want = yearParts(first.parquet)
    assert(want.map(_._1) == (2003 to 2006).map(y => s"year=$y") :+ "year=2024")
    assert(want.map(_._3.length).sum == first.combined.count())
    later.foreach { case (k, again) =>
      val got = yearParts(again.parquet)
      assert(got.map(_._1) == want.map(_._1), s"year partitions differ after $k unrelated RDDs")
      got.zip(want).foreach { case ((y, schema, rows), (_, wantSchema, wantRows)) =>
        assert(schema == wantSchema, s"$y schema differs after $k unrelated RDDs")
        assert(rows == wantRows, s"$y rows differ after $k unrelated RDDs")
      }
    }
  }
}
