package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The pandas-semantics traps from FIXTURES.md §5 / SURVEY.md §2.6,
  * pinned as hand fixtures against the exact expression patterns the
  * engine uses (W1-W4).
  */
class WindowSemanticsSpec extends SparkTestBase {
  import spark.implicits._

  private val cohort = Window.partitionBy("g")

  test("W3: min-tie rank with gaps — [9,9,7] desc -> [1,1,3]") {
    val df = Seq(("a", 9d), ("b", 9d), ("c", 7d)).toDF("id", "v").withColumn("g", lit(1))
    val w = cohort.orderBy($"v".desc_nulls_last)
    val got = df.select($"id", when($"v".isNotNull, rank().over(w)).as("r"))
      .orderBy("id").as[(String, Int)].collect()
    assert(got.toSeq == Seq(("a", 1), ("b", 1), ("c", 3)))
  }

  test("W3: null metric gets null rank, not last place — [5,null,3] -> [1,null,2]") {
    val df = Seq(("a", Some(5d)), ("b", None), ("c", Some(3d)))
      .toDF("id", "v").withColumn("g", lit(1))
    val w = cohort.orderBy($"v".desc_nulls_last)
    val got = df.select($"id", when($"v".isNotNull, rank().over(w)).as("r"))
      .orderBy("id").collect()
    assert(got(0).getInt(1) == 1)
    assert(got(1).isNullAt(1))
    assert(got(2).getInt(1) == 2)
  }

  test("W4: directional ranks — deltas [+10,+2,-1,-8,null]") {
    val df = Seq(("a", Some(10d)), ("b", Some(2d)), ("c", Some(-1d)),
      ("d", Some(-8d)), ("e", None)).toDF("id", "v").withColumn("g", lit(1))
    val pos = when($"v" > 0, $"v")
    val neg = when($"v" < 0, $"v")
    val wp = cohort.orderBy(pos.desc_nulls_last)
    val wn = cohort.orderBy(neg.asc_nulls_last)
    val got = df.select($"id",
        when(pos.isNotNull, rank().over(wp)).as("p"),
        when(neg.isNotNull, rank().over(wn)).as("n"))
      .orderBy("id").collect()
    // pos_rank: [1, 2, null, null, null]; neg_rank: [null, null, 2, 1, null]
    assert(got(0).getInt(1) == 1 && got(1).getInt(1) == 2)
    assert(got(2).isNullAt(1) && got(3).isNullAt(1) && got(4).isNullAt(1))
    assert(got(0).isNullAt(2) && got(1).isNullAt(2))
    assert(got(2).getInt(2) == 2 && got(3).getInt(2) == 1)
    assert(got(4).isNullAt(2))
  }

  // W3/W4 through the production path: ExtendedStats on a hand-built
  // derived frame (one cohort: year 2004, one gov_function)
  private def extended(rows: Seq[(String, Int, Option[Double])]) =
    graft.etl.ExtendedStats.deriveExtendedStats(
      rows.map { case (s, y, v) => (s, "highways", y, v) }
        .toDF("state code", "gov_function", "year", "ft_employment"))

  private def ranks(rows: Seq[(String, Int, Option[Double])], rank: String): Seq[Option[Int]] =
    extended(rows).filter($"year" === 2004).orderBy("state code")
      .select(col(rank)).as[Option[Int]].collect().toSeq

  test("W3 via ExtendedStats: min-tie rank with gaps — [9,9,7] -> [1,1,3]") {
    val rows = Seq(("a", 2004, Some(9d)), ("b", 2004, Some(9d)), ("c", 2004, Some(7d)))
    assert(ranks(rows, "ft_employment_rank") == Seq(Some(1), Some(1), Some(3)))
  }

  test("W3 via ExtendedStats: null metric gets null rank — [5,null,3] -> [1,null,2]") {
    val rows = Seq(("a", 2004, Some(5d)), ("b", 2004, None), ("c", 2004, Some(3d)))
    assert(ranks(rows, "ft_employment_rank") == Seq(Some(1), None, Some(2)))
  }

  test("W4 via ExtendedStats: directional ranks — 1yr deltas [+10,+2,0,-1,-8,null]") {
    val deltas = Seq(Some(10d), Some(2d), Some(0d), Some(-1d), Some(-8d), None)
    val rows = deltas.zipWithIndex.flatMap { case (d, i) =>
      val s = ('a' + i).toChar.toString
      Seq((s, 2003, Some(100d)), (s, 2004, d.map(100d + _)))
    }
    val got = extended(rows).filter($"year" === 2004).orderBy("state code")
      .select($"ft_employment_1yr_abs").as[Option[Double]].collect().toSeq
    assert(got == deltas)
    assert(ranks(rows, "ft_employment_1yr_abs_pos_rank") ==
      Seq(Some(1), Some(2), None, None, None, None))
    assert(ranks(rows, "ft_employment_1yr_abs_neg_rank") ==
      Seq(None, None, None, Some(2), Some(1), None))
  }

  test("W1: '5yr' is lag 4 rows, positional not temporal") {
    // year gap: 2019 missing — lag-4 of 2024 lands on 2019's *slot*,
    // i.e. the 4th previous AVAILABLE row (2018 here)
    val df = Seq((2015, 1d), (2016, 2d), (2017, 3d), (2018, 4d),
      (2020, 5d), (2024, 6d)).toDF("year", "v").withColumn("g", lit(1))
    val w = Window.partitionBy("g").orderBy("year")
    val got = df.select($"year", ($"v" - lag($"v", 4).over(w)).as("d5"))
      .orderBy("year").collect()
    val by = got.map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(by(2024) == Some(6d - 2d)) // 4 rows back = 2016, NOT year 2020
    assert(by(2018) == None)          // only 3 prior rows
    assert(by(2020) == Some(5d - 1d))
  }

  test("W2 pad mode: forward-filled pct_change matches pandas fill_method='pad'") {
    // pandas: s = [100, None, 110]; s.ffill() = [100, 100, 110];
    // pct_change(1, fill_method='pad') = [None, 0.0, 0.10]
    import graft.SparkTestBase
    val df = Seq(
      ("WI", "corrections", 2003, Some(100d)),
      ("WI", "corrections", 2004, None),
      ("WI", "corrections", 2005, Some(110d))
    ).toDF("state code", "gov_function", "year", "ft_employment")
    val out = graft.etl.ExtendedStats.deriveExtendedStats(df, padPct = true)
      .select($"year", $"ft_employment_1yr_pct").orderBy("year").collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getDouble(1) == 0.0)
    assert(math.abs(out(2).getDouble(1) - 0.10) < 1e-12)
    // plain mode: the null gap stays null
    val plain = graft.etl.ExtendedStats.deriveExtendedStats(df, padPct = false)
      .select($"year", $"ft_employment_1yr_pct").orderBy("year").collect()
    assert(plain(1).isNullAt(1) && plain(2).isNullAt(1))
  }

  test("W2: pct-change lag form — divide-by-zero and null lag give null") {
    val df = Seq((1, 0d), (2, 5d), (3, 10d)).toDF("t", "v").withColumn("g", lit(1))
    val w = Window.partitionBy("g").orderBy("t")
    val l1 = lag($"v", 1).over(w)
    val got = df.select($"t",
        (graft.functions.Cleaning.safeDiv($"v", l1) - 1).as("pct"))
      .orderBy("t").collect()
    assert(got(0).isNullAt(1))       // no previous row
    assert(got(1).isNullAt(1))       // previous is 0 -> null, not inf
    assert(got(2).getDouble(1) == 1d)
  }
}
