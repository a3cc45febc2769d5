package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** OLS trend: closed-form fits on hand series (perfect line, flat
  * series, degenerate single month), the robustness CONTRAST with
  * Theil-Sen (one outlier month moves OLS but not the median of
  * slopes — the reason both estimators exist), and corpus-level
  * consistency between the two registered trend operators.
  */
class OlsTrendSpec extends SparkTestBase {

  private def run(rows: Seq[(String, Long, Long)]) = {
    import spark.implicits._
    Temporal.ols(rows.toDF("nation", "m", "rc")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
  }

  test("perfect line recovers exact slope with r = 1; flat series has slope 0 and null r") {
    // rc = 100 * (7m + 3) cents -> slope exactly 7.0 units/month
    val line = (1L to 10L).map(m => ("LINE", m, 100L * (7L * m + 3L)))
    val flat = (1L to 10L).map(m => ("FLAT", m, 500L))
    val single = Seq(("ONE", 5L, 1234L))
    val got = run(line ++ flat ++ single)
    assert(got("LINE") == ((10L, Some(7.0), Some(1.0))))
    assert(got("FLAT") == ((10L, Some(0.0), None)), "zero variance in y -> r undefined")
    assert(got("ONE") == ((1L, None, None)), "single month -> no fit")
  }

  test("negative trend and exact arithmetic on large cents values") {
    // rc = 100 * (1e9 - 2m): slope -2, magnitudes force the decimal lane
    val big = (1L to 24L).map(m => ("BIG", m, 100L * (1000000000L - 2L * m)))
    val got = run(big)
    assert(got("BIG")._2 == Some(-2.0))
    assert(got("BIG")._3 == Some(-1.0))
  }

  test("one outlier month moves OLS but not Theil-Sen — the robustness contrast") {
    import spark.implicits._
    val clean = (1L to 20L).map(m => ("N", m, 100L * m))
    val spiked = clean.map { case (n, m, rc) =>
      if (m == 10L) (n, m, rc * 1000L) else (n, m, rc) }
    val olsClean = run(clean)("N")._2.get
    val olsSpiked = run(spiked)("N")._2.get
    assert(olsClean == 1.0)
    assert(math.abs(olsSpiked - olsClean) > 5.0,
      s"OLS should chase the outlier, got $olsSpiked")
    val ts = Share.lineage(Temporal.theilSen(spiked.toDF("nation", "m", "rc"))
      .collect().head.getDouble(3))
    assert(ts == 1.0, s"Theil-Sen should ignore the outlier, got $ts")
  }

  test("corpus: same nations and month counts as theil_sen_trend; fits defined everywhere") {
    val o = Temporal.olsTrend(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    val t = Share.lineage(Temporal.theilSenTrend(spark, sf).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(o.keySet == t.keySet)
    o.foreach { case (n, (months, slopeNull, rNull)) =>
      assert(months == t(n))
      assert(!slopeNull && !rNull, s"nation $n should have a defined fit")
    }
  }
}
