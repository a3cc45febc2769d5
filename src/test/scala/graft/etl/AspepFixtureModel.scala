package graft.etl

/** The three ASPEP artifacts over [[AspepRawFixture]], worked out from
  * its truth table in plain Scala, independent of the Spark pipeline:
  * `combine_years` (canonical cells, census dimension, per-year
  * `index`), `derive_stats` (safe ratios, null-skipping median and mean
  * of the state rows per (year, gov_function)) and
  * `derive_extended_stats` (positional 1- and 4-row lags per
  * (state code, gov_function) series, RANK() with min ties over each
  * (year, gov_function) cohort, directional ranks of the deltas).
  * A record maps each column to its value, null for a null cell.
  */
object AspepFixtureModel {
  import AspepRawFixture._

  type Record = Map[String, Any]

  private val dim: Map[String, (String, String, String)] = Map(
    "IA" -> ("Iowa", "Midwest", "West North Central"),
    "MO" -> ("Missouri", "Midwest", "West North Central"),
    "NE" -> ("Nebraska", "Midwest", "West North Central"),
    "WI" -> ("Wisconsin", "Midwest", "East North Central"))

  val ratios: Seq[String] = Seq("pay_per_fte", "pay_per_pt_hour", "pay_per_ft")
  val statCols: Seq[String] = AspepConfig.metricCols ++ ratios
  private val deltaSuffixes = Seq("_1yr_pct", "_5yr_pct", "_1yr_abs", "_5yr_abs")

  private def num(r: Record, c: String): Option[Double] = Option(r(c)).map(_.asInstanceOf[Double])
  private def safeDiv(a: Option[Double], b: Option[Double]): Option[Double] =
    b.filter(_ != 0).flatMap(d => a.map(_ / d))
  private def cell(v: Option[Double]): Any = v.orNull

  lazy val combined: Seq[Record] = for {
    y <- years
    ((code, fn), index) <- rowKeys.zipWithIndex
  } yield {
    val t = truth(code, fn, y)
    val metricCells = AspepConfig.metricCols.map { m =>
      m -> cell(metrics.indices.find(k => metricName(k, y) == m).flatMap(t))
    }
    val (state, region, division) = dim.getOrElse(code, (null, null, null))
    Map[String, Any]("index" -> index.toLong, "state" -> state, "gov_function" -> fn,
      "year" -> y, "state code" -> code, "region" -> region, "division" -> division,
      "state_scope" -> (if (code == "US") "national" else "state")) ++ metricCells
  }

  private def median(xs: Seq[Double]): Option[Double] = {
    val v = xs.sorted
    if (v.isEmpty) None
    else if (v.length % 2 == 1) Some(v(v.length / 2))
    else Some((v(v.length / 2 - 1) + v(v.length / 2)) / 2)
  }

  lazy val derived: Seq[Record] = {
    val withRatios = combined.map { r =>
      r ++ Map(
        "pay_per_fte" -> cell(safeDiv(num(r, "total_pay"), num(r, "ft_eq_employment"))),
        "pay_per_pt_hour" -> cell(safeDiv(num(r, "pt_pay"), num(r, "pt_hour"))),
        "pay_per_ft" -> cell(safeDiv(num(r, "ft_pay"), num(r, "ft_employment"))))
    }
    val nulls: Record = withRatios.head.keys.map(_ -> (null: Any)).toMap
    val stats = for {
      y <- years
      (fn, _) <- functions
      (label, agg) <- Seq[(String, Seq[Double] => Option[Double])](
        "US-median" -> median, "US-mean" -> (xs => if (xs.isEmpty) None else Some(xs.sum / xs.length)))
    } yield {
      val section = withRatios.filter(r =>
        r("year") == y && r("gov_function") == fn && r("state code") != "US")
      nulls ++ Map("year" -> y, "gov_function" -> fn, "state code" -> label,
        "state_scope" -> "stats") ++
        statCols.map(c => c -> cell(agg(section.flatMap(num(_, c)))))
    }
    withRatios ++ stats
  }

  private def rank(x: Option[Double], cohort: Seq[Double], ahead: (Double, Double) => Boolean): Any =
    x.map(v => 1 + cohort.count(ahead(_, v))).orNull

  lazy val extended: Seq[Record] = {
    def key(r: Record) = (r("state code"), r("gov_function"))
    val series = derived.groupBy(key).map { case (k, rs) => k -> rs.sortBy(_("year").asInstanceOf[Int]) }
    val withDeltas = derived.map { r =>
      val s = series(key(r))
      val i = s.indexOf(r)
      def lagged(c: String, n: Int) = if (i >= n) num(s(i - n), c) else None
      r ++ statCols.flatMap { c =>
        val x = num(r, c)
        Seq(
          s"${c}_1yr_pct" -> cell(safeDiv(x, lagged(c, 1)).map(_ - 1)),
          s"${c}_5yr_pct" -> cell(safeDiv(x, lagged(c, 4)).map(_ - 1)),
          s"${c}_1yr_abs" -> cell(for (a <- x; b <- lagged(c, 1)) yield a - b),
          s"${c}_5yr_abs" -> cell(for (a <- x; b <- lagged(c, 4)) yield a - b))
      }
    }
    val cohorts = withDeltas.groupBy(r => (r("year"), r("gov_function")))
    withDeltas.map { r =>
      val cohort = cohorts((r("year"), r("gov_function")))
      def values(c: String) = cohort.flatMap(num(_, c))
      r ++ statCols.map { c =>
        s"${c}_rank" -> rank(num(r, c), values(c), _ > _)
      } ++ statCols.flatMap(c => deltaSuffixes.map(c + _)).flatMap { c =>
        val x = num(r, c)
        Seq(
          s"${c}_pos_rank" -> rank(x.filter(_ > 0), values(c), _ > _),
          s"${c}_neg_rank" -> rank(x.filter(_ < 0), values(c), _ < _))
      }
    }
  }
}
