package graft.etl

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{asc_nulls_last, col}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.functions.Cleaning
import AspepConfig._

/** `combine_years` re-expressed Spark-first (reference
  * process_aspep/assets.py:270-333): per-year Excel parse (driver-side;
  * files are KBs) -> header collapse -> canonical rename ->
  * schema-widened cells of every year in one relation, whose labels
  * are canonicalized, recoded and looked up in the census dimension
  * as its rows are built -> numeric canonicalization (executor-side
  * column expressions) -> global sort.
  *
  * Catalyst shape (SURVEY.md §3.2): one scan of one single-partition
  * relation (no Union), one projection of `CleanNumeric` + `try_cast`
  * over the metric columns, and the output sort over that one
  * partition: no exchange, no join and no string case or trim
  * expression (`Lower`/`Upper` start Spark's ICU case tables, a cold
  * cost of seconds per JVM, and the 51-row dimension was a broadcast
  * job of its own; measured in docs/PLANS.md). One relation rather
  * than a DataFrame per year under a 22-way union: every union branch
  * is analysed when built and runs its own scan and projection. One
  * partition because the panel is bounded (~41.5k rows for 22 years,
  * ~2k more a year) and the driver-side parse already holds all of
  * it: the sorted partition satisfies the clustered distributions of
  * the derive `groupBy` and the extended windows, so no later stage
  * shuffles, and every `US-mean` sums its cross-section in state
  * order whatever the session did before.
  *
  * Documented divergences from the reference (SURVEY.md §7.4):
  *  - the reference's header slice (`df.iloc[header_end:]`,
  *    assets.py:130) leaks the last header row into the data; we drop
  *    all header rows (no check pins the junk row);
  *  - `index` is the post-slice per-year ordinal, so it sits one lower
  *    than the reference's for legacy years (junk row removed);
  *  - pandas keeps unparseable strings in non-coerced metric columns;
  *    we null-coerce every metric to double (checks only read numerics).
  */
object Canonical {

  /** Per-year driver-side parse + header normalization. Returns the
    * canonical-named raw string cells for one year; throws if the year
    * cannot be read (see [[checkNames]]).
    */
  private[etl] def parseYear(path: String, year: Int): (Seq[String], Seq[Seq[String]]) = {
    val parsed = layout(year) match {
      case TidySheet(sheet) =>
        val rows = ExcelReader.read(path, Some(sheet))
        val rawHeader = rows.head.map(h => Option(h).getOrElse(""))
        val byName = rawHeader.zipWithIndex.toMap
        val keep = columnMap2024.map { case (orig, canon) =>
          (canon, byName.getOrElse(orig,
            throw new IllegalArgumentException(s"2024 column '$orig' missing")))
        }
        val names = keep.map(_._1)
        val data = rows.tail.map(r => keep.map { case (_, i) => r.lift(i).orNull })
        (names, data)

      case LegacyHeaders(start, end) =>
        val rows = ExcelReader.read(path, None)
        val names0 = Slug.collapseHeaders(rows, start, end)
        // header-row drop: exclusive of ALL header rows (see divergence note)
        val data0 = rows.drop(end + 1)
        // P4: drop all-null columns and empty-named columns (assets.py:133-135)
        val width = names0.length
        val keep = (0 until width).filter { c =>
          names0(c).nonEmpty && data0.exists(r => c < r.length && r(c) != null)
        }
        // P5: canonical rename of slugged legacy names (constants COLUMN_MAP)
        val names = keep.map(c => columnMap.getOrElse(names0(c), names0(c)))
        val data = data0.map(r => keep.map(c => if (c < r.length) r(c) else null))
        (names, data)
    }
    checkNames(parsed._1)
    parsed
  }

  /** The parsed years as ONE DataFrame in combined column order: the
    * per-year `index` ordinal (assets.py:306 reset_index), the labels,
    * the metrics, `year` and the census enrichment. The labels are
    * canonicalized and looked up in the census dimension while the
    * rows are built (see [[canonicalLabel]]): the cells are already
    * strings on the driver, so the only executor-side work left is the
    * numeric cleaning. Every year's cells go into one single-partition
    * Row relation (null where a year lacks a metric, as
    * `unionByName(allowMissingColumns)` fills).
    */
  private[etl] def canonicalYears(spark: SparkSession,
      years: Seq[(Int, (Seq[String], Seq[Seq[String]]))]): DataFrame = {
    val metrics = metricCols.filter(m => years.exists(_._2._1.contains(m)))
    def str(n: String, nullable: Boolean = true) = StructField(n, StringType, nullable)
    val schema = StructType(
      Seq(StructField("index", LongType, nullable = false), str("state"), str("gov_function")) ++
        metrics.map(str(_)) ++
        Seq(StructField("year", IntegerType, nullable = false), str("state code"),
          str("region"), str("division"), str("state_scope", nullable = false)))
    val rows = years.flatMap { case (year, (names, data)) =>
      val (st, gf) = (names.indexOf("state"), names.indexOf("gov_function"))
      val at = metrics.map(names.indexOf(_))
      data.zipWithIndex.map { case (r, i) =>
        // J1 left lookup; the dim State replaces the label; US -> NULLs
        val code = upperCase(canonicalLabel(r(st), stateMap))
        val dim = Option(code).flatMap(censusDim.get)
        Row.fromSeq(Seq[Any](i.toLong, dim.map(_._1).orNull,
          canonicalLabel(r(gf), govFunctionMap)) ++
          at.map(c => if (c < 0) null else r(c)) ++
          Seq(year, code, dim.map(_._2).orNull, dim.map(_._3).orNull,
            if (code == "US") "national" else "state"))
      }
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    // X2+X3 numeric canonicalization
    raw.select(raw.columns.toSeq.map(c =>
      if (metrics.contains(c)) Cleaning.cleanNumeric(col(c)).as(c) else col(s"`$c`")): _*)
  }

  /** X1 trim + case and J2 recode of one label cell, with Spark's
    * semantics: `trim` strips U+0020 only (tabs and NBSP stay), and
    * `lower` is ASCII-only for an all-ASCII string and ICU's full case
    * mapping otherwise (what Spark's `lower` runs under its default
    * `spark.sql.icu.caseMappings.enabled`), so the labels do not
    * depend on the JDK's Unicode tables; a value the map does not know
    * passes through. Null stays null.
    */
  private def canonicalLabel(cell: String, recode: Map[String, String]): String =
    if (cell == null) null
    else {
      var (b, e) = (0, cell.length)
      while (b < e && cell.charAt(b) == ' ') b += 1
      while (e > b && cell.charAt(e - 1) == ' ') e -= 1
      val lowered = lowerCase(cell.substring(b, e))
      recode.getOrElse(lowered, lowered)
    }

  private def isAscii(s: String): Boolean = s.forall(_ < 128)

  private def lowerCase(s: String): String =
    if (isAscii(s)) s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    else UCharacter.toLowerCase(s)

  private def upperCase(s: String): String =
    if (s == null) null
    else if (isAscii(s)) s.map(c => if (c >= 'a' && c <= 'z') (c - 32).toChar else c)
    else UCharacter.toUpperCase(s)

  /** A parsed year must name each column the projection reads exactly
    * once: a missing or doubled name (two headers renamed to one
    * canonical metric) makes the year unreadable, and it is skipped.
    */
  private def checkNames(names: Seq[String]): Unit = {
    val read = Seq("state", "gov_function") ++ names.filter(metricCols.contains)
    read.distinct.foreach { n =>
      val k = names.count(_ == n)
      require(k == 1, if (k == 0) s"column '$n' missing" else s"column '$n' appears $k times")
    }
  }

  /** One year as a DataFrame: the one-year case of [[canonicalYears]]. */
  private[etl] def yearDf(spark: SparkSession, path: String, year: Int): DataFrame =
    canonicalYears(spark, Seq(year -> parseYear(path, year)))

  /** The census-regions dimension (vendored CSV, 51 rows incl. DC, no
    * "US" row -> national rows get NULLs; reference resources.py:12-16),
    * keyed by state code: code -> (state, region, division).
    */
  private[etl] lazy val censusDim: Map[String, (String, String, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/census_regions.csv"), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    lines.tail.map { l =>
      val p = l.split(",", -1)
      p(1) -> ((p(0), p(2), p(3)))
    }.toMap
  }

  /** Full combine: widen all years into one relation, enrich, classify,
    * and sort as one partition (no range exchange, see the object doc).
    */
  def combineYears(spark: SparkSession, rawDir: String,
                   startYear: Int = StartYear, endYear: Int = EndYear): DataFrame = {
    val parsed = (startYear until endYear).flatMap { y =>
      val base = s"$rawDir/aspep_$y"
      val path = Seq(s"$base.xlsx", s"$base.xls").find(p => new java.io.File(p).exists())
      // per-year error isolation (assets.py:317-320): a bad year is
      // skipped, the run continues
      path.flatMap { p =>
        try Some(y -> parseYear(p, y))
        catch {
          case e: Exception =>
            System.err.println(s"[aspep] skipping year $y: ${e.getMessage}")
            None
        }
      }
    }
    require(parsed.nonEmpty, s"no parseable workbooks in $rawDir")
    // O2 schema widening (assets.py:313 concat semantics), then O1
    // global sort (assets.py:322) within one partition
    canonicalYears(spark, parsed)
      .coalesce(1)
      .orderBy(asc_nulls_last("state"), col("year"), col("gov_function"))
  }
}
