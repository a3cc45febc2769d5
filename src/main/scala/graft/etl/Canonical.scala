package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.functions.Cleaning
import AspepConfig._

/** `combine_years` re-expressed Spark-first (reference
  * process_aspep/assets.py:270-333): per-year Excel parse (driver-side;
  * files are KBs) -> header collapse -> canonical rename ->
  * schema-widened cells of every year in one relation -> value
  * canonicalization + recode (executor-side column expressions) ->
  * broadcast dimension join -> global sort.
  *
  * Catalyst shape (SURVEY.md §3.2): one scan of one single-partition
  * relation (no Union), one canonicalization projection, one
  * BroadcastExchange for the dim join, and the output sort over that
  * one partition, with no exchange; everything else is narrow
  * projections under whole-stage codegen. One relation rather than a
  * DataFrame per year under a 22-way union: every union branch is
  * analysed when built and runs its own scan and projection (measured
  * in docs/PLANS.md). One partition because the panel is bounded
  * (~41.5k rows for 22 years, ~2k more a year) and the driver-side
  * parse already holds all of it: the sorted partition satisfies the
  * clustered distributions of the derive `groupBy` and the extended
  * windows, so no later stage shuffles, and every `US-mean` sums its
  * cross-section in state order whatever the session did before.
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

  /** The parsed years as ONE DataFrame of canonical-named columns plus
    * the per-year `index` ordinal (assets.py:306 reset_index) and
    * `year`: every year's cells go into one single-partition Row
    * relation (null where a year lacks a column, as
    * `unionByName(allowMissingColumns)` fills) and the canonicalization
    * projection is applied once.
    */
  private[etl] def canonicalYears(spark: SparkSession,
      years: Seq[(Int, (Seq[String], Seq[Seq[String]]))]): DataFrame = {
    val metrics = metricCols.filter(m => years.exists(_._2._1.contains(m)))
    val cells = Seq("state", "gov_function") ++ metrics
    val schema = StructType(
      Seq(StructField("index", LongType, nullable = false),
        StructField("year", IntegerType, nullable = false)) ++
        cells.map(n => StructField(n, StringType, nullable = true)))
    val rows = years.flatMap { case (year, (names, data)) =>
      val at = cells.map(names.indexOf(_))
      data.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(Seq[Any](i.toLong, year) ++ at.map(c => if (c < 0) null else r(c)))
      }
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    // X1 trim+case, J2 recode maps, X2+X3 numeric canonicalization, X8 year
    val stateLower = lower(trim(col("state")))
    val govLower = lower(trim(col("gov_function")))
    raw.select(
      Seq(col("index"),
        Cleaning.recode(stateLower, stateMap).as("state"),
        Cleaning.recode(govLower, govFunctionMap).as("gov_function")) ++
        metrics.map(m => Cleaning.cleanNumeric(col(m)).as(m)) :+
        col("year"): _*)
      .withColumn("state code", upper(col("state")))
  }

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
    * "US" row -> national rows join to NULLs; reference resources.py:12-16).
    */
  def censusDim(spark: SparkSession): DataFrame = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/census_regions.csv"), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val rows = lines.tail.map { l =>
      val p = l.split(",", -1)
      Row(p(0), p(1), p(2), p(3))
    }
    val schema = StructType(Seq(
      StructField("dim_state", StringType), StructField("state code", StringType),
      StructField("region", StringType), StructField("division", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
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
    // O2 schema widening (assets.py:313 concat semantics)
    val widened = canonicalYears(spark, parsed)

    // J1 broadcast left join; dim State OVERWRITES state; US -> NULLs
    val dim = censusDim(spark)
    val enriched = widened
      .join(broadcast(dim), Seq("state code"), "left")
      .withColumn("state", col("dim_state"))
      .drop("dim_state")
      .withColumn("state_scope",
        when(col("`state code`") === "US", "national").otherwise("state"))

    // stable combined column order, then O1 global sort (assets.py:322)
    // within one partition
    val ordered = Seq("index", "state", "gov_function") ++
      metricCols.filter(enriched.columns.contains) ++
      Seq("year", "state code", "region", "division", "state_scope")
    enriched
      .select(ordered.map(c => col(s"`$c`")): _*)
      .coalesce(1)
      .orderBy(asc_nulls_last("state"), col("year"), col("gov_function"))
  }
}
