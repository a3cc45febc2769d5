package graft.etl

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `Writers.prettyJsonArray` renders from InternalRows with a fast path
  * for integral doubles. Both are checked against the forms they
  * replaced, kept here as references: the exact `BigDecimal` double
  * rendering, and the Row-based writer over a frame of every cell type
  * the writer distinguishes, plus the types it renders through
  * `String.valueOf`. (The pandas bytes themselves are pinned by
  * WritersParitySpec.)
  */
class PrettyJsonSpec extends SparkTestBase {

  /** ujson's rendering by the exact binary value: 10 decimals, half-even,
    * trailing zeros trimmed, one digit kept after the point. */
  private def bigDecimalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (math.abs(d) >= 1e16) d.toString
    else {
      val s = new java.math.BigDecimal(d)
        .setScale(10, java.math.RoundingMode.HALF_EVEN).toPlainString
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t + "0" else t
    }

  /** The Row-based writer `prettyJsonArray` was before it read
    * InternalRows. */
  private def rowWriter(df: DataFrame, path: String): Unit = {
    def jsonStr(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '/' => b.append("\\/")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' || c > '~' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
    def renderValue(row: Row, i: Int, dt: DataType): String =
      if (row.isNullAt(i)) "null"
      else dt match {
        case DoubleType => bigDecimalDouble(row.getDouble(i))
        case FloatType => bigDecimalDouble(row.getFloat(i).toDouble)
        case IntegerType => row.getInt(i).toString
        case LongType => row.getLong(i).toString
        case StringType => jsonStr(row.getString(i))
        case BooleanType => row.getBoolean(i).toString
        case _ => jsonStr(String.valueOf(row.get(i)))
      }
    val schema = df.schema
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try {
      w.write("[")
      var first = true
      df.toLocalIterator().forEachRemaining { row =>
        if (!first) w.write(",")
        first = false
        w.write("\n    {")
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (i > 0) w.write(",")
          w.write("\n        "); w.write(jsonStr(f.name)); w.write(":")
          w.write(renderValue(row, i, f.dataType))
        }
        w.write("\n    }")
      }
      if (first) w.write("\n")
      w.write("\n]")
    } finally w.close()
  }

  test("the double renderer equals the exact BigDecimal rendering (seeded property)") {
    val rng = new java.util.SplittableRandom(20261018L)
    val edges = Seq(0.0, -0.0, 1.0, -1.0, 0.1, 1.5e-11, -1.5e-11, 5e-11, 1e-10, 1e-7,
      -1234567.89, math.Pi, 9007199254740991.0, 9007199254740992.0, 9007199254740993.0,
      -9007199254740993.0, 1e15, math.nextDown(1e15), math.nextUp(1e15), 1e15 + 0.5,
      1e16, -1e16, math.nextDown(1e16), -math.nextDown(1e16), math.nextUp(1e16),
      Double.MinPositiveValue, Double.MaxValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    // k / 2^j is exact in binary and in decimal: some land exactly
    // halfway at the 11th decimal, where half-even decides
    val halfway = for (j <- 1 to 40; k <- Seq(1L, 3L, 5L, 12345L)) yield k.toDouble / (1L << j)
    val random = Seq.fill(20000) {
      val scale = math.pow(10, rng.nextInt(-12, 17))
      rng.nextInt(4) match {
        case 0 => (rng.nextLong() % 100000000000000000L).toDouble // integral, up to 1e17
        case 1 => rng.nextDouble(-1, 1) * scale
        case 2 => math.rint(rng.nextDouble(-1, 1) * scale) + rng.nextInt(-2, 3) * 0.5
        case _ => java.lang.Double.longBitsToDouble(rng.nextLong())
      }
    }
    val values = edges ++ halfway ++ halfway.map(-_) ++ random
    val bad = values.filter(d => Writers.pandasDouble(d) != bigDecimalDouble(d))
    assert(bad.isEmpty, bad.take(5).map(d => s"$d -> ${Writers.pandasDouble(d)}"))
  }

  test("prettyJsonArray writes the Row-based writer's bytes for every cell type") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("flag", BooleanType),
      StructField("n", IntegerType),
      StructField("x", DoubleType),
      StructField("f", FloatType),
      StructField("amount", DecimalType(14, 3)),
      StructField("day", DateType),
      StructField("at", TimestampType),
      StructField("label", StringType),
      StructField("small", ShortType),
      StructField("path/with \"quotes\" \u00e9", StringType)))
    val texts = Seq("Wisconsin", "a/b\\c", "straße Σ İ  \t\n\r\u0001", "\ud83d\ude00 emoji",
      "\"quoted\"", "", "~ \u007f \u0080 \uffff")
    val rng = new java.util.SplittableRandom(7L)
    val rows = (0 until 60).map { i =>
      def maybe[T](v: => T): Any = if (rng.nextInt(6) == 0) null else v
      Row(i.toLong,
        maybe(rng.nextBoolean()),
        maybe(rng.nextInt()),
        maybe(if (i % 3 == 0) rng.nextLong(-1000000, 1000000).toDouble else rng.nextDouble(-1e9, 1e9)),
        maybe(rng.nextInt(-1000, 1000) / 8.0f),
        maybe(new java.math.BigDecimal(java.math.BigInteger.valueOf(rng.nextLong(-99999999999L, 99999999999L)), 3)),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.of(1990, 1, 1).plusDays(rng.nextInt(20000)))),
        maybe(new java.sql.Timestamp(rng.nextLong(0L, 2000000000000L))),
        maybe(texts(rng.nextInt(texts.length))),
        maybe(rng.nextInt(-300, 300).toShort),
        maybe(s"row $i / ${texts(i % texts.length)}"))
    }
    // several partitions, each of many rows: a reused row buffer left
    // uncopied would repeat a partition's last row
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    for (frame <- Seq(df, df.filter("id < 0"))) {
      val (got, want) = (Files.createTempFile("pretty", ".json"), Files.createTempFile("rowref", ".json"))
      Writers.prettyJsonArray(frame, got.toString)
      rowWriter(frame, want.toString)
      assert(new String(Files.readAllBytes(got), StandardCharsets.UTF_8) ==
        new String(Files.readAllBytes(want), StandardCharsets.UTF_8))
    }
  }
}
