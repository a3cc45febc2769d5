package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Sinks (SURVEY.md §2.9). The reference publishes single-file pretty
  * JSON arrays (pandas to_json(orient="records", indent=4) — NOT
  * NDJSON, assets.py:325); Spark's JSON sink is NDJSON-only, so K1 is a
  * thin driver-side renderer (bounded: <=45k rows). K3 (parquet,
  * year-partitioned) is the rebuild-native sink for anything large.
  */
object Writers {

  /** K1: single pretty JSON array file, byte-identical to pandas
    * `to_json(orient="records", indent=4)` (reference assets.py:325) for
    * the artifact domain: null fields included, NaN/inf -> null, ujson
    * escaping (forward slash and non-ASCII escaped, lowercase hex),
    * ujson double rendering (10 decimal places, trailing zeros trimmed,
    * whole floats keep ".0"), zero rows -> "[\n\n]". Pinned against a
    * committed pandas-written fixture (WritersParitySpec). Outside the
    * artifact domain (|x| >= 1e16) ujson switches to exponent form and
    * this writer falls back to JVM rendering — values that large never
    * appear in the published artifacts (dollar amounts and head counts).
    */
  def prettyJsonArray(df: DataFrame, path: String): Unit = {
    val fields = df.schema.fields
    // per schema, not per row: each field's `,\n        "name":` prefix
    // and its cell renderer
    val prefixes = fields.indices.map { i =>
      (if (i > 0) "," else "") + "\n        " + jsonStr(fields(i).name) + ":"
    }.toArray
    val render = fields.map(f => renderer(f.dataType))
    // stream row-by-row: the extended artifact is ~256 MB of pretty
    // JSON — building it in one StringBuilder doubles peak driver heap.
    // The rows are InternalRows, so no Row deserializer is generated
    // for the 176-column extended schema; the copy is needed because
    // the plan reuses each row's buffer.
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try {
      w.write("[")
      var first = true
      df.queryExecution.toRdd.map(_.copy()).toLocalIterator.foreach { row =>
        if (!first) w.write(",")
        first = false
        w.write("\n    {")
        var i = 0
        while (i < fields.length) {
          w.write(prefixes(i))
          w.write(if (row.isNullAt(i)) "null" else render(i)(row, i))
          i += 1
        }
        w.write("\n    }")
      }
      if (first) w.write("\n") // pandas renders an empty frame as [\n\n]
      w.write("\n]")
    } finally w.close()
  }

  /** K3: partitioned parquet, the scale-native sink. */
  def parquetByYear(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("year").parquet(path)

  /** The JSON text of a non-null cell of type `dt`, as pandas renders
    * the same column: integers as numbers, a decimal as its double, a
    * date or timestamp as epoch milliseconds (truncated toward zero, so
    * -1.5 ms is -1). A type pandas has no column form for (arrays,
    * maps, structs, binary) is rendered from its external (Row) value,
    * as `String.valueOf` shows it, in quotes.
    */
  private def renderer(dt: DataType): (InternalRow, Int) => String = dt match {
    case DoubleType => (r, i) => pandasDouble(r.getDouble(i))
    case FloatType => (r, i) => pandasDouble(r.getFloat(i).toDouble)
    case d: DecimalType =>
      (r, i) => pandasDouble(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue)
    case ByteType => (r, i) => r.getByte(i).toString
    case ShortType => (r, i) => r.getShort(i).toString
    case IntegerType => (r, i) => r.getInt(i).toString
    case LongType => (r, i) => r.getLong(i).toString
    case DateType => (r, i) => (r.getInt(i) * 86400000L).toString
    case TimestampType | TimestampNTZType => (r, i) => (r.getLong(i) / 1000L).toString
    case StringType => (r, i) => jsonStr(r.getUTF8String(i).toString)
    case BooleanType => (r, i) => r.getBoolean(i).toString
    case _ =>
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      (r, i) => jsonStr(String.valueOf(toScala(r.get(i, dt))))
  }

  /** ujson (pandas to_json) double rendering: fixed-point with
    * double_precision=10 decimal places, trailing zeros trimmed, at
    * least one digit kept after the point — so 1.0 -> "1.0",
    * 0.1 -> "0.1", pi -> "3.1415926536", 1e-7 -> "0.0000001",
    * 1.5e-11 -> "0.0". NaN/inf -> null.
    */
  private[etl] def pandasDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (math.abs(d) >= 1e16) d.toString // ujson exponent territory; outside artifact domain
    else if (d == d.toLong) d.toLong.toString + ".0" // exact below 2^63; -0.0 -> "0.0"
    else {
      // exact-binary-value rounding (new BigDecimal(d), not valueOf):
      // ujson rounds the EXACT double, so -1234567.89 renders as
      // -1234567.8899999999; Java's %.10f re-expands the shortest repr
      // and would give -1234567.8900000000 instead
      val s = new java.math.BigDecimal(d)
        .setScale(10, java.math.RoundingMode.HALF_EVEN).toPlainString
      var end = s.length // scale 10: there is always a '.'
      while (s.charAt(end - 1) == '0') end -= 1
      if (s.charAt(end - 1) == '.') s.substring(0, end) + "0" else s.substring(0, end)
    }

  private val hex = "0123456789abcdef".toCharArray

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '/' => b.append("\\/") // ujson escapes forward slashes
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' || c > '~' =>
        b.append("\\u").append(hex(c >> 12)).append(hex((c >> 8) & 15))
          .append(hex((c >> 4) & 15)).append(hex(c & 15))
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
