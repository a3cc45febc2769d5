package graft.etl

import graft.SparkTestBase
import java.nio.file.{Files, Paths}

/** Byte-parity of the pretty-JSON sink against a committed
  * pandas-written `to_json(orient="records", indent=4)` fixture
  * (generated once by tools/make_json_fixture.py). The reference's
  * downstream checks read these artifacts back, so shape-parity is not
  * enough: float rendering (1.0 vs 1, 10-decimal rounding), forward
  * slash and non-ASCII escaping, key order, and the empty-array form
  * all have to match byte-for-byte.
  */
class WritersParitySpec extends SparkTestBase {

  private def fixture(name: String): java.nio.file.Path =
    Paths.get(getClass.getResource(s"/fixtures/$name").toURI)

  test("prettyJsonArray matches pandas to_json bytes exactly") {
    val df = spark.read.parquet(fixture("pretty_input.parquet").toString)
      .orderBy("id")
    val out = Files.createTempFile("parity", ".json")
    Writers.prettyJsonArray(df, out.toString)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(fixture("pretty_records.json")), "UTF-8")
    assert(got === want)
  }

  test("prettyJsonArray renders byte, short, decimal, date and timestamp cells as pandas does") {
    // numbers, a decimal as its double, dates and instants (some before
    // 1970, one with a sub-millisecond part) as epoch milliseconds
    val df = spark.read.parquet(fixture("pretty_typed_input.parquet").toString)
      .orderBy("id")
    val out = Files.createTempFile("parity_typed", ".json")
    Writers.prettyJsonArray(df, out.toString)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(fixture("pretty_typed_records.json")), "UTF-8")
    assert(got === want)
  }

  test("prettyJsonArray renders an empty frame like pandas") {
    val df = spark.read.parquet(fixture("pretty_input.parquet").toString)
      .filter("id < 0")
    val out = Files.createTempFile("parity_empty", ".json")
    Writers.prettyJsonArray(df, out.toString)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(fixture("pretty_empty.json")), "UTF-8")
    assert(got === want)
  }
}
