package graft.etl

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import Acquisition._

/** S1/S2/K2 edges with injected transports (zero-egress environment). */
class AcquisitionSpec extends AnyFunSuite {

  test("censusIndexUrl per-year special cases") {
    assert(censusIndexUrl(2017).contains("/data/tables/2017/"))
    assert(censusIndexUrl(2018).contains("/data/tables/2018/"))
    assert(censusIndexUrl(2014).contains("/data/datasets/2014/"))
    assert(censusIndexUrl(2024).contains("/data/datasets/2024/"))
    assert(censusIndexUrl(2020).contains("/datasetstables/2020.html"))
  }

  test("findDataLink picks the first matching anchor by TEXT, not href") {
    val html =
      """<html><a href="/nope">Local Government Employment</a>
        |<a class="x" href="https://www2.census.gov/f.xlsx">
        |  <b>State Government Employment</b> &amp; Payroll</a>
        |<a href="/later">State Government Employment (other)</a></html>""".stripMargin
    assert(findDataLink(html).contains("https://www2.census.gov/f.xlsx"))
    assert(findDataLink("<a href='x'>nothing here</a>").isEmpty)
  }

  test("scrapeUrlMapping: cache envelope round-trip and fetch fallback") {
    val dir = Files.createTempDirectory("acq")
    val cache = dir.resolve("year_url_mapping.json")
    var fetches = 0
    val fetch = (url: String) => {
      fetches += 1
      if (url.contains("2005")) Left("boom") // year failure is isolated
      else Right(s"""<a href="$url/file.xls">State Government Employment</a>""")
    }
    val m = scrapeUrlMapping(cache, fetch, 2003, 2006)
    assert(m.keySet == Set(2003, 2004, 2006))
    assert(m(2003).dataUrl.endsWith("file.xls"))
    // second call reads the cache: no fetches
    val before = fetches
    val m2 = scrapeUrlMapping(cache, fetch, 2003, 2006)
    assert(fetches == before)
    assert(m2 == m)
    // a standard writer's cache: `\/` and `\uXXXX` escapes (ujson and
    // pandas escape `/`), keys in another order; read with no fetches
    Files.write(cache, ("{\"data\": {\"2004\": {\"data_url\": \"https:\\/\\/x\\/a b.xls\", " +
      "\"source_url\": \"https:\\/\\/s\\/2004\\u00e9\", \"year\": 2004}}}").getBytes("UTF-8"))
    assert(scrapeUrlMapping(cache, fetch, 2003, 2006) ==
      Map(2004 -> UrlEntry(2004, "https://s/2004é", "https://x/a b.xls")))
    assert(fetches == before)
  }

  test("downloadYears: extension detection, cache skip, failure isolation") {
    val dir = Files.createTempDirectory("raw")
    val mapping = Map(
      2020 -> UrlEntry(2020, "s", "https://x/y2020.xlsx"),
      2021 -> UrlEntry(2021, "s", "https://x/y2021.xls"),
      2022 -> UrlEntry(2022, "s", "https://x/broken.xls"))
    var fetched = List.empty[String]
    val fetchBytes = (url: String) =>
      if (url.contains("broken")) Left("404")
      else { fetched ::= url; Right(Array[Byte](1, 2, 3)) }
    val got = downloadYears(mapping, dir, fetchBytes)
    assert(got.keySet == Set(2020, 2021))
    assert(got(2020).toString.endsWith("aspep_2020.xlsx"))
    assert(got(2021).toString.endsWith("aspep_2021.xls"))
    // cached: second run fetches nothing
    val n = fetched.size
    downloadYears(mapping, dir, fetchBytes)
    assert(fetched.size == n)
  }

  test("publishDirectory gzips text artifacts, keeps uncompressed keys") {
    val dir = Files.createTempDirectory("out")
    Files.write(dir.resolve("a.json"), "[1,2,3]".getBytes)
    Files.write(dir.resolve("b.bin"), Array[Byte](9, 9))
    var puts = Map.empty[String, (Array[Byte], Option[String], Option[String])]
    val pub = new Publisher {
      def put(key: String, body: Array[Byte], ct: Option[String], ce: Option[String]): Unit =
        puts += key -> ((body, ct, ce))
    }
    val keys = publishDirectory(dir, "aspep", pub)
    assert(keys.toSet == Set("aspep/a.json", "aspep/b.bin"))
    val (jsonBody, ct, ce) = puts("aspep/a.json")
    assert(ct.contains("text/plain") && ce.contains("gzip"))
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(jsonBody))
    assert(new String(in.readAllBytes()) == "[1,2,3]")
    val (binBody, bct, bce) = puts("aspep/b.bin")
    assert(binBody.toSeq == Seq[Byte](9, 9) && bct.isEmpty && bce.isEmpty)
    // reference quirk: the gz sibling lands IN the data directory
    assert(Files.exists(dir.resolve("a.json.gz")))
  }

  test("publishDirectory re-run uploads stale .gz siblings as raw binary") {
    val dir = Files.createTempDirectory("out")
    Files.write(dir.resolve("a.json"), "[1,2,3]".getBytes)
    var puts = Map.empty[String, (Array[Byte], Option[String], Option[String])]
    val pub = new Publisher {
      def put(key: String, body: Array[Byte], ct: Option[String], ce: Option[String]): Unit =
        puts += key -> ((body, ct, ce))
    }
    // first run: original key only, walk snapshot predates the sibling
    assert(publishDirectory(dir, "aspep", pub).toSet == Set("aspep/a.json"))
    // second run: the previous run's sibling is walked and uploaded raw,
    // exactly like the reference's os.walk re-run (assets.py:555-566)
    val keys2 = publishDirectory(dir, "aspep", pub)
    assert(keys2.toSet == Set("aspep/a.json", "aspep/a.json.gz"))
    val (gzBody, gct, gce) = puts("aspep/a.json.gz")
    assert(gct.isEmpty && gce.isEmpty)
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gzBody))
    assert(new String(in.readAllBytes()) == "[1,2,3]")
  }
}
