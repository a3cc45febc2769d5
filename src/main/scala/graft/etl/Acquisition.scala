package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths, Path}
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The side-effecting acquisition/publication edges (SURVEY.md §2.1
  * S1/S2/S5 and §2.9 K2), as pure driver-side units with injectable
  * I/O so they are testable in a zero-egress environment. These are
  * NOT Spark operators by design — tiny, sequential, cache-aware
  * (reference process_aspep/assets.py:168-267, 549-568).
  * Kept though no main calls it: the paper's scrape and download stages.
  */
object Acquisition {

  final case class UrlEntry(year: Int, sourceUrl: String, dataUrl: String)

  /** S1 URL templates with the per-year special cases
    * (reference assets.py:20-32).
    */
  def censusIndexUrl(year: Int): String = year match {
    case 2017 | 2018 =>
      s"https://www.census.gov/data/tables/$year/econ/apes/annual-apes.html"
    case 2014 | 2024 =>
      s"https://www.census.gov/data/datasets/$year/econ/apes/annual-apes.html"
    case _ =>
      s"https://www.census.gov/programs-surveys/apes/data/datasetstables/$year.html"
  }

  private val anchorRe: Regex =
    """(?is)<a\b([^>]*)>(.*?)</a>""".r
  private val hrefRe: Regex = """(?is)href\s*=\s*["']([^"']+)["']""".r
  private val tagRe: Regex = """(?s)<[^>]*>""".r

  /** S1 anchor scan: first <a> whose text contains
    * "State Government Employment" (reference assets.py:205-216).
    */
  def findDataLink(html: String): Option[String] =
    anchorRe.findAllMatchIn(html).collectFirst {
      case m if tagRe.replaceAllIn(m.group(2), "").trim
        .contains("State Government Employment") =>
        hrefRe.findFirstMatchIn(m.group(1)).map(_.group(1))
    }.flatten

  /** S1+S5: cache-aware URL mapping. Reads the {"data": {...}} cache
    * envelope first; otherwise scrapes each year's index page via the
    * injected fetcher (year failures skip, run continues).
    */
  def scrapeUrlMapping(cacheFile: Path,
                       fetch: String => Either[String, String],
                       startYear: Int = AspepConfig.StartYear,
                       endYear: Int = AspepConfig.EndYear): Map[Int, UrlEntry] = {
    if (Files.exists(cacheFile)) {
      readCache(cacheFile) match {
        case Some(cached) if cached.nonEmpty => return cached
        case _ => // unreadable cache -> re-scrape (assets.py:193-196)
      }
    }
    val mapping = (startYear to endYear).flatMap { year =>
      val url = censusIndexUrl(year)
      fetch(url) match {
        case Right(html) =>
          findDataLink(html).map(href => year -> UrlEntry(year, url, href))
        case Left(_) => None
      }
    }.toMap
    writeCache(cacheFile, mapping)
    mapping
  }

  /** S2: cache-aware download — skip existing files, isolate per-year
    * failures (reference assets.py:231-267).
    */
  def downloadYears(mapping: Map[Int, UrlEntry], rawDir: Path,
                    fetchBytes: String => Either[String, Array[Byte]]): Map[Int, Path] = {
    Files.createDirectories(rawDir)
    mapping.flatMap { case (year, entry) =>
      val ext = if (entry.dataUrl.contains(".xlsx")) ".xlsx" else ".xls"
      val out = rawDir.resolve(s"aspep_$year$ext")
      if (Files.exists(out)) Some(year -> out)
      else fetchBytes(entry.dataUrl) match {
        case Right(bytes) => Files.write(out, bytes); Some(year -> out)
        case Left(_) => None
      }
    }
  }

  /** K2 publisher contract: gzip text artifacts, keep the uncompressed
    * object key, content-encoding gzip (reference assets.py:75-113).
    * The transport is injected; an S3 client implements `put`.
    */
  trait Publisher {
    def put(key: String, body: Array[Byte], contentType: Option[String],
            contentEncoding: Option[String]): Unit
  }

  /** Replicates the reference's publish loop faithfully, including its
    * quirk (assets.py:90-96, 555-566): gzipping a text artifact writes a
    * `.gz` SIBLING into the data directory itself, and the compressed
    * bytes upload under the ORIGINAL (uncompressed) key with
    * Content-Encoding gzip. The walk is snapshotted up front (like
    * os.walk's per-directory scandir), so the first run uploads only the
    * originals — but any RE-run's walk also finds the `.gz` siblings
    * from the previous run and uploads them as raw binary objects
    * (`foo.json.gz` alongside `foo.json`). docs/DIVERGENCES.md #7a.
    */
  def publishDirectory(outDir: Path, prefix: String, publisher: Publisher): Seq[String] = {
    val files = Files.walk(outDir).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    files.map { p =>
      val rel = outDir.relativize(p).toString.replace('\\', '/')
      val key = s"$prefix/$rel"
      val isText = rel.endsWith(".json") || rel.endsWith(".csv") || rel.endsWith(".txt")
      val raw = Files.readAllBytes(p)
      if (isText) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bos)
        gz.write(raw); gz.close()
        val body = bos.toByteArray
        Files.write(Paths.get(p.toString + ".gz"), body)
        publisher.put(key, body, Some("text/plain"), Some("gzip"))
      } else publisher.put(key, raw, None, None)
      key
    }
  }

  /** The S5 cache envelope, `{"data": {"<year>": {"year": y,
    * "source_url": ..., "data_url": ...}}}` (reference assets.py:182-189).
    */
  private def writeCache(file: Path, mapping: Map[Int, UrlEntry]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val data = root.putObject("data")
    mapping.toSeq.sortBy(_._1).foreach { case (y, e) =>
      data.putObject(y.toString).put("year", y)
        .put("source_url", e.sourceUrl).put("data_url", e.dataUrl)
    }
    mapper.writeValue(file.toFile, root)
  }

  /** None when the file is not JSON or has no `data` object; an
    * entry without a 4-digit key, an int year and both URLs is skipped. */
  private def readCache(file: Path): Option[Map[Int, UrlEntry]] =
    scala.util.Try(new ObjectMapper().readTree(file.toFile).path("data")).toOption
      .filter(_.isObject).map(_.properties().asScala.map(e => e.getKey -> e.getValue).collect {
        case (y, v) if y.matches("\\d{4}") && v.path("year").isInt &&
            v.path("source_url").isTextual && v.path("data_url").isTextual =>
          y.toInt -> UrlEntry(v.get("year").asInt, v.get("source_url").asText, v.get("data_url").asText)
      }.toMap)
}
