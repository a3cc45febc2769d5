package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Verify.writeJson`, the writer of `oracle_sql.json`. */
class VerifySpec extends AnyFunSuite {

  test("control characters, quotes, backslashes and non-ASCII text read back unchanged") {
    val m = Map(
      "tab" -> "SELECT\t1",
      "cr" -> "SELECT 1\r\nFROM t",
      "ctl" -> "a\u0001b",
      "quote" -> "WHERE s = \"x\"",
      "backslash" -> "regexp_replace(s, '\\s+', '\\1')",
      "text" -> "Données, Zürich, 東京")
    val path = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    Verify.writeJson(path.toString, m)
    val back = new ObjectMapper().readValue(path.toFile, classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == m)
  }
}
