package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

/** `Bench.priors`: the retry priors read from a previous run's
  * `bench_last.json`, keyed on its sf dir and core count;
  * `Bench.record`: the primary keys, whatever the sf dir's characters;
  * `Bench.sf1Stage` and `Bench.time`: a failed sf1 stage, and a failed
  * query, leave their reasons in the record. */
class BenchSpec extends SparkTestBase {

  test("a prior written with a negative exponent reads as its value") {
    val (p, _) = Bench.priors("""{"sf":"d","cpus":4,"queries":{"a":1.0E-4,"b":2.5}}""", "d", 4)
    assert(p == Map("a" -> 1.0e-4, "b" -> 2.5))
  }

  test("latest readings and the floor merge by min, per stage") {
    val (p, p1) = Bench.priors(
      """{"sf":"d","cpus":4,"queries":{"a":2.0,"b":1.0},"queries_floor":{"a":1.5,"c":0.7},""" +
        """"sf1_queries":{"a":9.0},"sf1_floor":{"a":12.0,"d":3.0}}""", "d", 4)
    assert(p == Map("a" -> 1.5, "b" -> 1.0, "c" -> 0.7))
    assert(p1 == Map("a" -> 9.0, "d" -> 3.0))
  }

  test("a record of another sf dir gives no priors") {
    assert(Bench.priors("""{"sf":"other","cpus":4,"queries":{"a":2.0}}""", "d", 4) == ((Map.empty, Map.empty)))
  }

  test("a record without cpus gives no priors") {
    assert(Bench.priors("""{"sf":"d","queries":{"a":2.0}}""", "d", 4) == ((Map.empty, Map.empty)))
  }

  test("a record of another cpus count gives no priors") {
    val record = """{"sf":"d","cpus":32,"queries":{"a":2.0},"sf1_queries":{"a":9.0}}"""
    assert(Bench.priors(record, "d", 4) == ((Map.empty, Map.empty)))
    assert(Bench.priors(record, "d", 32) == ((Map("a" -> 2.0), Map("a" -> 9.0))))
  }

  test("the committed bench_last.json gives one prior for every key in its queries section") {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get("bench_last.json"))
    val root = new ObjectMapper().readTree(text)
    val keys = root.get("queries").fieldNames().asScala.toSet
    val (p, _) = Bench.priors(text, root.get("sf").asText(), root.get("cpus").asInt)
    assert(keys.nonEmpty && keys.subsetOf(p.keySet))
  }

  /** `keys` in the record text Bench prints, and that text parsed back. */
  def text(keys: ObjectNode): String = new ObjectMapper().writeValueAsString(
    new ObjectMapper().createObjectNode().put("metric", "total").setAll[ObjectNode](keys))
  def reparsed(keys: ObjectNode) = new ObjectMapper().readTree(text(keys))

  test("a record for an sf dir holding a quote and a backslash parses, and priors returns it") {
    val dir = "/data/sf \"0.1\"\\x"
    val keys = Bench.record(dir, 4, Map("a" -> 2.0, "b" -> 0.5), Map("a" -> 1.5), 0.8)
    val record = reparsed(keys)
    assert(record.get("sf").asText == dir && record.get("value").asDouble == 2.5)
    assert(record.get("host").get("heap_mb").asLong > 0 && record.get("host").has("jvm"))
    assert(Bench.priors(text(keys), dir, 4) == ((Map("a" -> 1.5, "b" -> 0.5), Map.empty)))
  }

  test("a failed sf1 stage records its error class and message") {
    assert(reparsed(Bench.sf1Stage(new ObjectMapper().createObjectNode().put("sf1_total", 1.5)))
      .get("sf1_total").asDouble == 1.5)
    val failed = reparsed(Bench.sf1Stage(throw new IllegalStateException("no \"corpus\" here")))
    assert(failed.get("sf1_error").asText == "java.lang.IllegalStateException: no \"corpus\" here")
    // ScaleUp's refusal to scale a corpus into itself, before any Spark work
    val dir = java.nio.file.Files.createTempDirectory("bench_sf1").toString
    val refused = reparsed(Bench.sf1Stage { ScaleUp.ensure(null, dir, dir, 10); new ObjectMapper().createObjectNode() })
    assert(refused.get("sf1_error").asText.startsWith(
      "java.lang.IllegalArgumentException: requirement failed: ScaleUp src == dst"))
  }

  test("a query that throws reads -1.0 and leaves its class and message in errors") {
    val errors = scala.collection.mutable.Map.empty[String, String]
    val t = Bench.time(spark, sf, "boom",
      (_, _) => throw new IllegalStateException("no \"rows\" here"), errors)
    assert(t == -1.0)
    assert(errors == Map("boom" -> "java.lang.IllegalStateException: no \"rows\" here"))
    assert(Bench.time(spark, sf, "ok", (s, _) => s.range(3).toDF(), errors) >= 0)
    assert(errors.keySet == Set("boom"))
    val record = reparsed(Bench.putNonEmpty(new ObjectMapper().createObjectNode(), "errors", errors))
    assert(record.get("errors").get("boom").asText == "java.lang.IllegalStateException: no \"rows\" here")
    assert(reparsed(Bench.putNonEmpty(new ObjectMapper().createObjectNode(), "errors", Map.empty)) ==
      reparsed(new ObjectMapper().createObjectNode()))
  }
}
