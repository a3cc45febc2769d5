package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench.priors`: the retry priors read from a previous run's
  * `bench_last.json`. */
class BenchSpec extends AnyFunSuite {

  test("a prior written with a negative exponent reads as its value") {
    val (p, _) = Bench.priors("""{"sf":"d","queries":{"a":1.0E-4,"b":2.5}}""", "d")
    assert(p == Map("a" -> 1.0e-4, "b" -> 2.5))
  }

  test("latest readings and the floor merge by min, per stage") {
    val (p, p1) = Bench.priors(
      """{"sf":"d","queries":{"a":2.0,"b":1.0},"queries_floor":{"a":1.5,"c":0.7},""" +
        """"sf1_queries":{"a":9.0},"sf1_floor":{"a":12.0,"d":3.0}}""", "d")
    assert(p == Map("a" -> 1.5, "b" -> 1.0, "c" -> 0.7))
    assert(p1 == Map("a" -> 9.0, "d" -> 3.0))
  }

  test("a record of another sf dir gives no priors") {
    assert(Bench.priors("""{"sf":"other","queries":{"a":2.0}}""", "d") == ((Map.empty, Map.empty)))
  }

  test("the committed bench_last.json gives one prior for every key in its queries section") {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get("bench_last.json"))
    val root = new ObjectMapper().readTree(text)
    val keys = root.get("queries").fieldNames().asScala.toSet
    val (p, _) = Bench.priors(text, root.get("sf").asText())
    assert(keys.nonEmpty && keys.subsetOf(p.keySet))
  }
}
