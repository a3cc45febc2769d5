package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL extension entry point must register the native functions on
  * a session built with `spark.sql.extensions=graft.GraftExtensions`.
  * A second session is created on the SAME SparkContext (getOrCreate
  * reuses it) with the extension applied, then active/default are
  * restored for the other suites.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension registers slugify and dot_product for pure SQL") {
    // make sure a base session/context exists first
    val base = Harness.session()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a STATIC conf — ignored when the
      // SparkContext already exists — so the in-JVM test uses the
      // programmatic equivalent; a fresh cluster reads the conf form.
      // pinned apart from the profile: the extension alone must register the functions
      val withExt = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val slug = withExt.sql("SELECT slugify(' Total Pay  (March) ') AS s")
        .head().getString(0)
      assert(slug == "total_pay_march")
      val d = withExt.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(d == 11.0)
      val ic = withExt.sql(
        "SELECT intersect_count(array('a','b','c'), array('b','c','d')) AS n")
        .head().getInt(0)
      assert(ic == 2)
      // round-5 kernel registrations
      assert(withExt.sql("SELECT hash60('abc') AS h").head().getLong(0) ==
        java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest("abc".getBytes).take(8).map(b => f"$b%02x").mkString.take(15), 16))
      assert(withExt.sql("SELECT norm_text(' A,b  C! ')").head().getString(0) == "a b c")
      assert(withExt.sql("SELECT size(norm_tokens('A b c'))").head().getInt(0) == 3)
      assert(withExt.sql(
        "SELECT run_length_max(array('a','a','b'))").head().getLong(0) == 2L)
      assert(withExt.sql(
        "SELECT pii_redact_text('mail a1@b.c now')").head().getString(0) == "mail <EMAIL> now")
      assert(withExt.sql(
        "SELECT pii_count_emails('a@b.c x@y.z')").head().getLong(0) == 2L)
      assert(withExt.sql(
        "SELECT pii_count_ips('from 1.2.3.4')").head().getLong(0) == 1L)
      assert(withExt.sql(
        "SELECT clean_numeric('(1,234)')").head().getString(0) == "-1234")
      assert(withExt.sql(
        "SELECT group_digits(1234567L)").head().getString(0) == "1,234,567")
      assert(withExt.sql(
        "SELECT size(shingle_hash60(array('a','b','c'), 2))").head().getInt(0) == 2)
      assert(!withExt.sql(
        "SELECT min_gram_hash60('abcdefghij', 8)").head().isNullAt(0))
      // the k argument must be a literal
      intercept[org.apache.spark.sql.AnalysisException] {
        withExt.sql("SELECT shingle_hash60(array('a'), length('xx'))").collect()
      }
      // wrong arity must be a proper analysis error naming the function
      // and the expected count, not an IndexOutOfBoundsException
      for ((sql, fn) <- Seq(
          "SELECT dot_product(array(1.0d))" -> "dot_product",
          "SELECT slugify('a', 'b')" -> "slugify",
          "SELECT intersect_count(array('a'))" -> "intersect_count",
          "SELECT hash60('a', 'b')" -> "hash60",
          "SELECT min_gram_hash60('a')" -> "min_gram_hash60")) {
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          withExt.sql(sql).collect()
        }
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", sql)
        assert(e.getMessage.contains(fn), sql)
      }
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
