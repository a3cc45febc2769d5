package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Specs run in the profile session (`Harness.session`): the same
  * session, made active and default, whatever the suite order. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session()
  val sf: String = "/root/testdata/sf0.001"
}
