package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `m` as one JSON object in UTF-8. Jackson escapes the quote, the
    * backslash and every control character: a tab or CR in
    * builder-authored SQL must not make the driver's json.load fail
    * and silently zero the round's correctness. */
  def writeJson(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path), new ObjectMapper().writeValueAsString(m.asJava))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: re-dump only the named queries (dev tool —
    // the driver's 2-arg invocation still dumps everything). A name
    // that matches nothing must fail loudly: a silent skip would leave
    // a stale dump that then reads as a fresh green result.
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }
}
