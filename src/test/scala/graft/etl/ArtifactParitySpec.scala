package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Full-artifact regression pin (VERDICT r5 "What's missing" #3): the
  * golden tuples pin 11 scalars; this spec pins ALL ~45k rows of every
  * published artifact by content hash, so any unintended parse /
  * header / recode / math change diffs against a full snapshot instead
  * of 11 points. Renders each artifact through the REAL sink
  * (Writers.prettyJsonArray — the byte-level pandas-parity renderer,
  * WritersParitySpec) over the real raw workbooks, restricted to the
  * stable 2003-2023 domain (a future 2024 workbook must not flip the
  * hash).
  *
  * Rows are ordered by ALL columns before rendering: the pin is on
  * CONTENT under a total order. (Artifact row ORDER itself is the O1
  * global sort, pinned separately by the sort_nulls_last oracle, and
  * Spark's sort is not stable under ties across partition layouts —
  * hashing the production order would flake.)
  *
  * If a hash mismatch is INTENDED (a deliberate semantic change), the
  * failure message prints the new hash to re-pin — the point is that
  * the diff is a conscious act in review, never silent.
  *
  * Every pin cancels, naming the directory, where the reference raw
  * directory (`rawDir`) is absent: the hashes are of the real
  * workbooks' content and have no synthesized equivalent.
  * AspepHermeticGoldenSpec checks the three artifacts of a synthesized
  * raw directory cell by cell instead.
  */
class ArtifactParitySpec extends AnyFunSuite {

  private val rawDir = "/root/reference/data/raw"

  /** Bit-stability demands ORDER-FIXED float math. Two sources of
    * run-to-run double-ulp drift hit this pin in r6 before it was
    * hardened (hash differed suite-vs-standalone AND suite-vs-suite):
    * DeterminismSpec flips spark.sql.shuffle.partitions on the shared
    * session mid-run (suites run in parallel), and reduce-side
    * aggregate merges combine map partials in shuffle-fetch ARRIVAL
    * order, which varies under concurrent-suite load. An ulp changes
    * the rendered decimal bytes and the hash.
    *
    * So the pin is DEFINED at a single-partition layout: an isolated
    * newSession (own SQLConf — no concurrent suite can flip it) with
    * shuffle.partitions=1 plus coalesce(1) on the combined input, so
    * every aggregate/window sees exactly one partial in file order and
    * byte-identity is a property of the DATA, not the scheduler. The
    * ulp-level layout sensitivity itself is inherent to float sums;
    * semantic accuracy vs the reference is AspepGoldenSpec's rel_tol
    * job, not this pin's.
    *
    * Production now uses this layout too: `Canonical.combineYears`
    * sorts the panel as one partition, and the derive and extended
    * stages over it plan no exchange. The `coalesce(1)` and the
    * isolated session stay, so the pin does not depend on that.
    */
  lazy val spark: SparkSession = {
    val s = graft.Harness.session().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private lazy val combined: DataFrame = {
    spark.sparkContext.setLogLevel("WARN")
    Canonical.combineYears(spark, rawDir).filter(col("year") <= 2023)
      .coalesce(1).cache()
  }

  private def artifactHash(df: DataFrame): (String, Long) = {
    val ordered = df.orderBy(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val tmp = java.nio.file.Files.createTempFile("graft_artifact", ".json")
    try {
      Writers.prettyJsonArray(ordered, tmp.toString)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val in = java.nio.file.Files.newInputStream(tmp)
      try {
        val buf = new Array[Byte](1 << 16)
        Iterator.continually(in.read(buf)).takeWhile(_ > 0)
          .foreach(n => md.update(buf, 0, n))
      } finally in.close()
      (md.digest().map("%02x".format(_)).mkString, java.nio.file.Files.size(tmp))
    } finally java.nio.file.Files.delete(tmp)
  }

  private def pin(name: String, expectedSha: String, df: => DataFrame): Unit =
    test(s"artifact snapshot: $name") {
      assume(new java.io.File(rawDir).isDirectory, s"reference raw workbooks not found: $rawDir")
      val (sha, bytes) = artifactHash(df)
      assert(sha == expectedSha,
        s"$name artifact content changed (sha256=$sha, $bytes bytes). If this " +
          "change is intended, review the semantic diff and re-pin the hash.")
    }

  pin("combined_data.json", "c59fbeb87f9ded46bf379ad50af537c9c5b856b6ca0ea2edf481631df4b34cee", combined)
  pin("derived_stats.json", "0c821f26beb6f9289a6cbf77165736fe378ac5bbbbf596bb4acb6f4bb74da0ef", DeriveStats.deriveStats(combined))
  pin("extended_stats.json", "33a3efd51c2245288f206ead346c47a1a88c4207551f4218433db01200672ef7",
    ExtendedStats.deriveExtendedStats(DeriveStats.deriveStats(combined)))
}
