package graft.etl

import graft.SparkTestBase

/** A manifest key holds a table name or a writer id, and either may
  * hold quotes, backslashes, spaces, colons or non-ASCII characters
  * (a table name over SQL is a backticked identifier): each one must
  * read back under its own name. */
class CatalogTableNameSpec extends SparkTestBase {

  import spark.implicits._

  test("tables named with a quote, a backslash or a colon read back under their own names") {
    val d = new java.io.File("target/catalog_table_name_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    val cat = new SnapshotCatalog(d.getPath)
    // a table name is also a directory name, which a JVM without a
    // UTF-8 locale cannot encode when it is not ASCII: the writer id
    // below carries the non-ASCII key
    val names = Seq("a\"b", "a\\b", "e t:x")
    // one commit each: later manifests carry the earlier names forward
    // through a read and a re-write
    names.zipWithIndex.foreach { case (n, i) =>
      cat.commit(Map(n -> Seq((i.toLong, n)).toDF("id", "name").coalesce(1)))
    }
    val snap = cat.snapshot()
    assert(snap.tables.keySet == names.toSet)
    names.foreach(n =>
      assert(new java.io.File(d, s"$n/${snap.dataDirs(n).head}").isDirectory, n))
    // a read path goes through Hadoop's glob, where `\` escapes: the
    // backslash table's rows are not read here
    Seq("a\"b" -> 0L, "e t:x" -> 2L).foreach { case (n, i) =>
      assert(snap.read(spark, n).as[(Long, String)].collect().toSeq == Seq((i, n)), n)
    }
    // the exactly-once ledger finds its entry only under its own key
    val writer = "é w:\\x"
    val k = cat.commitIfNew(writer, 1L, Map("a\"b" -> Seq((9L, "w")).toDF("id", "name")))
    assert(cat.manifest(k).get(s"_txn:$writer").contains("1"))
    assert(cat.commitIfNew(writer, 1L, Map("a\"b" -> Seq((10L, "w")).toDF("id", "name"))) == k)
  }
}
