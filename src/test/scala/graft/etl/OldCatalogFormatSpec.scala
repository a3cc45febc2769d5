package graft.etl

import graft.SparkTestBase

/** Catalogs written before the catalog's JSON codec moved to Jackson
  * still read. `fixtures/old_catalog` was written by the previous
  * hand-rolled encoder: single-document stats and Bloom sidecars over
  * NaN, a backslash, a supplementary character, a decimal and longs
  * near 2^63; executor-written fragments with `part-empty.json`;
  * appends folded into `@seg=` segments; a row-level delete (`_del:`);
  * a tag and a branch; a schema step; and exactly-once ledger entries
  * (`_txn:`), one with a raw tab in its key. Every value below is what
  * that encoder's own reader gave for the fixture. */
class OldCatalogFormatSpec extends SparkTestBase {

  private lazy val root = {
    val d = new java.io.File("target/old_catalog_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(getClass.getResource("/fixtures/old_catalog").toURI), d)
    d.getPath
  }
  private lazy val cat = new SnapshotCatalog(root)

  /** table -> its rows as sorted `Row.toString`s. */
  private def rows(s: SnapshotCatalog.Snapshot): Map[String, Seq[String]] =
    s.tables.keys.map(t => t -> s.read(spark, t).collect().map(_.toString).toSeq.sorted).toMap

  test("manifests, commit times and refs read as before") {
    assert(cat.linkedIds == Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11))
    assert(cat.linkedIds.map(k => cat.commitMs(k)) == Seq(1792576902128L, 1792576904829L, 1792576904987L, 1792576905125L, 1792576905277L, 1792576905873L, 1792576905875L, 1792576905876L, 1792576905879L, 1792576906143L, 1792576906395L))
    assert(cat.manifest(11) == Map(
      "_del:facts" -> "d=5524cf3e-2aea:id@6",
      "_ref:audit-1" -> "2:t",
      "_ref:prod" -> "6:b",
      "_schema:facts" -> "9:r:amt=amount|9:a:note=string",
      "_ts" -> "1792576906395",
      "_txn:cdc\u0009feed" -> "7",
      "_txn:\u00e9 t:x" -> "3",
      "e t:x" -> "u=4d7a722a-ecea@1",
      "facts" -> "@seg=f31651a8-3a44|@seg=363ec438-e573",
      "measures" -> "u=a8174e46-09ba@1",
      "summary" -> "u=437ae658-a160@10",
      "summary2" -> "u=8fb9fea0-0b6d@11",
      "wide" -> "u=c795ce8a-1929@2"))
    assert(cat.refs == Map(
      "audit-1" -> (2, true),
      "prod" -> (6, false)))
  }

  test("rows per table, per ref, and under the evolved schema read as before") {
    assert(rows(cat.snapshot()) == Map(
      "e t:x" -> Seq("[1,x]"),
      "facts" -> Seq("[1,k1,10]", "[10,k10,100]", "[11,k11,110]", "[12,k12,120]", "[2,k2,20]", "[4,k4,40]", "[5,k5,50]", "[6,k6,60]", "[7,k7,70]", "[8,k8,80]", "[9,k9,90]"),
      "measures" -> Seq("[1,1.5,0.1,a\\b,12345.6789000000,9223372036854775806]", "[2,NaN,2.0,\ud83d\ude00x,-1.000E-7,42]", "[3,0.1,-1.5,q\"uote,0E-10,-9223372036854775807]", "[4,-2.5E-7,3.25,plain,100.0000000000,-7]"),
      "summary" -> Seq("[3,60]"),
      "summary2" -> Seq("[2]"),
      "wide" -> Seq("[1,w1]", "[2,w2]", "[3,w3]", "[4,w4]")))
    val perRef = Map(
      "audit-1" -> Map(
        "e t:x" -> Seq("[1,x]"),
        "facts" -> Seq("[1,k1,10]", "[2,k2,20]", "[3,k3,30]", "[4,k4,40]", "[5,k5,50]", "[6,k6,60]"),
        "measures" -> Seq("[1,1.5,0.1,a\\b,12345.6789000000,9223372036854775806]", "[2,NaN,2.0,\ud83d\ude00x,-1.000E-7,42]", "[3,0.1,-1.5,q\"uote,0E-10,-9223372036854775807]", "[4,-2.5E-7,3.25,plain,100.0000000000,-7]"),
        "wide" -> Seq("[1,w1]", "[2,w2]", "[3,w3]", "[4,w4]")),
      "prod" -> Map(
        "e t:x" -> Seq("[1,x]"),
        "facts" -> Seq("[1,k1,10]", "[10,k10,100]", "[11,k11,110]", "[12,k12,120]", "[2,k2,20]", "[4,k4,40]", "[5,k5,50]", "[6,k6,60]", "[7,k7,70]", "[8,k8,80]", "[9,k9,90]"),
        "measures" -> Seq("[1,1.5,0.1,a\\b,12345.6789000000,9223372036854775806]", "[2,NaN,2.0,\ud83d\ude00x,-1.000E-7,42]", "[3,0.1,-1.5,q\"uote,0E-10,-9223372036854775807]", "[4,-2.5E-7,3.25,plain,100.0000000000,-7]"),
        "wide" -> Seq("[1,w1]", "[2,w2]", "[3,w3]", "[4,w4]")))
    perRef.foreach { case (r, want) => assert(rows(cat.snapshotAtRef(r)) == want, r) }
    val evolved = cat.readAsCurrentSchema(spark, 1, "facts")
    assert(evolved.columns.toSeq == Seq("id", "k", "amt", "note"))
    assert(evolved.collect().map(_.toString).toSeq.sorted == Seq("[1,k1,10,null]", "[2,k2,20,null]", "[3,k3,30,null]", "[4,k4,40,null]", "[5,k5,50,null]", "[6,k6,60,null]"))
  }

  test("every stats triple and Bloom word map reads as before, both sidecar layouts") {
    // the fixture holds both layouts: one document, and fragments
    // with the zero-row file's part-empty.json
    val frags = new java.io.File(s"$root/wide/u=c795ce8a-1929/_graft_stats.d").list().toSeq.sorted
    assert(frags == Seq("part-00000.json", "part-00001.json", "part-00002.json",
      "part-00003.json", "part-empty.json"))
    assert(new java.io.File(s"$root/measures/u=a8174e46-09ba/_graft_stats.json").isFile)
    // a number compares by its decimal text: digits AND scale
    def exact(m: Map[String, Map[String, (Option[(Any, Any)], Long)]]) =
      m.map { case (f, cols) => f -> cols.map { case (c, (b, n)) =>
        c -> (b.map { case (lo, hi) => (lo.toString, hi.toString) }, n) } }
    val stats = Map(
      "measures/u=a8174e46-09ba" -> Map(
        "part-00000-2f542c85-362d-4b1f-92e0-99130daebec4-c000.snappy.parquet" -> Map(
          "big" -> (Some((BigDecimal("42"), BigDecimal("9223372036854775806"))), 2L),
          "d" -> (None, 2L),
          "dec" -> (Some((BigDecimal("-1.000E-7"), BigDecimal("12345.6789000000"))), 2L),
          "f" -> (Some((BigDecimal("0.1"), BigDecimal("2.0"))), 2L),
          "id" -> (Some((BigDecimal("1"), BigDecimal("2"))), 2L),
          "s" -> (Some(("a\\b", "\ud83d\ude00x")), 2L)),
        "part-00001-2f542c85-362d-4b1f-92e0-99130daebec4-c000.snappy.parquet" -> Map(
          "big" -> (Some((BigDecimal("-9223372036854775807"), BigDecimal("-7"))), 2L),
          "d" -> (Some((BigDecimal("-2.5E-7"), BigDecimal("0.1"))), 2L),
          "dec" -> (Some((BigDecimal("0E-10"), BigDecimal("100.0000000000"))), 2L),
          "f" -> (Some((BigDecimal("-1.5"), BigDecimal("3.25"))), 2L),
          "id" -> (Some((BigDecimal("3"), BigDecimal("4"))), 2L),
          "s" -> (Some(("plain", "q\"uote")), 2L))),
      "wide/u=c795ce8a-1929" -> Map(
        "part-00000-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (None, 0L),
          "k" -> (None, 0L)),
        "part-00001-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (Some((BigDecimal("1"), BigDecimal("1"))), 1L),
          "k" -> (Some(("w1", "w1")), 1L)),
        "part-00002-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (Some((BigDecimal("2"), BigDecimal("2"))), 1L),
          "k" -> (Some(("w2", "w2")), 1L)),
        "part-00003-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (Some((BigDecimal("3"), BigDecimal("3"))), 1L),
          "k" -> (Some(("w3", "w3")), 1L)),
        "part-00004-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (Some((BigDecimal("4"), BigDecimal("4"))), 1L),
          "k" -> (Some(("w4", "w4")), 1L))))
    val blooms = Map(
      "measures/u=a8174e46-09ba" -> Map(
        "part-00000-2f542c85-362d-4b1f-92e0-99130daebec4-c000.snappy.parquet" -> Map(
          "big" -> (64L, Seq((0, 162138382678360065L))),
          "s" -> (64L, Seq((0, 72057613365282816L)))),
        "part-00001-2f542c85-362d-4b1f-92e0-99130daebec4-c000.snappy.parquet" -> Map(
          "big" -> (64L, Seq((0, 281474980905000L))),
          "s" -> (64L, Seq((0, 2305843009482268672L))))),
      "wide/u=c795ce8a-1929" -> Map(
        "part-00001-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (64L, Seq((0, 70368744210432L))),
          "k" -> (64L, Seq((0, 1099520016384L)))),
        "part-00002-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (64L, Seq((0, 35433480192L))),
          "k" -> (64L, Seq((0, 35184372154368L)))),
        "part-00003-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (64L, Seq((0, 35184388866048L))),
          "k" -> (64L, Seq((0, 144115188075856128L)))),
        "part-00004-45b50315-3ba7-4c76-91cb-0d5a19a98c3f-c000.snappy.parquet" -> Map(
          "id" -> (64L, Seq((0, 1152921504606855168L))),
          "k" -> (64L, Seq((0, 1125899906842752L))))))
    assert(stats.keySet == blooms.keySet)
    stats.keys.foreach { d =>
      val got = SnapshotCatalog.parseStatsFile(s"$root/$d").get
      assert(got == stats(d), d)
      assert(exact(got) == exact(stats(d)), d)
      assert(SnapshotCatalog.readFileBlooms(s"$root/$d").get ==
        blooms(d).map { case (f, cols) => f -> cols.map { case (c, (m, ws)) => c -> (m, ws.toMap) } }, d)
    }
  }
}
