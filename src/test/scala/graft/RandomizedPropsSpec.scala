package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Cleaning
import scala.util.Random

/** Seeded randomized properties: engine expressions checked against
  * independent Scala reference implementations on generated inputs
  * (fixed seeds — deterministic across runs).
  */
class RandomizedPropsSpec extends SparkTestBase {
  import spark.implicits._

  test("cleanNumeric inverts messy formatting for 500 random values") {
    val rnd = new Random(42)
    val cases = (1 to 500).map { _ =>
      val v = rnd.between(-99999999L, 99999999L)
      val abs = math.abs(v)
      val grouped = f"$abs%,d"
      val messy = rnd.nextInt(4) match {
        case 0 => if (v < 0) s"-$grouped" else grouped
        case 1 => if (v < 0) s"($grouped)" else grouped   // accounting
        case 2 => if (v < 0) s"−$grouped" else grouped // unicode minus
        case 3 => if (v < 0) s"–$grouped" else grouped // en-dash
      }
      (messy, v.toDouble)
    }
    val got = cases.map(_._1).toDF("s")
      .select(Cleaning.cleanNumeric($"s")).as[Option[Double]].collect()
    cases.zip(got).foreach { case ((messy, expected), actual) =>
      assert(actual.contains(expected), s"'$messy' -> $actual, want $expected")
    }
  }

  test("norm_text / norm_tokens / shingle_hash60 kernels == composed forms on 500 random unicode strings") {
    import graft.functions.TextFunctions._
    val rnd = new Random(7)
    // alphabet mixes alnum, ASCII punct/space runs, and multi-byte
    // codepoints (both separators under the \s-excluded char class)
    val alpha = "aZ09 ,.!\t\néπ中 "
    val rows = (1 to 500).map(_ =>
      (1 to rnd.nextInt(40)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val df = rows.toDF("t").select($"t", tokens($"t").as("toks"))
    val bad = df.select(
      graft.functions.NormText.normText($"t").as("a"),
      normTextComposed($"t").as("b"),
      gramHashes($"toks", 2).as("g"),
      transform(wordShingles($"toks", 2), x => hash60(x)).as("gr"))
      .filter($"a" =!= $"b" || $"g" =!= $"gr")
      .count()
    assert(bad === 0)
  }

  test("pii kernels == regex forms on 1000 random strings over a hostile alphabet") {
    val rnd = new Random(11)
    val alpha = "a1@. -x0"
    val rows = (1 to 1000).map(_ =>
      (1 to (2 + rnd.nextInt(25))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val ipRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    val bad = rows.toDF("s").select(
      graft.functions.PiiScan.redact($"s").as("a"),
      regexp_replace(regexp_replace($"s", emailRe, "<EMAIL>"), ipRe, "<IP>").as("b"),
      graft.functions.PiiScan.countEmails($"s").as("ce"),
      size(regexp_extract_all($"s", lit(emailRe), lit(0))).cast("long").as("cer"),
      graft.functions.PiiScan.countIps($"s").as("ci"),
      size(regexp_extract_all($"s", lit(ipRe), lit(0))).cast("long").as("cir"))
      .filter($"a" =!= $"b" || $"ce" =!= $"cer" || $"ci" =!= $"cir")
      .count()
    assert(bad === 0)
  }

  test("slugify is idempotent on 300 random strings") {
    val rnd = new Random(7)
    val chars = "abZ019 _-()ü\t."
    val inputs = (1 to 300).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => chars(rnd.nextInt(chars.length))).mkString
    }
    inputs.foreach { x =>
      val once = etl.Slug.slugify(x)
      assert(etl.Slug.slugify(once) == once, s"not idempotent on '$x'")
    }
  }

  test("window rank matches a reference pandas-style rank on random groups") {
    // reference: rank(method="min", ascending=False), NaN -> None
    def refRank(xs: Seq[Option[Double]]): Seq[Option[Int]] =
      xs.map {
        case None => None
        case Some(x) => Some(1 + xs.count(_.exists(_ > x)))
      }
    val rnd = new Random(99)
    val rows = (1 to 400).map { i =>
      val g = rnd.nextInt(8)
      val v = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(12).toDouble) // many ties + nulls
      (i, g, v)
    }
    val df = rows.toDF("id", "g", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy($"v".desc_nulls_last)
    val got = df.select($"id", $"g", $"v",
        when($"v".isNotNull, rank().over(w)).as("r"))
      .collect().map(r => (r.getInt(0), if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    rows.groupBy(_._2).foreach { case (_, grp) =>
      val expected = refRank(grp.map(_._3))
      grp.map(_._1).zip(expected).foreach { case (id, exp) =>
        assert(got(id) == exp, s"id $id: got ${got(id)}, want $exp")
      }
    }
  }

  test("ExtendedStats count ranks == rank().over on random cohorts with ties, nulls, NaN, ±0.0, ±∞") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new Random(23)
    val pool: Seq[Option[Double]] = Seq(None, Some(Double.NaN), Some(0.0), Some(-0.0),
      Some(Double.PositiveInfinity), Some(Double.NegativeInfinity)) ++
      (-3 to 3).map(i => Some(i.toDouble)) // small range: many ties
    def draw(): Option[Double] = pool(rnd.nextInt(pool.length))
    val rows = for (s <- 0 until 9; f <- Seq("highways", "libraries"); y <- 2003 to 2008)
      yield (s"S$s", f, y, draw(), draw())
    val derived = rows.toDF("state code", "gov_function", "year", "ft_employment", "total_pay")
    val ext = graft.etl.ExtendedStats.deriveExtendedStats(derived)

    // reference: the sort-based form, one RANK() window per rank column
    val cohort = Window.partitionBy("year", "gov_function")
    def reference(rankCol: String): Column = {
      val (src, dir) =
        if (rankCol.endsWith("_pos_rank")) (rankCol.stripSuffix("_pos_rank"), "pos")
        else if (rankCol.endsWith("_neg_rank")) (rankCol.stripSuffix("_neg_rank"), "neg")
        else (rankCol.stripSuffix("_rank"), "base")
      val x = col(src)
      val (key, order) = dir match {
        case "pos" => val k = when(x > 0, x); (k, k.desc_nulls_last)
        case "neg" => val k = when(x < 0, x); (k, k.asc_nulls_last)
        case _ => (x, x.desc_nulls_last)
      }
      when(key.isNotNull, rank().over(cohort.orderBy(order)))
    }
    val rankCols = ext.columns.filter(_.endsWith("_rank")).toSeq
    assert(rankCols.length == 2 * 9) // 2 stat columns x (1 + 4 deltas x 2 directions)
    val got = ext.select(rankCols.map(col) ++ rankCols.map(reference): _*).collect()
    assert(got.length == rows.length)
    val n = rankCols.length
    got.foreach { r =>
      rankCols.indices.foreach { i =>
        val (a, b) = (r.get(i), r.get(i + n))
        assert(a == b, s"${rankCols(i)}: count form $a, rank().over $b")
      }
    }
  }

  test("safe division over random inputs never yields infinity") {
    val rnd = new Random(3)
    val pairs = (1 to 300).map { _ =>
      (rnd.nextDouble() * 1e6 - 5e5,
        if (rnd.nextInt(4) == 0) 0.0 else rnd.nextDouble() * 10 - 5)
    }
    val got = pairs.toDF("a", "b")
      .select(Cleaning.safeDiv($"a", $"b")).as[Option[Double]].collect()
    assert(got.forall(o => o.forall(v => !v.isInfinite)))
    pairs.zip(got).foreach { case ((_, b), o) =>
      if (b == 0.0) assert(o.isEmpty, "x/0 must be null")
    }
  }

  test("kCore == an in-memory peel replay on 8 random graphs") {
    val rnd = new Random(17)
    (1 to 8).foreach { trial =>
      val nV = 4 + rnd.nextInt(16)
      val edges = (0 until nV * 2).map { _ =>
        val a = rnd.nextInt(nV).toLong
        val b = rnd.nextInt(nV).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        // reference: synchronized peel to fixpoint over adjacency sets
        var adj = edges.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        var changed = true
        while (changed) {
          val dead = adj.collect { case (v, ns) if ns.size < 2 => v }.toSet
          changed = dead.nonEmpty
          adj = (adj -- dead).view
            .mapValues(_ -- dead).toMap.filter(_._2.nonEmpty)
        }
        val expected = adj.view.mapValues(_.size.toLong).toMap
        // synchronized peel depth on <= 20 vertices is <= 10 rounds;
        // the eager share points truncate the per-round lineage (a lazy
        // 12-round composition re-analyzes a deeply nested plan)
        val got = operators.Graph.kCore(
          edges.toDF("doc_a", "doc_b"), k = 2, rounds = 12)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial: $edges")
      }
    }
  }

  test("labelPropagation == an in-memory synchronous replay on 8 random graphs") {
    val rnd = new Random(23)
    (1 to 8).foreach { trial =>
      val nV = 4 + rnd.nextInt(16)
      val edges = (0 until nV * 2).map { _ =>
        val a = rnd.nextInt(nV).toLong
        val b = rnd.nextInt(nV).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val adj = edges.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        // reference: synchronous majority with min-label tiebreak —
        // every vertex updates from the SAME previous-round labels
        var lab = adj.keys.map(v => v -> v).toMap
        (1 to 3).foreach { _ =>
          lab = adj.map { case (v, ns) =>
            val counts = ns.groupBy(lab).view.mapValues(_.size).toMap
            val best = counts.values.max
            v -> counts.collect { case (l, c) if c == best => l }.min
          }
        }
        val got = operators.Graph.labelPropagation(
          edges.toDF("doc_a", "doc_b"), rounds = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == lab, s"trial $trial: $edges")
      }
    }
  }
}
