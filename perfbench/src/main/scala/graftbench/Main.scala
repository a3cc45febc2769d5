package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{ScaleUp, SparkEntry, Tables}
import graft.etl.{Canonical, DeriveStats, ExcelReader, ExtendedStats, Writers}
import graft.operators._

/** Benchmark process for one workload: set-up, an untimed warm-up
  * where the workload has one, then closed-loop timed passes (one
  * client; each operation starts after the previous one finished) until
  * `--seconds` have elapsed. With `--trace 1` the timed passes run with
  * the per-layer collector on.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1 --out FILE
  *             [--corpus DIR] [--states N] [--functions N]
  *
  * `--corpus` is the sf0.001 corpus the registry workload scales up;
  * `--states` and `--functions` size the ASPEP input (default 6 and 10).
  *
  * Writes one JSON document to FILE (operations, passes, set-up
  * samples, checks, layer sums, host facts); the wrapper script turns
  * it into metrics. Relative paths (inputs, `target/lane_cache`,
  * `target/snapcat`) resolve against the working directory.
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** The 22 operator objects; a query belongs to the module whose
    * `queries` map holds its name. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "AdvAnn" -> AdvAnn.queries, "AdvCorpus" -> AdvCorpus.queries, "Ann" -> Ann.queries,
    "Cdc" -> Cdc.queries, "Composite" -> Composite.queries, "Corpus" -> Corpus.queries,
    "CorpusAnalytics" -> CorpusAnalytics.queries, "Dedup" -> Dedup.queries,
    "Graph" -> Graph.queries, "MultiDim" -> MultiDim.queries, "Multimodal" -> Multimodal.queries,
    "PartSupp" -> PartSupp.queries, "Profile" -> Profile.queries,
    "QualityFilters" -> QualityFilters.queries, "Relational" -> Relational.queries,
    "Retrieval" -> Retrieval.queries, "Sketch" -> Sketch.queries, "StarJoin" -> StarJoin.queries,
    "Temporal" -> Temporal.queries, "TextAnalysis" -> TextAnalysis.queries,
    "TrainPrep" -> TrainPrep.queries, "VectorOps" -> VectorOps.queries)

  /** The registry sample: eleven queries from eleven operator modules
    * — the SQL catalog round trip through `graft.sources`, a lane
    * consumer (`ann_bruteforce_topk`), three of the data-bound queries
    * (`panel_pipeline`, `basket_pairs`, `group_quantiles`) and the
    * cheapest query of six more modules. */
  val registrySample: Seq[String] = Seq("sql_write_roundtrip", "panel_pipeline",
    "ann_bruteforce_topk", "basket_pairs", "group_quantiles", "dedup_simhash",
    "normalize_text", "trivial_row_filter", "interval_band_join", "token_freq_spectrum",
    "embedding_quantize")

  final case class Op(name: String, pass: Int, seconds: Double, rows: Long,
                      error: Option[(String, String)])
  final case class Check(name: String, pass: Int, op: String, ok: Boolean, detail: String)

  /** Seeded Fisher-Yates permutation. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used by this JVM so far, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU seconds used so far by HotSpot's JIT compiler threads, from
    * `/proc/self/task` (Linux; clock ticks of 10 ms). The JVM runs with
    * a fixed set of compiler threads, so none exits and loses its
    * count. 0 where `/proc` is missing. */
  def jitCpuS: Double = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) 0.0 else tasks.iterator.map { t =>
      val stat = scala.util.Try(new String(Files.readAllBytes(t.toPath.resolve("stat")))).getOrElse("")
      val close = stat.lastIndexOf(')')
      if (close < 0 || !stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0.0
      else {
        val f = stat.substring(close + 2).split(' ')
        (f(11).toLong + f(12).toLong) / 100.0 // utime + stime
      }
    }.sum
  }

  /** Fixed-work CPU probe in the style of `graft.Bench.calibrate`:
    * one thread per core, 2^27 LCG steps each. */
  def calibrate(cores: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val ts = (0 until cores).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0
        while (k < (1 << 27)) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
        sink.addAndGet(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    secs(t0)
  }

  val cores = 4
  /** Pass number of the registry's warm-up pass, which writes the
    * results for the strict compare; the wrapper script checks its
    * operations like the timed ones. */
  val WarmupPass = -2

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    // aspep_etl set-up is cheap and repeated; the registry's runs ScaleUp
    // and costs a quarter of the run, so it is made once
    val setups = if (workload == "aspep_etl") 3 else 1
    val out = opts("out")
    val nStates = opts.get("states").fold(6)(_.toInt)
    val nFunctions = opts.get("functions").fold(10)(_.toInt)

    val calibS = calibrate(cores)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val trace = new Trace(spark.sparkContext, cores)

    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[Check]
    val passes = mutable.ArrayBuffer.empty[(Double, Double, Double)] // wall s, CPU s, JIT CPU s
    val setupS = mutable.ArrayBuffer.empty[Double]
    val scaleupS = mutable.ArrayBuffer.empty[Double]
    var warmupS = 0.0
    var tracedNow = false
    var passNo = -1

    def drain(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    def rm(path: String): Unit = FileUtils.deleteQuietly(new File(path))
    /** In a traced pass, time `body` as a layer; otherwise just run it. */
    def layer[T](name: String, keys: String*)(body: => T): T =
      if (tracedNow) trace.layer(name, keys: _*)(body) else body
    /** Time one operation; a failure is recorded with its class and message. */
    def op(name: String)(body: => Long): Boolean = {
      val t = System.nanoTime()
      val res = try Right(layer(s"op.$name")(body)) catch {
        case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          Left((e.getClass.getName, String.valueOf(e.getMessage).take(500)))
      }
      ops += Op(name, passNo, secs(t), res.getOrElse(-1L), res.left.toOption)
      res.isRight
    }
    def check(name: String, opName: String, ok: Boolean, detail: => String): Unit =
      checks += Check(name, passNo, opName, ok, if (ok) "" else detail)

    // ---------------------------------------------------------------
    trait Workload {
      /** One complete set-up from scratch. */
      def setup(): Unit
      /** Untimed work before the first timed pass. */
      def warmup(): Unit = ()
      /** One pass; returns the wall, CPU and JIT CPU seconds spent in
        * checks, which the pass times exclude. */
      def pass(rng: SplittableRandom): (Double, Double, Double)
    }

    object Aspep extends Workload {
      val rawDir = "aspep_raw"; val outDir = "aspep_out"
      var raw: Workbooks.Raw = _
      def setup(): Unit = {
        rm(rawDir)
        raw = Workbooks.generate(rawDir, seed, nStates, nFunctions)
      }
      /** `ExcelReader.read` of every workbook, as `combineYears` reads
        * them; graft has no hook inside `combineYears`, so a traced run
        * times this re-read after its passes. */
      def readAll(): Unit = Workbooks.years.foreach { y =>
        ExcelReader.read(s"$rawDir/aspep_$y.xlsx", if (y == 2024) Some("Data") else None)
      }
      def pass(rng: SplittableRandom): (Double, Double, Double) = {
        rm(outDir); new File(outDir).mkdirs()
        val exp = new Expected(raw)
        var combined, derived, extended: DataFrame = null
        def build(stage: String, mk: => DataFrame): DataFrame =
          layer(s"etl.${stage}_build", s"etl.${stage}_build_s")(mk)
        // AspepMain's `count()` split into planning and execution, in
        // untraced passes too, so both kinds of pass make the same calls
        def exec(stage: String, df: DataFrame): Long = {
          layer(s"etl.${stage}_plan", s"etl.${stage}_plan_s")(df.queryExecution.executedPlan)
          layer(s"etl.${stage}_exec", s"etl.${stage}_exec_s")(df.queryExecution.toRdd.count())
        }
        def json(df: DataFrame, file: String): Long = layer(s"etl.json_write.$file", "etl.json_write_s") {
          Writers.prettyJsonArray(df, s"$outDir/$file")
          0L
        }
        // the calls and order of graft.etl.AspepMain
        val ok = op("combine") {
          combined = build("combine", Canonical.combineYears(spark, rawDir).cache())
          exec("combine", combined)
        } && op("combined_json")(json(combined, "combined_data.json")) && op("derive") {
          derived = build("derive", DeriveStats.deriveStats(combined).cache())
          exec("derive", derived)
        } && op("derived_json")(json(derived, "aspep_with_derived_stats.json")) && op("extended") {
          extended = build("extended", ExtendedStats.deriveExtendedStats(derived))
          exec("extended", extended.cache())
        } && op("extended_json")(json(extended, "aspep_with_extended_derived_stats.json")) &&
          op("parquet")(layer("etl.parquet_write", "etl.parquet_write_s") {
            Writers.parquetByYear(combined, s"$outDir/combined_parquet"); 0L
          })
        val (t, c, j) = (System.nanoTime(), cpuS, jitCpuS)
        if (ok) checkArtifacts(exp, combined, derived, extended)
        (secs(t), cpuS - c, jitCpuS - j)
      }

      def jsonRecords(file: String): Long = {
        val it = Files.lines(Paths.get(s"$outDir/$file"))
        try it.filter(_ == "    {").count() finally it.close()
      }

      def checkArtifacts(exp: Expected, combined: DataFrame, derived: DataFrame,
                         extended: DataFrame): Unit = {
        val rows = ops.filter(_.pass == passNo).map(o => o.name -> o.rows).toMap
        def count(name: String, opName: String, got: Long, want: Long): Unit =
          check(name, opName, got == want, s"$got rows, expected $want")
        count("combined_rows", "combine", rows("combine"), exp.combinedRows)
        count("derived_rows", "derive", rows("derive"), exp.derivedRows)
        count("extended_rows", "extended", rows("extended"), exp.extendedRows)
        count("combined_json_rows", "combined_json", jsonRecords("combined_data.json"), exp.combinedRows)
        count("derived_json_rows", "derived_json",
          jsonRecords("aspep_with_derived_stats.json"), exp.derivedRows)
        count("extended_json_rows", "extended_json",
          jsonRecords("aspep_with_extended_derived_stats.json"), exp.extendedRows)
        count("parquet_rows", "parquet",
          spark.read.parquet(s"$outDir/combined_parquet").count(), exp.combinedRows)

        def same(got: Any, want: Option[Double], rel: Double = 0.0): Boolean = (got, want) match {
          case (null, None) => true
          case (g: Number, Some(w)) =>
            val d = g.doubleValue
            d == w || math.abs(d - w) <= rel * math.abs(w)
          case _ => false
        }
        import Workbooks._
        // 1yr / 5yr deltas across the null gap
        extended.filter(col("`state code`") === gapState && col("gov_function") === gapFunction)
          .select("year", "ft_employment_1yr_abs", "ft_employment_5yr_abs").collect()
          .filter(r => (gapYear - 1 to gapYear + 5).contains(r.getInt(0)))
          .foreach { r =>
            val y = r.getInt(0)
            Seq(1 -> 1, 4 -> 2).foreach { case (lag, i) =>
              val want = exp.absDelta(gapState, gapFunction, y, 0, lag)
              check(s"gap_${lag}yr_$y", "extended", same(r.get(i), want),
                s"ft_employment lag $lag at $y: got ${r.get(i)}, expected $want")
            }
          }
        // directional-rank tie
        val ranks = extended.filter(col("year") === tieYear && col("gov_function") === tieFunction)
          .select("`state code`", "ft_employment_1yr_abs_pos_rank").collect()
          .map(r => r.getString(0) -> r.get(1)).toMap
        tieStates.foreach { s =>
          val want = exp.posRank1yr(s, tieFunction, tieYear, 0).map(_.toDouble)
          check(s"tie_rank_$s", "extended", same(ranks.getOrElse(s, "missing"), want),
            s"pos rank of $s: got ${ranks.get(s)}, expected $want")
        }
        // US-median / US-mean cross-section with a blank member
        val xs = derived.filter(col("year") === xsecYear && col("gov_function") === xsecFunction &&
          col("`state code`").isin("US-median", "US-mean"))
          .select("`state code`", "ft_pay").collect().map(r => r.getString(0) -> r.get(1)).toMap
        Seq("US-median", "US-mean").foreach { c =>
          val want = exp.entityValue(c, xsecFunction, xsecYear, 1)
          check(s"xsec_$c", "derive", same(xs.getOrElse(c, "missing"), want, 1e-9),
            s"$c ft_pay: got ${xs.get(c)}, expected $want")
        }
      }
    }

    /** The registry sample over the sf0.001 corpus named by `--corpus`,
      * scaled 10x by `ScaleUp` (sf0.01 row counts). */
    final class Registry(names: Seq[String]) extends Workload {
      val base = opts("corpus"); val dir = "corpus"
      val registry: Map[String, Query] = SparkEntry.queries
      val moduleOf: Map[String, String] =
        modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
      require(names.forall(registry.contains),
        s"unknown queries: ${names.filterNot(registry.contains).mkString(",")}")

      def setup(): Unit = {
        Seq("target", dir).foreach(rm)
        val t0 = System.nanoTime()
        ScaleUp.ensure(spark, base, dir, 10)
        scaleupS += secs(t0)
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings").foreach(t => Tables.load(spark, dir, t).count())
        drain()
      }

      /** A query as a timed pass runs it: build, plan, execute. */
      def count(n: String): Long = {
        val mod = moduleOf.getOrElse(n, "unattributed")
        val df = layer(s"operators.$mod.build", "operators.build_s",
          s"operators.$mod.build_s")(registry(n)(spark, dir))
        layer(s"operators.$mod.plan", "operators.plan_s")(df.queryExecution.executedPlan)
        layer(s"operators.$mod.exec", "operators.exec_s",
          s"operators.$mod.exec_s")(df.queryExecution.toRdd.count())
      }

      /** One pass over the sample, in the sample's own order for every
        * seed, so that the timed passes meet a warm engine that every
        * seed warmed alike (a cold pass's CPU is mostly JIT compilation).
        * It writes each query's full results as parquet, for the strict
        * compare after the JVM exits, and reads back their row count,
        * which is checked like every operation's. */
      override def warmup(): Unit = {
        rm("check"); new File("check").mkdirs()
        names.foreach { n =>
          op(n) {
            registry(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"check/$n")
            spark.read.parquet(s"check/$n").count()
          }
          drain()
        }
        val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        new ObjectMapper().writeValue(new File("check/oracle_sql.json"), oracle.asJava)
      }

      def pass(rng: SplittableRandom): (Double, Double, Double) = {
        shuffle(names, rng).foreach { n =>
          op(n)(count(n))
          if (tracedNow) trace.add("operators.leftover_mb",
            spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
          layer("operators.cleanup", "operators.cleanup_s")(drain())
        }
        (0.0, 0.0, 0.0)
      }
    }

    val wl: Workload = workload match {
      case "aspep_etl" => Aspep
      case "registry_mix" => new Registry(registrySample)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) spark.sparkContext.addSparkListener(trace.Listener)
    (1 to setups).foreach { _ =>
      val t = System.nanoTime()
      wl.setup()
      setupS += secs(t)
    }
    // Timed passes: at least the workload's minimum, and more until
    // `seconds` have elapsed. The ETL job's one pass meets a cold engine,
    // as a fresh `AspepMain` does; the registry's passes follow its
    // warm-up. A traced run makes the same passes, with the same calls,
    // with the per-layer collector on.
    val minPasses = if (workload == "aspep_etl") 1 else 2
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    passNo = WarmupPass
    val tw = System.nanoTime()
    wl.warmup()
    warmupS = secs(tw)
    val start = System.nanoTime()
    tracedNow = traced
    passNo = 0
    do {
      val t = System.nanoTime()
      val c = cpuS
      val j = jitCpuS
      val (checkWall, checkCpu, checkJit) = wl.pass(rng)
      passes += ((secs(t) - checkWall, cpuS - c - checkCpu, jitCpuS - j - checkJit))
      passNo += 1
    } while (passes.length < minPasses || secs(start) < seconds)
    tracedNow = false
    val readS = if (!traced || workload != "aspep_etl") 0.0 else {
      val t = System.nanoTime()
      trace.layer("etl.read")(Aspep.readAll())
      secs(t)
    }
    if (traced) trace.Listener.settle()

    // ---------------------------------------------------------------
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val status = scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala)
      .getOrElse(Seq.empty)
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)
    def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
    }
    val nPasses = passes.length
    val layers = new java.util.LinkedHashMap[String, Any]()
    if (traced) {
      trace.sums.foreach { case (k, v) => layers.put(k, v / nPasses) }
      val l = trace.Listener
      l.totals.foreach { case (k, v) =>
        layers.put(s"spark.$k", if (k == "peak_exec_mem_mb") v else v / nPasses)
      }
      layers.put("spark.slot_idle_frac", l.slotIdleFrac)
      layers.put("etl.read_s", readS)
      def writeCount(kind: String) = l.byLayer.collect {
        case ((lay, k), v) if k == kind && lay.startsWith("etl.json_write") => v
      }.sum / nPasses
      layers.put("etl.json_write_jobs", writeCount("jobs"))
      layers.put("etl.json_write_stages", writeCount("stages"))
      if (workload == "aspep_etl") {
        val mb = new File(Aspep.outDir).listFiles().filter(_.getName.endsWith(".json"))
          .map(_.length()).sum / (1024.0 * 1024.0)
        layers.put("etl.json_mb", mb)
      }
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValue(new File(s"trace_${workload}_$seed.json"), trace.spanJson)
    }
    val result = jmap(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "host" -> jmap("cpus" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
        "heap_flag" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xm")).mkString(" "),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "workdir" -> new File(".").getCanonicalPath,
        "calib_s" -> calibS),
      "session_s" -> sessionS,
      "setup_s" -> setupS.asJava,
      "scaleup_s" -> scaleupS.asJava, "warmup_s" -> warmupS,
      "passes" -> passes.map { case (s, c, j) => jmap("s" -> s, "cpu_s" -> c, "jit_cpu_s" -> j) }.asJava,
      "ops" -> ops.map { o =>
        jmap("name" -> o.name, "pass" -> o.pass, "s" -> o.seconds,
          "rows" -> o.rows, "error" -> o.error.map { case (c, m) => s"$c: $m" }.orNull)
      }.asJava,
      "checks" -> checks.map { c =>
        jmap("name" -> c.name, "pass" -> c.pass, "op" -> c.op, "ok" -> c.ok, "detail" -> c.detail)
      }.asJava,
      "layers" -> layers,
      "rss_peak_mb" -> hwmKb / 1024.0)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new File(out), result)
    spark.stop()
  }
}
