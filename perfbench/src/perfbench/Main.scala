package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in a single `local[k]` JVM and
  * writes the result object to `--out`.
  *
  * {{{
  * Main --workload pipeline --seed 1 --seconds 10 --trace 0 --work DIR --out FILE
  * Main --selftest 1 --work DIR --out FILE
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics; `--trace 1` is the traced
  * run that measures the per-layer metrics and writes the spans as JSON. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_core_s" -> "core-s", "op_p50_s" -> "s", "items_per_s" -> "1/s",
    "peak_rss_mb" -> "MB")

  private val queryNames =
    Seq("filter", "group", "having", "distinct_having", "join", "join_outer", "limit", "interval")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.generate.core_s" -> "core-s", "pipeline.render.core_s" -> "core-s",
    "parse.extract.core_s" -> "core-s", "parse.codegen.max_method_bytes" -> "B",
    "pipeline.enrich.core_s" -> "core-s", "pipeline.route.core_s" -> "core-s",
    "pipeline.route.reduce_core_s" -> "core-s",
    "pipeline.route.shuffle_write_bytes" -> "B", "pipeline.route.shuffle_records" -> "count",
    "pipeline.route.spill_bytes" -> "B", "pipeline.route.task_skew" -> "ratio",
    "pipeline.aggregate.core_s" -> "core-s", "pipeline.parallel_eff" -> "ratio",
    "table.write_core_s" -> "core-s", "table.bytes_per_user_byte" -> "ratio",
    "table.read_s" -> "s", "table.resume_s" -> "s",
    "sql.plan_s" -> "s", "sql.exec_s" -> "s") ++
    queryNames.map(q => s"sql.q.$q.p50_s" -> "s") ++ Seq(
    "sources.render_s" -> "s",
    "operators.ngram_jaccard.core_s" -> "core-s", "operators.ngram_jaccard.join_rows" -> "count",
    "operators.ngram_jaccard.pair_yield" -> "ratio",
    "operators.ngram_jaccard.shuffle_write_bytes" -> "B",
    "operators.exact.core_s" -> "core-s", "operators.exact.shuffle_write_bytes" -> "B",
    "jvm.gc_s" -> "s", "trace.overhead_core_s" -> "core-s")

  /** Input size of each workload; the self-test uses small inputs. */
  def workload(name: String, env: Env, small: Boolean): Workload = name match {
    case "pipeline" => new PipelineWorkload(env, if (small) 20000 else 100000)
    case "snapshot" => new SnapshotWorkload(env, SnapshotWorkload.Seqs)
    case "sqlgrep" => new SqlgrepWorkload(env, if (small) 20000 else 150000)
    case "dedup" => new DedupWorkload(env, if (small) 1500 else 5000)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val Workloads: Seq[String] = Seq("pipeline", "snapshot", "sqlgrep", "dedup")

  /** The benchmark's own session: the semantic confs of the library's
    * bench session (ANSI off, AQE on, UTC, zstd, UI off), with shuffle and
    * spill files on disk under the run's work directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def memTotalMb: Double =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Every digit of `x`; a NaN or infinite value fails the run. */
  private def num(x: Double): String = java.math.BigDecimal.valueOf(x).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val outFile = Paths.get(a("out"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores, work)
    val sessionS =
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.io.") || k == "spark.master" ||
        k == "spark.local.dir" || k == "spark.ui.enabled"
    }.toSeq.sorted
    println("env " + Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "ram_mb" -> num(math.rint(memTotalMb)),
      "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" "),
      "conf" -> conf.map { case (k, v) => s"$k=$v" }.mkString(" ")
    ).map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}"))
    val ok =
      try {
        if (a.get("selftest").contains("1")) selfTest(spark, cores, work, outFile)
        else {
          run(spark, cores, work, a("workload"), a("seed").toLong, a("seconds").toDouble,
            a("trace") == "1", sessionS, outFile)
          true
        }
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def run(spark: SparkSession, cores: Int, work: Path, name: String, seed: Long,
      seconds: Double, trace: Boolean, sessionS: Double, outFile: Path): Unit = {
    val env = Env(spark, cores, seed, work)
    val wl = workload(name, env, small = false)
    // set-up is measured as the median of three prepares (the first runs
    // cold, the others warm); the traced run reports no set-up time and
    // prepares once
    val prep = (1 to (if (trace) 1 else 3)).map(_ => Meter.measure(wl.prepare())._2.wallS)
    val warm = (0 until wl.warmupOps).map(i => Meter.measure(wl.checked(i))._2.wallS)
    val setupS = sessionS + Stats.median(prep) + warm.sum
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
    println(f"setup session_s=$sessionS%.3f prepare_s=${list(prep)} warmup_s=${list(warm)}")
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val rounds = math.max(1, math.round(seconds / (wl.nominalOpS * wl.roundOps)).toInt)
        val costs = (0 until math.max(3, rounds * wl.roundOps))
          .map(i => Meter.measure(wl.checked(wl.warmupOps + i))._2)
        val walls = costs.map(_.wallS)
        println(s"op_s ${list(walls)}")
        println(s"ops ${costs.length}: p50 ${Stats.median(walls)} s, p90 ${Stats.quantile(walls, 0.9)} s " +
          s"over ${costs.length} samples; error_rate ${env.tally.failed}/${env.tally.attempted}")
        val values = Map(
          "setup_s" -> setupS,
          "op_core_s" -> costs.map(_.coreS).sum / costs.length,
          "op_p50_s" -> Stats.median(walls),
          "items_per_s" -> wl.itemsPerOp * costs.length / walls.sum,
          "peak_rss_mb" -> Meter.peakRssMb)
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        val t = new Tracer(spark)
        val (values, cost) = Meter.measure(wl.layers(t))
        val spans = work.getParent.resolve("spans").resolve(s"$name-seed$seed.json")
        t.writeSpans(spans)
        println(f"traced run: ${cost.wallS}%.1f s; spans written to $spans")
        val missing = values.keySet -- PerLayer.map(_._1)
        require(missing.isEmpty, s"undeclared layer metrics: $missing")
        // a layer this workload does not exercise reads 0
        PerLayer.map { case (k, u) => (k, u, values.getOrElse(k, 0.0)) }
      }
    env.tally.errors.distinct.take(10).foreach(e => println(s"check failed: $e"))
    val body = metrics.map { case (k, u, v) =>
      s"${jsonStr(k)}: {${jsonStr("value")}: ${num(v)}, ${jsonStr("unit")}: ${jsonStr(u)}}"
    }.mkString(", ")
    val tally = env.tally
    Files.write(outFile, (s"""{"correct": ${tally.failed == 0 && tally.attempted > 0}, """ +
      s""""attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": {$body}}""")
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Shows that every output check accepts a correct op and rejects each
    * deliberately corrupted copy of it. */
  private def selfTest(spark: SparkSession, cores: Int, work: Path, outFile: Path): Boolean = {
    val results = for (name <- Workloads) yield {
      val env = Env(spark, cores, 7L, work)
      val wl = workload(name, env, small = true)
      wl.prepare()
      (0 until wl.roundOps).flatMap { i =>
        val out = wl.run(i)
        val clean = wl.check(i, out)
        (s"$name#$i correct output" -> clean.isEmpty) +:
          wl.corrupt(i, out).map { case (what, bad) => s"$name#$i $what" -> wl.check(i, bad).nonEmpty }
      }
    }
    val all = results.flatten
    all.foreach { case (what, pass) => println(s"${if (pass) "PASS" else "FAIL"} $what") }
    val failed = all.count(!_._2)
    Files.write(outFile, s"""{"selftest_cases": ${all.length}, "selftest_failed": $failed}"""
      .getBytes(StandardCharsets.UTF_8))
    failed == 0
  }
}
