package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.pipeline.{LogPipeline, PipelineJob, TokenSequences}
import graft.table.ManifestTable

import Workload._

/** Seeded token-sequence input and the sink reference computed straight
  * from the generator columns (no render, parse or route). */
object Gen {
  val Sinks: Seq[String] = Seq("audit", "bulk", "ingest")

  /** First `seq_id` of a seed's range. `SeqMeta` reduces ids mod 2^31,
    * so the ranges are 2^21 ids apart and all stay below 2^31: seeds
    * 0..999 get disjoint inputs of up to 2^21 sequences. */
  def base(seed: Long): Long = Math.floorMod(seed, 1000L) * (1L << 21)

  def seqs(env: Env, n: Long, parts: Int): DataFrame = {
    require(n <= (1L << 21), s"at most 2^21 sequences per seed, got $n")
    val b = base(env.seed)
    val ids = env.spark.range(b, b + n, 1, parts).select(col("id").as("seq_id"))
    TokenSequences.withSequenceColumns(ids, col("seq_id"))
      .select("doc_id", "tokens", "n_tok", "source", "__r3")
  }

  /** The pipeline's line-class rule applied to the generator columns. */
  val sinkRule: Column = when(col("__r3") % 37 === 0, lit("audit"))
    .when(col("n_tok") >= 512, lit("bulk")).otherwise(lit("ingest"))

  /** Per-sink row count, `n_tok` sum and the summed hash of the token
    * arrays of a seeded 1/64 sample of documents. */
  def totals(sink: Column, nTok: Column, tokens: Column, seed: Long): Seq[Column] = {
    val sampled = pmod(xxhash64(col("doc_id"), lit(seed)), lit(64L)) === 0
    Sinks.flatMap { s =>
      val in = sink === s
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"${s}_rows"),
        sum(when(in, nTok.cast("long")).otherwise(0L)).as(s"${s}_n_tok"),
        sum(when(in && sampled, hash(tokens).cast("long")).otherwise(0L)).as(s"${s}_tok_hash"))
    }
  }

  def reference(env: Env, seqs: DataFrame): Map[String, Long] = {
    val cols = totals(sinkRule, col("n_tok"), col("tokens"), env.seed)
    toLongs(seqs.agg(cols.head, cols.tail: _*).collect().head.getValuesMap[Any](totalNames))
  }

  val totalNames: Seq[String] = Sinks.flatMap(s => Seq(s"${s}_rows", s"${s}_n_tok", s"${s}_tok_hash"))

  def toLongs(m: Map[String, Any]): Map[String, Long] =
    m.map { case (k, v) => k -> Option(v).map(_.asInstanceOf[Number].longValue).getOrElse(0L) }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Every file under `p` with its size and modification time. */
  def listing(p: Path): Map[String, (Long, Long)] =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString ->
        (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
}

/** Cumulative prefixes of the pipeline (generate, +render, +parse,
  * +enrich), each written to the noop sink; a layer's self time is the
  * difference between two consecutive prefixes. */
object Prefixes {
  def apply(env: Env, seqs: => DataFrame): Seq[(String, () => Unit)] = Seq(
    "generate" -> (() => noop(seqs)),
    "render" -> (() => noop(LogPipeline.renderLines(seqs).select("line", "tokens"))),
    "parse" -> (() => noop(parsed(seqs))),
    "enrich" -> (() => noop(LogPipeline.enrich(parsed(seqs), LogPipeline.sourceDim(env.spark)))))

  private def parsed(seqs: DataFrame): DataFrame =
    LogPipeline.parse(LogPipeline.renderLines(seqs).select("line", "tokens"), carry = Seq("tokens"))

  /** Median process core-seconds of each prefix over `reps` traced runs,
    * after one untimed run that compiles the prefix's plan. */
  def coreS(t: Tracer, env: Env, seqs: => DataFrame, reps: Int): Map[String, Double] =
    apply(env, seqs).map { case (name, body) =>
      body()
      name -> Stats.median((1 to reps).map { _ =>
        t.newOp()
        t.action(s"prefix.$name")(body())._2.coreS
      })
    }.toMap
}

/** The north-star job: seeded sequences through
  * `LogPipeline.parseEnrichRoute(packTransport = true)` to a noop sink. */
final class PipelineWorkload(val env: Env, n: Long) extends Workload {
  type Out = Map[String, Long]
  import env._

  private var ref: Map[String, Long] = Map.empty
  private def seqs(n: Long, parts: Int): DataFrame = Gen.seqs(env, n, parts)

  def itemsPerOp: Long = n
  def warmupOps: Int = 5
  def nominalOpS: Double = 1.2
  def prepare(): Unit = ref = Gen.reference(env, seqs(n, env.parts))

  private def routed(n: Long, parts: Int): DataFrame =
    LogPipeline.parseEnrichRoute(spark, seqs(n, parts), parts, packTransport = true)

  def run(i: Int): Out = {
    val obs = Observation()
    val cols = Gen.totals(col("sink"), col("n_tok"), col("tokens_in"), seed)
    noop(routed(n, env.parts).observe(obs, cols.head, cols.tail: _*))
    Gen.toLongs(obs.get)
  }

  def check(i: Int, out: Out): Seq[String] = diff("pipeline sink totals", ref, out)

  def corrupt(i: Int, out: Out): Seq[(String, Out)] = Seq(
    "row count" -> out.updated("bulk_rows", out("bulk_rows") + 1),
    "n_tok sum" -> out.updated("ingest_n_tok", out("ingest_n_tok") - 1),
    "routed tokens" -> out.updated("ingest_tok_hash", out("ingest_tok_hash") ^ 1L))

  /** Besides its own layers, the traced run measures the table layer with
    * the snapshot job, which has no end-to-end workload of its own. */
  def layers(t: Tracer): Map[String, Double] = {
    // untraced and traced ops alternate; the difference of their medians
    // is the tracing overhead
    val (untraced, traced) = (1 to 3).map { i =>
      (Meter.measure(checked(i))._2,
        t.traced { t.newOp(); t.action("pipeline.op")(checked(10 + i)) })
    }.unzip
    t.start()
    val p = Prefixes.coreS(t, env, seqs(n, env.parts), reps = 2)
    // aggregate: sinkAggregates over routed rows materialized beforehand,
    // so only the aggregate itself is timed
    val routedRows = routed(n, env.parts).select("sink", "region", "n_tok", "source").cache()
    routedRows.count()
    LogPipeline.sinkAggregates(routedRows).collect()
    val agg = (1 to 2).map { _ =>
      t.newOp(); t.action("pipeline.aggregate")(LogPipeline.sinkAggregates(routedRows).collect())._2
    }
    routedRows.unpersist(blocking = true)
    // one-core baseline: a quarter of the input as one task per stage
    val n1 = math.max(n / cores, 1L)
    noop(routed(n1, 1))
    val one = (1 to 2).map { _ =>
      t.newOp(); t.action("pipeline.one_core")(noop(routed(n1, 1)))._2
    }
    t.stop()
    val snapshot = new SnapshotWorkload(env, SnapshotWorkload.Seqs)
    snapshot.prepare()
    val table = snapshot.tableLayers(t)._1.filter(_._1.startsWith("table."))
    val opCore = Stats.median(traced.map(_._2.coreS))
    val st = traced.map(_._3)
    def med(f: StageStats => Double) = Stats.median(st.map(f))
    Map(
      "pipeline.generate.core_s" -> p("generate"),
      "pipeline.render.core_s" -> (p("render") - p("generate")),
      "parse.extract.core_s" -> (p("parse") - p("render")),
      "pipeline.enrich.core_s" -> (p("enrich") - p("parse")),
      // the op packs the tokens at render and fuses the pack into generation;
      // the prefixes do not, so this residual also holds that difference
      "pipeline.route.core_s" -> (opCore - p("enrich")),
      "pipeline.route.reduce_core_s" -> med(_.reduceCoreS),
      "pipeline.route.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "pipeline.route.shuffle_records" -> med(_.shuffleWriteRecords.toDouble),
      "pipeline.route.spill_bytes" -> med(_.spillBytes.toDouble),
      "pipeline.route.task_skew" -> med(_.taskSkew),
      "pipeline.aggregate.core_s" -> Stats.median(agg.map(_.coreS)),
      "pipeline.parallel_eff" ->
        (n / Stats.median(traced.map(_._2.wallS))) /
          (cores * n1 / Stats.median(one.map(_.wallS))),
      "parse.codegen.max_method_bytes" -> Plans.maxMethodBytes(traced.last._4).toDouble,
      "jvm.gc_s" -> Stats.median(traced.map(_._2.gcS)),
      "trace.overhead_core_s" -> (opCore - Stats.median(untraced.map(_.coreS)))) ++ table
  }
}

object SnapshotWorkload {
  val Seqs = 10000L
}

/** The resumable job: `PipelineJob.run` into a fresh `ManifestTable`, a
  * second `run` of the same snapshot (the resume, a no-op), then every
  * sink read back. Each op's table is deleted when it is checked. */
final class SnapshotWorkload(val env: Env, n: Long) extends Workload {
  final case class Out(manifest: Map[String, Long], resumeChanges: Seq[String],
      readBack: Map[String, Long])
  import env._

  private var ref: Map[String, Long] = Map.empty
  private def seqs: DataFrame = Gen.seqs(env, n, env.parts)

  def itemsPerOp: Long = n
  def warmupOps: Int = 2
  def nominalOpS: Double = 3.0
  def prepare(): Unit = ref = Gen.reference(env, seqs)

  private def root(i: Int): Path = work.resolve("tables").resolve(s"snap-$i")

  def run(i: Int): Out = {
    val dir = root(i)
    Gen.delete(dir)
    try {
      val m = PipelineJob.run(spark, seqs, dir.toString, i, env.parts)
      val before = Gen.listing(dir)
      val m2 = PipelineJob.run(spark, seqs, dir.toString, i, env.parts)
      val after = Gen.listing(dir)
      val table = new ManifestTable(dir.toString)
      val readBack = m.sinks.map { l =>
        val cols = Gen.totals(lit(l.sink), col("n_tok"), col("tokens_in"), seed)
        Gen.toLongs(table.read(spark, l.sink).agg(cols.head, cols.tail: _*).collect().head
          .getValuesMap[Any](Gen.totalNames))
      }.reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
      val changes = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k)) ++
        (if (m2 != m) Seq("manifest changed on resume") else Nil)
      Out(m.sinks.map(l => s"${l.sink}_rows" -> l.rows).toMap, changes, readBack)
    } finally Gen.delete(dir)
  }

  def check(i: Int, out: Out): Seq[String] =
    diff("manifest rows", ref.filter(_._1.endsWith("_rows")), out.manifest) ++
      out.resumeChanges.map(f => s"resume changed $f") ++
      diff("read-back sink totals", ref, out.readBack)

  def corrupt(i: Int, out: Out): Seq[(String, Out)] = Seq(
    "manifest count" -> out.copy(manifest = out.manifest.updated("audit_rows", out.manifest("audit_rows") - 1)),
    "resume writes" -> out.copy(resumeChanges = Seq("data/snap=1/sink=bulk/part-00000.parquet")),
    "read-back rows" -> out.copy(readBack = out.readBack.updated("ingest_n_tok", out.readBack("ingest_n_tok") + 7)))

  /** Traced snapshot ops, alternating with untraced ones, and the
    * unpacked route prefix: the table layer's metrics, the stage metrics
    * of the write job's route exchange, and the route prefix's
    * core-seconds. */
  def tableLayers(t: Tracer): (Map[String, Double], Double) = {
    val (untraced, traced) = (1 to 2).map { i =>
      val u = Meter.measure(checked(100 + i))._2
      val dir = root(200 + i)
      Gen.delete(dir)
      val tr = t.traced {
        t.newOp()
        val (_, cost, st, qes) = t.action("snapshot.run")(
          PipelineJob.run(spark, seqs, dir.toString, 200 + i, env.parts))
        val resume = t.action("snapshot.resume")(
          PipelineJob.run(spark, seqs, dir.toString, 200 + i, env.parts))._2
        val table = new ManifestTable(dir.toString)
        val read = t.action("snapshot.read")(
          Gen.Sinks.foreach(s => table.read(spark, s).agg(sum(col("n_tok"))).collect()))._2
        val bytes = Gen.listing(dir.resolve("data")).values.map(_._1).sum
        Gen.delete(dir)
        (cost, resume, read, bytes, st, Plans.maxMethodBytes(qes))
      }
      (u, tr)
    }.unzip
    val routeOnly = () => noop(LogPipeline.parseEnrichRoute(spark, seqs, env.parts))
    routeOnly()
    val routeRuns = t.traced((1 to 2).map { _ =>
      t.newOp()
      val (_, cost, st, _) = t.action("prefix.route")(routeOnly())
      (cost.coreS, st.reduceCoreS)
    })
    val route = Stats.median(routeRuns.map(_._1))
    val userBytes = 4.0 * (ref("audit_n_tok") + ref("bulk_n_tok") + ref("ingest_n_tok"))
    def med(f: StageStats => Double) = Stats.median(traced.map(x => f(x._5)))
    (Map(
      "pipeline.route.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "pipeline.route.shuffle_records" -> med(_.shuffleWriteRecords.toDouble),
      "pipeline.route.spill_bytes" -> med(_.spillBytes.toDouble),
      "pipeline.route.task_skew" -> med(_.taskSkew),
      "pipeline.route.reduce_core_s" -> Stats.median(routeRuns.map(_._2)),
      "table.write_core_s" -> (Stats.median(traced.map(_._1.coreS)) - route),
      "table.bytes_per_user_byte" -> Stats.median(traced.map(_._4 / userBytes)),
      "table.read_s" -> Stats.median(traced.map(_._3.wallS)),
      "table.resume_s" -> Stats.median(traced.map(_._2.wallS)),
      "parse.codegen.max_method_bytes" -> traced.map(_._6).max.toDouble,
      "jvm.gc_s" -> Stats.median(traced.map(x => x._1.gcS + x._2.gcS + x._3.gcS)),
      "trace.overhead_core_s" ->
        (Stats.median(traced.map(x => x._1.coreS + x._2.coreS + x._3.coreS)) -
          Stats.median(untraced.map(_.coreS)))), route)
  }

  def layers(t: Tracer): Map[String, Double] = {
    val (table, route) = tableLayers(t)
    val p = t.traced(Prefixes.coreS(t, env, seqs, reps = 2))
    table ++ Map(
      "pipeline.generate.core_s" -> p("generate"),
      "pipeline.render.core_s" -> (p("render") - p("generate")),
      "parse.extract.core_s" -> (p("parse") - p("render")),
      "pipeline.enrich.core_s" -> (p("enrich") - p("parse")),
      "pipeline.route.core_s" -> (route - p("enrich")))
  }
}
