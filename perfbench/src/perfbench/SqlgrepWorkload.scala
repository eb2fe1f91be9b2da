package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.pipeline.LogPipeline
import graft.sources.Sinks
import graft.sql.SqlEngine

import Workload._

/** The interactive user path: a fixed mix of sqlgrep queries through
  * `SqlEngine.query` over a seeded log on local disk, each result rendered
  * with `Sinks.text` and collected, as the REPL does. One op is one query;
  * a round is the whole mix. */
final class SqlgrepWorkload(val env: Env, n: Long) extends Workload {
  type Out = (String, Seq[String])
  import env._

  final case class Query(name: String, sql: String, join: Boolean = false,
      returnsRows: Boolean = false)

  /** Expected rows: in order, as a multiset, or any `limit` of a set. */
  sealed trait Expected
  final case class InOrder(rows: Seq[String]) extends Expected
  final case class AnyOrder(rows: Seq[String]) extends Expected
  final case class AnyOf(rows: Set[String], limit: Int) extends Expected

  private val ddl =
    """CREATE TABLE seqlog(
      |    line = 'ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)',
      |    line[2] => doc TEXT,
      |    line[3] => src TEXT,
      |    line[4] => n INT
      |);
      |CREATE TABLE durlog(
      |    line = 'dur (doc-\\d+) took (\\d+:\\d+:\\d+)',
      |    line[1] => doc TEXT,
      |    line[2] => took INTERVAL
      |);
      |CREATE TABLE srcdim(
      |    line = 'dim (\\S+) region (\\S+) tier (\\d+)',
      |    line[1] => sname TEXT,
      |    line[2] => region TEXT,
      |    line[3] => tier INT
      |);""".stripMargin

  /** HAVING threshold between the three big sources and the small ones. */
  private def havingMin: Long = n / 50

  val queries: Seq[Query] = Seq(
    Query("filter", "SELECT doc, src, n FROM seqlog WHERE n >= 490 AND src != 'web'",
      returnsRows = true),
    Query("group", "SELECT src, COUNT() AS n_rows, SUM(n) AS sum_tok, AVG(n) AS avg_tok, " +
      "MAX(n) AS max_n FROM seqlog GROUP BY src"),
    Query("having", "SELECT src, COUNT() AS n_rows FROM seqlog WHERE n < 256 GROUP BY src " +
      s"HAVING COUNT() > $havingMin"),
    Query("distinct_having",
      "SELECT DISTINCT COUNT() / 1000 AS bucket FROM seqlog GROUP BY src HAVING COUNT() > 10"),
    Query("join", "SELECT seqlog.src AS src, srcdim.region AS region, COUNT() AS n_rows, " +
      "SUM(seqlog.n) AS sum_n FROM seqlog INNER JOIN srcdim ON seqlog.src = srcdim.sname " +
      "WHERE srcdim.tier >= 4 GROUP BY seqlog.src, srcdim.region", join = true),
    Query("join_outer", "SELECT doc, src, srcdim.tier AS tier FROM seqlog " +
      "OUTER JOIN srcdim ON seqlog.src = srcdim.sname WHERE n >= 500", join = true,
      returnsRows = true),
    Query("limit", "SELECT doc, n FROM seqlog WHERE src = 'code' AND n > 400 LIMIT 25",
      returnsRows = true),
    Query("interval", "SELECT doc, took::int AS secs, took::text AS disp FROM durlog " +
      "WHERE took::int >= 72000", returnsRows = true))

  /** The dimension log names 13 of the 20 sources; the rest join to NULL. */
  private val dimSources = Seq("web", "books", "code") ++ (0 until 10).map(i => s"src$i")
  private def tier(s: String): Int = s.length
  private def region(s: String): String = s"r${s.length % 3}"

  private val logDir = work.resolve("input").resolve(s"sqlgrep-$seed").toString
  private val dimDir = work.resolve("input").resolve(s"sqlgrep-dim-$seed").toString
  private var engine: SqlEngine = _
  private var expected: Map[String, Expected] = Map.empty
  private var logLines = 0L

  def itemsPerOp: Long = logLines
  def warmupOps: Int = 2 * queries.length
  def nominalOpS: Double = 0.35
  override def roundOps: Int = queries.length

  private def seqs: DataFrame = Gen.seqs(env, n, env.parts)
  private def durLogged: Column = pmod(col("__r3"), lit(4L)) === 1
  private def hms(c: Column): Column = lpad(c.cast("string"), 2, "0")

  def prepare(): Unit = {
    import spark.implicits._
    val s = seqs
    val dur = s.filter(durLogged).select(concat(lit("dur "), col("doc_id"), lit(" took "),
      hms(col("n_tok") % 24), lit(":"), hms(col("__r3") % 60), lit(":"),
      hms((col("__r3") / 60).cast(LongType) % 60)).as("line"))
    LogPipeline.renderLines(s).select("line").union(dur)
      .write.mode("overwrite").text(logDir)
    dimSources.map(d => s"dim $d region ${region(d)} tier ${tier(d)}").toDF("line")
      .coalesce(1).write.mode("overwrite").text(dimDir)
    val gen = s.select("doc_id", "source", "n_tok", "__r3").collect()
      .map(r => Generated(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    logLines = n + gen.count(_.durLogged)
    engine = new SqlEngine(spark)
    engine.addTables(ddl)
    expected = reference(gen.toSeq)
  }

  /** One generated sequence: the generator columns the log lines render. */
  private final case class Generated(doc: String, src: String, n: Int, r3: Long) {
    def durLogged: Boolean = Math.floorMod(r3, 4L) == 1
    def durSecs: Long = (n % 24) * 3600L + (r3 % 60) * 60 + (r3 / 60) % 60
  }

  /** Each query's result computed in the JVM from the generator
    * columns: no regex, no Spark plan and no SqlEngine. */
  private def reference(gen: Seq[Generated]): Map[String, Expected] = {
    // only ingest-class lines match the seqlog pattern
    val ingest = gen.filter(g => g.r3 % 37 != 0 && g.n < 512)
    def counted[K](gs: Seq[Generated])(key: Generated => K) = gs.groupBy(key).toSeq
    Map(
      "filter" -> AnyOrder(ingest.filter(g => g.n >= 490 && g.src != "web")
        .map(g => textRow("doc" -> g.doc, "src" -> g.src, "n" -> g.n))),
      "group" -> InOrder(counted(ingest)(_.src).sortBy(_._1).map { case (src, gs) =>
        val sum = gs.map(_.n.toLong).sum
        textRow("src" -> src, "n_rows" -> gs.size, "sum_tok" -> sum, "avg_tok" -> sum / gs.size,
          "max_n" -> gs.map(_.n).max)
      }),
      "having" -> InOrder(counted(ingest.filter(_.n < 256))(_.src).sortBy(_._1)
        .filter(_._2.size > havingMin).map { case (src, gs) => textRow("src" -> src, "n_rows" -> gs.size) }),
      "distinct_having" -> AnyOrder(counted(ingest)(_.src).map(_._2.size).filter(_ > 10)
        .map(c => textRow("bucket" -> c / 1000)).distinct),
      "join" -> InOrder(counted(ingest.filter(g => dimSources.contains(g.src) && tier(g.src) >= 4))(
        g => (g.src, region(g.src))).sortBy(_._1).map { case ((src, reg), gs) =>
          textRow("src" -> src, "region" -> reg, "n_rows" -> gs.size, "sum_n" -> gs.map(_.n.toLong).sum)
        }),
      "join_outer" -> AnyOrder(ingest.filter(_.n >= 500).map(g => textRow("doc" -> g.doc,
        "src" -> g.src, "tier" -> (if (dimSources.contains(g.src)) tier(g.src) else null)))),
      "limit" -> AnyOf(ingest.filter(g => g.src == "code" && g.n > 400)
        .map(g => textRow("doc" -> g.doc, "n" -> g.n)).toSet, 25),
      "interval" -> AnyOrder(gen.filter(g => g.durLogged && g.durSecs >= 72000).map(g =>
        textRow("doc" -> g.doc, "secs" -> g.durSecs,
          "disp" -> f"${g.n % 24}%02d:${g.r3 % 60}%02d:${(g.r3 / 60) % 60}%02d.000"))))
  }

  /** A row as the text sink prints it: `name: value, ...`, strings
    * single-quoted, NULL spelled out. */
  private def textRow(cols: (String, Any)*): String =
    cols.map {
      case (k, null) => s"$k: NULL"
      case (k, v: String) => s"$k: '$v'"
      case (k, v) => s"$k: $v"
    }.mkString(", ")

  def query(q: Query): DataFrame = engine.query(q.sql, spark.read.text(logDir),
    joinLines = if (q.join) Some(spark.read.text(dimDir)) else None)

  def run(i: Int): Out = {
    val q = queries(i % queries.length)
    (q.name, Sinks.text(query(q)).collect().toSeq.map(_.getString(0)))
  }

  def check(i: Int, out: Out): Seq[String] = {
    val (name, got) = out
    val ok = expected(name) match {
      case InOrder(rows) => got == rows
      case AnyOrder(rows) => got.sorted == rows.sorted
      case AnyOf(rows, limit) => got.length == math.min(limit, rows.size) && got.forall(rows)
    }
    if (ok) Nil
    else Seq(s"query $name: ${got.length} rows differ from the reference " +
      s"(first: ${got.headOption.getOrElse("-")})")
  }

  def corrupt(i: Int, out: Out): Seq[(String, Out)] = {
    val (name, got) = out
    Seq(s"$name: row dropped" -> (name, got.drop(1)),
      s"$name: row altered" -> (name, got.dropRight(1) :+ "doc: 'doc-x', n: 0"))
  }

  def layers(t: Tracer): Map[String, Double] = {
    // each query runs untraced, then traced
    val (untraced, traced) = (for (_ <- 1 to 2; (q, i) <- queries.zipWithIndex) yield {
      val u = Meter.measure(checked(i))._2
      t.start()
      t.newOp()
      val (rendered, plan) = Meter.measure {
        val df = t.span("SqlEngine.query")(query(q))
        val r = t.span("Sinks.text")(Sinks.text(df))
        t.span("plan")(r.queryExecution.executedPlan)
        r
      }
      val (rows, exec, _, qes) = t.action("collect")(rendered.collect().toSeq.map(_.getString(0)))
      t.stop()
      env.tally.record(check(i, (q.name, rows)))
      (u, (q.name, plan, exec, Plans.maxMethodBytes(qes)))
    }).unzip
    t.start()
    // render: the same row-returning query collected with and without Sinks.text
    val render = for (q <- queries.filter(_.returnsRows); rep <- 0 to 1) yield {
      t.newOp()
      val raw = t.action(s"${q.name}.raw")(query(q).collect())._2.wallS
      val txt = t.action(s"${q.name}.text")(Sinks.text(query(q)).collect())._2.wallS
      txt - raw
    }
    // parse: every seqlog column extracted vs the bare scan, both to noop
    val seqlog = Query("all", "SELECT * FROM seqlog")
    val parse = (0 to 2).map { _ =>
      t.newOp()
      t.action("parse.all")(noop(query(seqlog)))._2.coreS -
        t.action("scan")(noop(spark.read.text(logDir)))._2.coreS
    }
    t.stop()
    val perQuery = queries.map { q =>
      s"sql.q.${q.name}.p50_s" ->
        Stats.median(traced.filter(_._1 == q.name).map(x => x._2.wallS + x._3.wallS))
    }
    Map(
      "sql.plan_s" -> Stats.median(traced.map(_._2.wallS)),
      "sql.exec_s" -> Stats.median(traced.map(_._3.wallS)),
      // the first of each pair compiles the plans
      "sources.render_s" -> Stats.median(render.grouped(2).map(_.last).toSeq),
      "parse.extract.core_s" -> Stats.median(parse.tail),
      "parse.codegen.max_method_bytes" -> traced.map(_._4).max.toDouble,
      "jvm.gc_s" -> Stats.median(traced.map(x => x._2.gcS + x._3.gcS)),
      "trace.overhead_core_s" -> (Stats.median(traced.map(x => x._2.coreS + x._3.coreS)) -
        Stats.median(untraced.map(_.coreS)))) ++ perQuery
  }
}
