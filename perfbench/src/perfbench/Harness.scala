package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over a sample of measurements. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Wall time, JVM process CPU and GC time spent over one block. */
final case class Cost(wallS: Double, coreS: Double, gcS: Double)

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def measure[T](body: => T): (T, Cost) = {
    val (w0, c0, g0) = (System.nanoTime(), os.getProcessCpuTime, gcMs)
    val out = body
    val cost = Cost((System.nanoTime() - w0) / 1e9,
      (os.getProcessCpuTime - c0) / 1e9, (gcMs - g0) / 1e3)
    (out, cost)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Aggregated task metrics of the Spark stages that ran while a
  * [[Tracer]] was recording one action. */
final case class StageStats(shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    spillBytes: Long, taskSkew: Double, reduceCoreS: Double)

/** Spans and Spark metrics, collected from outside the library: a
  * SparkListener for stages and tasks, a QueryExecutionListener for the
  * executed plans, and explicit spans around each public call. Nothing is
  * recorded while `enabled` is false. */
final class Tracer(spark: SparkSession) {
  private final case class Span(id: Int, op: Int, name: String, startNs: Long, endNs: Long,
      parent: Int)

  private final case class StageRec(id: Int, submitNs: Long, endNs: Long, info: StageInfo,
      taskMs: Seq[Long])

  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  private var opId = 0
  private val stageSpans = mutable.ArrayBuffer[StageRec]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val plans = mutable.ArrayBuffer[QueryExecution]()
  private val epochNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (enabled && e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      if (enabled) {
        val i = e.stageInfo
        val now = System.nanoTime()
        val durMs = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
        stageSpans += StageRec(i.stageId, now - durMs.getOrElse(0L) * 1000000L, now, i,
          taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { if (enabled) plans += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def stop(): Unit = {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `body` with the listeners registered and spans recorded. */
  def traced[T](body: => T): T = {
    start()
    try body finally stop()
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def newOp(): Unit = synchronized { opId += 1 }

  /** Records `name` as a span around `body` (a child of the enclosing span). */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      (id, parent)
    }
    val t0 = System.nanoTime()
    try body
    finally synchronized {
      stack.pop()
      spans += Span(id, opId, name, t0, System.nanoTime(), parent)
    }
  }

  /** Runs one action and returns the Spark stage and plan data recorded
    * for it. The listener queue is drained first and after, so the window
    * holds exactly this action's stages and executed plans. */
  def action[T](name: String)(body: => T): (T, Cost, StageStats, Seq[QueryExecution]) = {
    drain()
    val (s0, p0) = synchronized { (stageSpans.length, plans.length) }
    val (out, cost) = Meter.measure(span(name)(body))
    drain()
    synchronized {
      val recs = stageSpans.drop(s0).toSeq
      val parent = spans.lastOption.map(_.id).getOrElse(0)
      recs.foreach { r =>
        val id = nextId; nextId += 1
        spans += Span(id, opId, s"stage.${r.id}", r.submitNs, r.endNs, parent)
      }
      (out, cost, stageStats(recs), plans.drop(p0).toSeq)
    }
  }

  private def stageStats(recs: Seq[StageRec]): StageStats = {
    val ms = recs.map(_.info.taskMetrics)
    // task skew: slowest over median task of the widest stage that reads
    // a shuffle (the reduce side of an exchange)
    val reduces = recs.filter(r => r.info.taskMetrics.shuffleReadMetrics.totalBytesRead > 0)
    val reduce = reduces.sortBy(-_.taskMs.length).headOption
    val skew = reduce.filter(_.taskMs.nonEmpty).map { r =>
      val d = r.taskMs.map(_.toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }.getOrElse(0.0)
    StageStats(ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
      ms.map(_.shuffleWriteMetrics.recordsWritten).sum,
      ms.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum, skew,
      // executor CPU of the stages that read a shuffle
      reduces.map { r =>
        val m = r.info.taskMetrics
        m.executorCpuTime + m.executorDeserializeCpuTime
      }.sum / 1e9)
  }

  def writeSpans(path: Path): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val body = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","start_ms":""" +
        f"${(s.startNs - epochNs) / 1e6}%.3f" + ""","end_ms":""" +
        f"${(s.endNs - epochNs) / 1e6}%.3f" + s""","parent":${s.parent}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Facts read from executed physical plans. */
object Plans {
  /** Every node of an executed plan, descending into adaptive query
    * stages, reused exchanges and command sub-plans. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val below: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.innerChildren.collect { case s: SparkPlan => s }
    }
    p +: below.flatMap(nodes)
  }

  def allNodes(qes: Seq[QueryExecution]): Seq[SparkPlan] = qes.flatMap(q => nodes(q.executedPlan))

  /** Largest generated method, in bytes, over the whole-stage codegen
    * subtrees of the executed plans (the JVM stops JIT-compiling a
    * method past 8,000 bytes). */
  def maxMethodBytes(qes: Seq[QueryExecution]): Int =
    allNodes(qes).collect { case w: WholeStageCodegenExec => w }
      .map { w =>
        val (_, code) = w.doCodeGen()
        CodeGenerator.compile(code)._2.maxMethodCodeSize
      }.foldLeft(0)(math.max)

  /** Sum of the SQL metric `metric` over the nodes that match `pick`. */
  def metric(qes: Seq[QueryExecution], metric: String)(pick: SparkPlan => Boolean): Long =
    allNodes(qes).filter(pick).flatMap(_.metrics.get(metric)).map(_.value).sum
}
