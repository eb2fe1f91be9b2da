package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload is given: the session, its core count, the seed and a
  * scratch directory inside the checkout. */
final case class Env(spark: SparkSession, cores: Int, seed: Long, work: Path) {
  def parts: Int = 4 * cores
  val tally = new Tally
}

/** Ops attempted and failed; an op fails on an exception or a failed check. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer[String]()

  def record(failures: Seq[String]): Unit = {
    attempted += 1
    if (failures.nonEmpty) { failed += 1; errors ++= failures.take(5) }
  }

  /** Runs `body`, which records its op; an exception records a failed op. */
  def attempt(body: => Unit): Unit =
    try body
    catch { case e: Exception => record(Seq(s"op threw ${e.getClass.getName}: ${e.getMessage}")) }
}

/** One benchmark workload: a closed loop with one client, so an op starts
  * only after the previous one has finished. */
trait Workload {
  type Out
  def env: Env

  /** Items one op processes (sequences, log lines, documents). */
  def itemsPerOp: Long
  def warmupOps: Int
  /** Ops that make up one complete round; a run times whole rounds. */
  def roundOps: Int = 1
  /** Wall time of one op on a 4-core host. It turns `--seconds` into a
    * fixed op count, so that every run, on every commit, times the same
    * ops: a faster commit must not be timed further along its JIT warm-up. */
  def nominalOpS: Double

  /** Generates the seeded inputs and the reference the checks compare
    * against, without the layers under test. Running it again rebuilds
    * the same inputs. */
  def prepare(): Unit

  /** Runs op number `i` and returns what the checks need of its output. */
  def run(i: Int): Out
  /** The failed checks of one op's output (empty when it is correct). */
  def check(i: Int, out: Out): Seq[String]
  /** Deliberately corrupted copies of a correct output, one per check,
    * each of which `check` must reject. */
  def corrupt(i: Int, out: Out): Seq[(String, Out)]

  /** Runs and checks op `i`, recording the outcome in the tally. */
  def checked(i: Int): Unit = env.tally.attempt {
    val out = run(i)
    env.tally.record(check(i, out))
  }

  /** The traced run: per-layer metrics, measured from outside the library. */
  def layers(t: Tracer): Map[String, Double]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The keys whose expected and observed values differ, as messages. */
  def diff(what: String, exp: Map[String, Any], got: Map[String, Any]): Seq[String] =
    (exp.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      val (e, g) = (exp.get(k), got.get(k))
      if (e == g) None else Some(s"$what[$k]: expected ${e.getOrElse("-")}, got ${g.getOrElse("-")}")
    }
}
