package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Corpus dedup: `Dedup.ngramJaccard` (blocked by source) and
  * `Dedup.exact`, then `Dedup.dropNearDuplicates` over the exact
  * survivors, on a seeded corpus with planted exact and near duplicates. */
final class DedupWorkload(val env: Env, nDocs: Int) extends Workload {
  final case class Out(pairs: Seq[(Long, Long, Double)], kept: Set[Long], survivors: Set[Long])
  import env._

  val Threshold = 0.5
  private val Sources = 8
  private val Vocab = 4000

  private var docs: IndexedSeq[(Long, String, String)] = IndexedSeq.empty
  private var plantedExact: Seq[(Long, Long)] = Nil
  private var plantedNear: Seq[(Long, Long)] = Nil
  private var refKept: Set[Long] = Set.empty
  private var corpus: DataFrame = _

  def itemsPerOp: Long = nDocs
  def warmupOps: Int = 4
  def nominalOpS: Double = 2.0

  /** Zipf-distributed words, so that common phrases give long shingle
    * postings, as in real text. */
  private def words(rnd: Random, cdf: Array[Double], len: Int): Array[String] =
    Array.fill(len) {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"w${if (i >= 0) i else math.min(-i - 1, Vocab - 1)}"
    }

  private def shingles(text: String): Set[String] =
    text.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def prepare(): Unit = {
    val rnd = new Random(seed)
    val weights = (1 to Vocab).map(r => 1.0 / math.pow(r, 1.05))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val ex = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val near = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val originals = scala.collection.mutable.ArrayBuffer[Int]()
    for (id <- 0L until nDocs.toLong) {
      val r = rnd.nextDouble()
      if (originals.length > 50 && r < 0.05) {
        val (oid, src, text) = out(originals(rnd.nextInt(originals.length)))
        out += ((id, src, text)); ex += ((oid, id))
      } else if (originals.length > 50 && r < 0.10) {
        val (oid, src, text) = out(originals(rnd.nextInt(originals.length)))
        val w = text.split(' ')
        (1 to 2).foreach(_ => w(rnd.nextInt(w.length)) = words(rnd, cdf, 1).head)
        val copy = w.mkString(" ")
        out += ((id, src, copy))
        if (jaccard(text, copy) >= Threshold) near += ((oid, id))
      } else {
        originals += out.length
        out += ((id, s"s${rnd.nextInt(Sources)}",
          words(rnd, cdf, 30 + rnd.nextInt(50)).mkString(" ")))
      }
    }
    docs = out.toIndexedSeq
    plantedExact = ex.toSeq
    plantedNear = near.toSeq
    refKept = docs.groupBy(_._3).values.map(_.map(_._1).min).toSet
    import spark.implicits._
    corpus = docs.toDF("id", "source", "text")
  }

  private def pairsDf: DataFrame =
    Dedup.ngramJaccard(corpus, col("id"), col("text"), col("source"), 3, Threshold)

  def run(i: Int): Out = {
    import spark.implicits._
    val pairs = pairsDf.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def kept = Dedup.exact(corpus, col("text"), col("id"))
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    Out(pairs, ids(kept),
      ids(Dedup.dropNearDuplicates(kept, col("id"), pairs.toDF("id_a", "id_b", "jaccard"))))
  }

  /** A seeded sample of emitted pairs whose Jaccard is recomputed directly. */
  private def sample(pairs: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    pairs.sortBy(p => (p._1 * 1000003L + p._2) ^ seed).take(64)

  def check(i: Int, out: Out): Seq[String] = {
    val byId = docs.map(d => d._1 -> d).toMap
    val found = out.pairs.map(p => (p._1, p._2)).toSet
    val missing = (plantedExact ++ plantedNear).filterNot(found)
    val bad = out.pairs.filter { case (a, b, j) =>
      !(a < b && j >= Threshold && byId(a)._2 == byId(b)._2)
    }
    val wrongJ = sample(out.pairs).filter { case (a, b, j) =>
      math.abs(jaccard(byId(a)._3, byId(b)._3) - j) > 1e-9
    }
    val refSurvivors = out.kept -- out.pairs.map(_._2)
    Seq(
      if (missing.isEmpty) None else Some(s"${missing.length} planted duplicate pairs not found"),
      if (bad.isEmpty) None else Some(s"${bad.length} pairs under threshold or across blocks"),
      if (wrongJ.isEmpty) None else Some(s"${wrongJ.length} sampled Jaccard values differ"),
      if (out.kept == refKept) None
      else Some(s"exact survivors: ${out.kept.size}, expected ${refKept.size}"),
      if (out.survivors == refSurvivors) None
      else Some(s"near-dup survivors: ${out.survivors.size}, expected ${refSurvivors.size}")
    ).flatten
  }

  def corrupt(i: Int, out: Out): Seq[(String, Out)] = {
    val planted = plantedNear.head
    val s = sample(out.pairs).head
    // a pair outside the Jaccard sample, so that only the threshold check sees it
    val u = out.pairs.find(p => !sample(out.pairs).contains(p)).getOrElse(s)
    Seq(
      "planted pair missing" -> out.copy(pairs = out.pairs.filterNot(p => (p._1, p._2) == planted)),
      "pair under threshold" -> out.copy(pairs = out.pairs.map(p =>
        if (p == u) p.copy(_3 = Threshold - 0.1) else p)),
      "Jaccard value" -> out.copy(pairs = out.pairs.map(p => if (p == s) p.copy(_3 = p._3 + 0.01) else p)),
      "exact survivor" -> out.copy(kept = out.kept + plantedExact.head._2),
      "near-dup survivor" -> out.copy(survivors = out.survivors + out.pairs.head._2))
  }

  private def isJoin(p: SparkPlan): Boolean = p.getClass.getSimpleName.endsWith("JoinExec")
  private def isFinalAgg(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec => h.aggregateExpressions.exists(_.mode == Final)
    case _ => false
  }

  def layers(t: Tracer): Map[String, Double] = {
    val (untraced, traced) = (1 to 2).map { i =>
      (Meter.measure(checked(i))._2, t.traced { t.newOp(); t.action("dedup.op")(checked(10 + i)) })
    }.unzip
    t.start()
    val ngram = (1 to 2).map { _ =>
      t.newOp()
      val (pairs, cost, st, qes) = t.action("Dedup.ngramJaccard")(pairsDf.collect())
      val joinRows = Plans.metric(qes, "numOutputRows")(isJoin)
      val candidates = Plans.metric(qes, "numOutputRows")(isFinalAgg)
      (cost, st, joinRows, pairs.length.toDouble / math.max(candidates, 1L))
    }
    val exact = (1 to 2).map { _ =>
      t.newOp()
      val (_, cost, st, _) = t.action("Dedup.exact")(
        Dedup.exact(corpus, col("text"), col("id")).collect())
      (cost, st)
    }
    t.stop()
    Map(
      "operators.ngram_jaccard.core_s" -> Stats.median(ngram.map(_._1.coreS)),
      "operators.ngram_jaccard.join_rows" -> Stats.median(ngram.map(_._3.toDouble)),
      "operators.ngram_jaccard.pair_yield" -> Stats.median(ngram.map(_._4)),
      "operators.ngram_jaccard.shuffle_write_bytes" ->
        Stats.median(ngram.map(_._2.shuffleWriteBytes.toDouble)),
      "operators.exact.core_s" -> Stats.median(exact.map(_._1.coreS)),
      "operators.exact.shuffle_write_bytes" ->
        Stats.median(exact.map(_._2.shuffleWriteBytes.toDouble)),
      "jvm.gc_s" -> Stats.median(traced.map(_._2.gcS)),
      "trace.overhead_core_s" ->
        (Stats.median(traced.map(_._2.coreS)) - Stats.median(untraced.map(_.coreS))))
  }
}
