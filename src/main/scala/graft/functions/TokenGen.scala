package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Deterministic token-array generator `(seqId, nTok) -> array<int>` —
  * the same 31-bit LCG + xor-shift chain as
  * [[graft.pipeline.TokenSequences]] (and its DuckDB oracle CTE), but as
  * a single codegen'd expression with one primitive allocation per row.
  *
  * Why not `transform(sequence(1, n), ...)`: Spark's higher-order
  * functions evaluate *interpreted* — per element they box the lambda
  * variable and every intermediate of the arithmetic chain. At 32
  * local cores the resulting allocation rate makes token generation
  * scale NEGATIVELY with parallelism (GC contention) — measured 10.2s
  * (8 cores) -> 16.8s (32 cores) on 400k rows before this expression,
  * vs linear scaling after.
  */
case class TokenGen(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "token_gen"

  override def nullSafeEval(seqId: Any, nTok: Any): Any =
    TokenGen.compute(seqId.asInstanceOf[Long], nTok.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seqId, nTok) =>
      s"${ev.value} = graft.functions.TokenGen.compute($seqId, $nTok);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenGen {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(seqId: Column, nTok: Column): Column =
    Bridge.column(TokenGen(Bridge.expression(seqId), Bridge.expression(nTok)))

  private final val M = 2147483648L // 2^31
  private final val A = 1103515245L
  private final val C = 12345L
  final val Vocab = 50257L

  /** Identical math to TokenSequences / the DuckDB CTE (seqId reduced
    * mod 2^31 first so arithmetic seq_ids up to 2^53 cannot overflow):
    * u = (s + j*48271) % M; v = u ^ (u >>> 15); t = ((v*A + C) % M) % Vocab. */
  def compute(seqId: Long, nTok: Int): ArrayData = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val out = new Array[Int](if (nTok < 0) 0 else nTok)
    var j = 1
    while (j <= out.length) {
      val u = (s + j * 48271L) % M
      val v = u ^ (u >>> 15)
      out(j - 1) = (((v * A + C) % M) % Vocab).toInt
      j += 1
    }
    new IntArrayData(out) // zero-copy view; see PrimitiveArrayData
  }

  /** `PackTokens.compute(compute(seqId, nTok))` without the int array:
    * [[compute]]'s chain written straight into the [[PackTokens]] uint16
    * little-endian encoding, one 2-byte write per token. It rejects an
    * out-of-range id exactly as [[PackTokens.compute]] does (negative
    * seqIds can drive the chain below zero). [[PackTokens]]' codegen calls
    * it when its child is a [[TokenGen]]. */
  def computePacked(seqId: Long, nTok: Int): Array[Byte] = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val n = if (nTok < 0) 0 else nTok
    val out = new Array[Byte](n * 2)
    var j = 1
    while (j <= n) {
      val u = (s + j * 48271L) % M
      val v = u ^ (u >>> 15)
      val t = (((v * A + C) % M) % Vocab).toInt
      if (t < 0 || t > 0xFFFF) throw PackTokens.outOfRange(t, j - 1)
      out((j - 1) * 2) = t.toByte
      out((j - 1) * 2 + 1) = (t >>> 8).toByte
      j += 1
    }
    out
  }
}
