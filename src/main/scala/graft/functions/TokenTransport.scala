package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shuffle transport encoding for token arrays: `array<int32>` packed to
  * 2 bytes per token (little-endian uint16) before a route exchange and
  * unpacked after — valid because the vocabulary is 16-bit by contract
  * ([[TokenGen.Vocab]] = 50257 < 2^16; GPT-2-family vocabularies fit the
  * same bound).
  *
  * Why it matters at scale: the token payload dominates the route
  * shuffle's bytes, and pseudo-random token ids are ENTROPY-BOUND to the
  * codec — measured on the 8M-row scaling job, zstd ships ~23.7 of each
  * token's 32 bits (the two low bytes are near-uniform; level 3 costs
  * 1.5x CPU for no byte savings). Packing moves exactly the 16
  * meaningful bits: ~32% fewer bytes through the narrowest shared
  * resource (one host's DRAM path here; NICs on a real cluster) AND the
  * payload skips the compressor's entropy stage. The pair of projections
  * brackets the exchange — Catalyst does not collapse expression-bearing
  * Projects across RepartitionByExpression (PlanQualitySpec asserts the
  * exchange's input schema is the packed one) — so downstream operators
  * see the identical `array<int32>` column.
  *
  * [[PackTokens]] THROWS on ids outside [0, 65535] (a corrupted id must
  * not round-trip silently) and on null elements; NULL arrays stay NULL.
  *
  * Over the generator itself, `pack_tokens(token_gen(s, n))`, the
  * generated code calls [[TokenGen.computePacked]] and never builds the
  * ~2 KB int array per row; it throws the same error on the same input.
  * The expression decides this in its own codegen, so the fusion needs no
  * optimizer rule or session setting and fires wherever CollapseProject
  * puts the pack directly over the generator (the packed
  * `LogPipeline.parseEnrichRoute`, `q_pipe_tokeq`'s expectation). The
  * interpreted path packs the generated array.
  */
case class PackTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_tokens"

  override def nullSafeEval(a: Any): Any =
    PackTokens.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = child match {
    case TokenGen(seqId, nTok) =>
      val s = seqId.genCode(ctx)
      val n = nTok.genCode(ctx)
      ev.copy(code = code"""
        ${s.code}
        ${n.code}
        boolean ${ev.isNull} = ${s.isNull} || ${n.isNull};
        byte[] ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.TokenGen.computePacked(${s.value}, ${n.value});
        }""")
    case _ =>
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.PackTokens.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PackTokens {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(tokens: Column): Column =
    Bridge.column(PackTokens(Bridge.expression(tokens)))

  private[functions] def outOfRange(v: Int, i: Int) = new IllegalArgumentException(
    s"pack_tokens: token id $v at index $i outside uint16 — vocabulary contract violated")

  def compute(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"pack_tokens: null token at index $i — token arrays are non-null by contract")
      val v = a.getInt(i)
      if (v < 0 || v > 0xFFFF) throw outOfRange(v, i)
      out(i * 2) = v.toByte
      out(i * 2 + 1) = (v >>> 8).toByte
      i += 1
    }
    out
  }
}

/** Inverse of [[PackTokens]]; output element type is non-null int32. */
case class UnpackTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "unpack_tokens"

  override def nullSafeEval(b: Any): Any =
    UnpackTokens.compute(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.UnpackTokens.compute($b);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnpackTokens {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(packed: Column): Column =
    Bridge.column(UnpackTokens(Bridge.expression(packed)))

  def compute(b: Array[Byte]): ArrayData = {
    val n = b.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (b(i * 2) & 0xFF) | ((b(i * 2 + 1) & 0xFF) << 8)
      i += 1
    }
    new IntArrayData(out) // zero-copy view; see PrimitiveArrayData
  }
}
