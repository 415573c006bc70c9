package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Per-byte payload kernels as codegen'd StaticInvokes (the srpSign
  * discipline): ONE plan node per call, direct byte access, no UDF.
  *
  * Why not builtins or an unrolled projection (r14 optimization round):
  * the dHash gradient signature needs 2·nBits strided byte reads per row.
  * The byte-at-a-time builtin form (conv∘hex∘substring inside a HOF
  * `aggregate`) evaluates INTERPRETED per bit; unrolling the reads as 63
  * named codegen'd columns executes fast (60 ms at sf0.1) but costs ~1 s
  * of CATALYST PLANNING per query — measured at planning 1.03 s against
  * 0.06 s for a second execute, and linear in nBits. A plain
  * JVM loop behind StaticInvoke is one expression node: planning is
  * trivial and the loop runs inside whole-stage codegen at every scale.
  */
object GraftByteOps {

  /** dHash-family perceptual hash over a byte payload: nBits+1 evenly
    * strided unsigned-byte samples, bit j set iff sample(j+1) > sample(j).
    * Caller guarantees payload length ≥ nBits+1 (stride ≥ 1); semantics
    * identical to the former relational form (sample k = 1-based byte
    * 1 + k·stride, stride = (len−1) div nBits).
    */
  def phash(b: Array[Byte], nBits: Int): Long = {
    val stride = (b.length - 1) / nBits
    var fp = 0L
    var j = 0
    while (j < nBits) {
      if ((b((j + 1) * stride) & 0xff) > (b(j * stride) & 0xff))
        fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Per-frame PCM stats in one pass: element f of the result is
    * [n_samples, Σ(s−128)², max|s−128|] for the f-th `frameBytes`-wide
    * frame (ceil division, partial tail frame kept) — the aggregate
    * [[graft.operators.Multimodal.audioFrameEnergy]] formerly computed by
    * exploding one row per BYTE and re-grouping (the explode carried the
    * payload into every per-sample row and the per-byte reads went
    * through conv∘hex∘substring). All integer arithmetic, identical
    * values.
    */
  def frameEnergies(b: Array[Byte],
                    frameBytes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = b.length
    val nf = (n + frameBytes - 1) / frameBytes
    val out = new Array[Any](nf)
    var f = 0
    while (f < nf) {
      val start = f * frameBytes
      val end = math.min(start + frameBytes, n)
      var e = 0L
      var pk = 0L
      var i = start
      while (i < end) {
        val s = (b(i) & 0xff) - 128L
        e += s * s
        val a = math.abs(s)
        if (a > pk) pk = a
        i += 1
      }
      out(f) = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any]((end - start).toLong, e, pk))
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object ByteOpsFunctions {
  /** [[GraftByteOps.phash]] over a BINARY column, codegen'd. */
  def phash(payload: Column, nBits: Int): Column =
    ExpressionUtils.column(StaticInvoke(
      GraftByteOps.getClass, LongType, "phash",
      Seq(ExpressionUtils.expression(payload), Literal(nBits)),
      Seq(BinaryType, IntegerType)))

  /** [[GraftByteOps.frameEnergies]] over a BINARY column: array of
    * [n_samples, energy, peak] triples, one per frame.
    */
  def frameEnergies(payload: Column, frameBytes: Int): Column =
    ExpressionUtils.column(StaticInvoke(
      GraftByteOps.getClass, ArrayType(ArrayType(LongType)), "frameEnergies",
      Seq(ExpressionUtils.expression(payload), Literal(frameBytes)),
      Seq(BinaryType, IntegerType)))
}
