package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** The order-preserving 64-bit key of a double: signed LONG order on the
  * keys is `java.lang.Double.compare` order on the values (−∞ < … < −0.0
  * < 0.0 < … < +∞ < NaN, every NaN one canonical key), and the map is a
  * bijection, so a key range is a value range with no rounding at its
  * ends. Bucket arithmetic on keys wraps: the distance between two keys
  * can exceed `Long.MaxValue`, so it is read as unsigned — which is why
  * it runs here behind StaticInvoke and not as SQL `-`, which fails on
  * overflow under ANSI mode.
  */
object GraftOrderedKey {

  def key(v: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(v)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  /** Inverse of [[key]] (the bit flip is its own inverse). */
  def value(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))

  /** Bucket of key `k` in a range starting at `lo` (k ≥ lo): the unsigned
    * distance, shifted right by `shift`.
    */
  def bucket(k: Long, lo: Long, shift: Int): Long = (k - lo) >>> shift
}

object OrderedKeyFunctions {
  /** [[GraftOrderedKey.key]] over a DOUBLE column, codegen'd. */
  def orderedKey(v: Column): Column =
    ExpressionUtils.column(StaticInvoke(
      GraftOrderedKey.getClass, LongType, "key",
      Seq(ExpressionUtils.expression(v)), Seq(DoubleType)))

  /** [[GraftOrderedKey.bucket]] over LONG key and range-start columns. */
  def bucket(k: Column, lo: Column, shift: Column): Column =
    ExpressionUtils.column(StaticInvoke(
      GraftOrderedKey.getClass, LongType, "bucket",
      Seq(k, lo, shift).map(ExpressionUtils.expression),
      Seq(LongType, LongType, IntegerType)))
}
