package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Cosine similarity over two float-vector columns as a native Catalyst
  * expression with whole-stage codegen.
  *
  * The composable form (`zip_with` + `aggregate` higher-order functions) is
  * CodegenFallback — every element evaluation is an interpreted lambda call
  * — which dominates the ANN operators' runtime. This expression emits
  * three tight primitive loops instead (~20x less per-row cost) while
  * keeping the exact IEEE evaluation order of the composable form and of
  * the DuckDB oracle: elementwise double products summed left-to-right,
  * then dot / sqrt(normA) / sqrt(normB).
  *
  * Lives under org.apache.spark.sql to reach the private[sql]
  * Column<->Expression bridge; depends only on public Spark internals
  * semantics (Expression, ArrayData).
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < x.numElements()) { val v = x.getFloat(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.numElements()) { val v = y.getFloat(i).toDouble; nb += v * v; i += 1 }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i); $na += $v * $v;
         |}
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  double $v = (double) $b.getFloat($i); $nb += $v * $v;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na) / java.lang.Math.sqrt($nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVecCosine =
    copy(left = newLeft, right = newRight)
}

/** Squared euclidean distance over two float-vector columns — the PQ/
  * kmeans metric — as a native codegen expression. Same rationale and
  * IEEE discipline as [[FloatVecCosine]]: elementwise double differences
  * squared and summed left-to-right, one tight primitive loop.
  */
case class FloatVecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_vec_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Elementwise difference of two float-vector columns (a - b, truncated
  * to the shorter length) — the IVF residual step in front of product
  * quantization, where it runs once per corpus vector. Same rationale as
  * [[FloatVecCosine]]: the `zip_with` form is an interpreted lambda per
  * element. Each element is computed as `(float)((double)a - (double)b)`:
  * the double difference of two floats is exact, so the float cast is the
  * correctly-rounded float subtraction — reproducible by any engine
  * casting `CAST(a AS DOUBLE) - CAST(b AS DOUBLE)` back to REAL.
  */
case class FloatVecSub(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "float_vec_sub"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = (x.getFloat(i).toDouble - y.getFloat(i).toDouble).toFloat
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |float[] $arr = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $arr[$i] = (float) ((double) $a.getFloat($i) - (double) $b.getFloat($i));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): FloatVecSub =
    copy(left = newLeft, right = newRight)
}

/** Upper-triangle pairwise products of a float vector's elements:
  * for dims d, an array of d·(d-1)/2 doubles laid out row-major
  * (i=0: j=1..d-1, i=1: j=2..d-1, …), element = (double)x[i] * (double)x[j]
  * — the per-row outer-product contribution a covariance aggregate
  * consumes. The double product of two floats is exact, so any engine
  * multiplying the same casts reproduces each element bit-for-bit.
  *
  * A HOF composition (flatten of nested transforms) is CodegenFallback —
  * two interpreted lambda layers per element; this emits one tight
  * primitive double loop. Pair index pidx(i,j) = i·(2d-i-1)/2 + j-i-1,
  * the same formula the relational (pidx → i,j) mapping table uses.
  */
case class FloatVecPairProducts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "float_vec_pair_products"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val d = x.numElements()
    val out = new Array[Double](d * (d - 1) / 2)
    var p = 0
    var i = 0
    while (i < d) {
      val xi = x.getFloat(i).toDouble
      var j = i + 1
      while (j < d) { out(p) = xi * x.getFloat(j).toDouble; p += 1; j += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xi = ctx.freshName("xi")
      s"""
         |int $d = $a.numElements();
         |double[] $out = new double[$d * ($d - 1) / 2];
         |int $p = 0;
         |for (int $i = 0; $i < $d; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  for (int $j = $i + 1; $j < $d; $j++) {
         |    $out[$p++] = $xi * (double) $a.getFloat($j);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecPairProducts =
    copy(child = newChild)
}

/** Column-API surface for graft's native expressions. */
object GraftExpressions {
  def floatVecCosine(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVecCosine(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatVecL2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVecL2Sq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatVecSub(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVecSub(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatVecPairProducts(a: Column): Column =
    ExpressionUtils.column(FloatVecPairProducts(ExpressionUtils.expression(a)))

  /** Z-order bit interleave of two non-negative longs (low 32 bits each;
    * a takes even bit positions). Codegen'd StaticInvoke — the curve math
    * stays a plain JVM method inside whole-stage codegen.
    */
  def zInterleave(a: Column, b: Column): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.sources.ZOrderOps.getClass, LongType, "interleave",
      Seq(ExpressionUtils.expression(a), ExpressionUtils.expression(b)),
      Seq(LongType, LongType)))

  /** DEFLATE/INFLATE as codegen'd StaticInvoke expressions — the codec
    * stays a plain JVM method but the call site lives inside whole-stage
    * codegen (no UDF serialization, no codegen break).
    */
  def deflate(bin: Column): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.operators.GraftCodec.getClass, BinaryType, "deflate",
      Seq(ExpressionUtils.expression(bin)), Seq(BinaryType)))

  def inflate(bin: Column): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      graft.operators.GraftCodec.getClass, BinaryType, "inflate",
      Seq(ExpressionUtils.expression(bin)), Seq(BinaryType)))

  /** Membership probe against a driver-built Bloom filter, as Spark's own
    * codegen'd [[org.apache.spark.sql.catalyst.expressions
    * .BloomFilterMightContain]] over the serialized filter literal — the
    * exact expression injected runtime row-level filters use, so the
    * probe compiles into whole-stage codegen instead of crossing a UDF
    * boundary. `bytes` is `BloomFilter.writeTo`'s format.
    */
  def bloomMightContain(bytes: Array[Byte], value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes, BinaryType),
        ExpressionUtils.expression(value)))

  /** Struct field by POSITION (GetStructField ordinal) — what CQL tuple
    * rendering needs: tuples are positional, so the accessor must not
    * depend on whatever field names the Spark struct happens to carry.
    */
  def structFieldAt(c: Column, ordinal: Int): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.GetStructField(
        ExpressionUtils.expression(c), ordinal))
}
