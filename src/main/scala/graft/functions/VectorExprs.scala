package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native (whole-stage-codegen) float-vector dot product.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback — interpreted lambda dispatch per element — which made
  * the all-pairs cosine stage the bench bottleneck (~75 s at sf0.1). This
  * expression emits a tight fused-multiply-add loop instead. Semantics are
  * EXACTLY the fold the oracle uses: Σ left-to-right of
  * `(double) a[i] * (double) b[i]` — bit-identical to the generated DuckDB
  * term sum ([[SimilarityOps.dotDuck]]), so oracle comparisons stay exact.
  *
  * This is the (b)-tier of the custom-operator preference order (compose
  * built-ins < custom Expression < custom plan node): a scalar expression
  * that keeps the surrounding join/top-k plan fully declarative.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> arguments, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  // Mismatched lengths → NULL, and so is ANY null element — matching the
  // zip_with/aggregate reference exactly (a padded or genuine null
  // poisons its product and the fold). A truncated dot, or one that read
  // a null slot as 0.0, would be a plausible-but-wrong similarity.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Weight table + kernel for the random-hyperplane LSH bucket key.
  * Semantics are EXACTLY [[SimilarityOps.hyperplaneKey]]'s composed form:
  * bit p = `Σ_d w(p,d)·(double) v[d] > 0` summed left-to-right (same
  * association as the `reduce(_ + _)` chain and the generated DuckDB term
  * sum — bit-identical sign decisions), key = Σ 2^p over set bits. The
  * composed form is a `planes × dim` literal expression tree (512 nodes at
  * the defaults), which Janino splits into dozens of methods per operator;
  * the kernel is one cached-table loop. */
object HyperplaneKernel {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** Flattened w(p,d) table for (planes, dim), cached per shape —
    * same MD5-parity constants as [[SimilarityOps.hyperplaneWeight]]. */
  private def weights(planes: Int, dim: Int): Array[Double] =
    cache.computeIfAbsent((planes, dim), { _ =>
      Array.tabulate(planes * dim) { i =>
        SimilarityOps.hyperplaneWeight(i / dim, i % dim)
      }
    })

  def key(vec: ArrayData, planes: Int, dim: Int): Long = {
    if (vec.numElements() < dim)
      // composed form's element_at(vec, d+1) errors on short vectors under
      // ANSI — an out-of-range bucket key would silently mis-bucket
      throw new ArrayIndexOutOfBoundsException(
        s"hyperplane_key: vector has ${vec.numElements()} elements, needs $dim")
    // a null element nulls EVERY plane's projection in the composed form
    // (each plane sums over all dims; `null > 0` → bit unset), so the
    // whole key is 0 — mirror that exactly rather than reading 0.0
    var d0 = 0
    while (d0 < dim) {
      if (vec.isNullAt(d0)) return 0L
      d0 += 1
    }
    val w = weights(planes, dim)
    var key = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      val base = p * dim
      var d = 0
      while (d < dim) {
        acc += w(base + d) * vec.getFloat(d).toDouble
        d += 1
      }
      if (acc > 0) key |= (1L << p)
      p += 1
    }
    key
  }
}

/** Native hyperplane-LSH bucket key — whole-stage-codegen compatible. */
case class HyperplaneKey(child: Expression, planes: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)
        if planes >= 1 && planes <= 63 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_key requires array<float> and 1 <= planes <= 63, got " +
            s"${child.dataType.sql}, planes=$planes")
    }

  override def nullSafeEval(v: Any): Any =
    HyperplaneKernel.key(v.asInstanceOf[ArrayData], planes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneKernel.key($c, $planes, $dim)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneKey =
    copy(child = newChild)
}

object VectorExprs {
  /** Column API for [[DotProduct]] (array<float> × array<float> → double). */
  def dotNative(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[HyperplaneKey]] (array<float> → long bucket key). */
  def hyperplaneKeyNative(vec: Column, planes: Int, dim: Int): Column =
    Bridge.column(HyperplaneKey(Bridge.expression(vec), planes, dim))
}
