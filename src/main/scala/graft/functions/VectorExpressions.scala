package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd vector kernels. Spark's higher-order functions (zip_with /
  * aggregate) are evaluated interpreted, one boxed lambda call per array
  * element — a dot product over a 64-dim embedding costs ~200 virtual
  * calls per pair, which dominates similarity-search plans. These
  * expressions compile to a tight primitive loop inside WholeStageCodegen
  * instead (measured ~50× on the embeddings near-dup query), following
  * the custom-`Expression`-over-UDF preference (see the Catalyst
  * `Expression.doGenCode` contract in the Spark source).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd INTEGER dot product over micro-pinned vectors
  * (array<bigint> × array<bigint> → bigint) — the exact rank-key
  * kernel of the de-floated similarity yardsticks: once both vectors
  * are pinned to integer micros, the dot is a sum of exact integer
  * products (order-free, overflow-safe at 64 dims × 1e6-scale micros:
  * |term| ≤ 1e12, |sum| ≤ 6.4e13 « 2^63), so the downstream cosine
  * `dot / (sqrt(na)·sqrt(nb))` is a fixed chain of correctly-rounded
  * IEEE ops on exact integers — bit-identical in any engine that
  * replays the same expression shape, unlike a native float cosine
  * whose accumulation order is implementation-defined. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _                                                 => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_long expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Top-`nAssign` IVF centroids per vector, computed against a
  * DRIVER-RESIDENT centroid model — the assignment kernel of
  * `Similarity.ivfAssign`. The first formulation was a broadcast
  * nested-loop join (one row per vector × centroid) collapsed by a
  * map-side argmax aggregate: correct, but every candidate row
  * materializes BOTH 64-double arrays through the join, and at √n
  * centroids that is n^1.5 UnsafeRow array copies — a 30× ScaleUp
  * probe measured the assignment alone at 34 s for 60k vectors × 245
  * centroids (~16 GB of row traffic for ~1 GFLOP of useful work).
  * This expression does what MLlib KMeans does: the centroid matrix
  * (c·√n × dim — tens of MB at 10⁹ vectors, bounded by construction)
  * rides into the task as a plan constant, and each vector is scored
  * in one tight primitive loop with NO per-candidate row. Same probe:
  * ~2 s (and the assignment stops being the operator's bottleneck —
  * the in-bucket pair join is, which `autoCentroids`' 4√n sizing then
  * shrinks).
  *
  * Semantics are BIT-IDENTICAL to the join+argmax form (and to the
  * DuckDB oracles that replay it): cosine against each centroid with
  * the zero-denominator guard, rounded to 6 dp exactly as Spark's
  * `round` does (BigDecimal.valueOf → setScale HALF_UP), ranked by
  * (sim DESC, centroid id ASC). Returns the top-n centroid ids,
  * best-first.
  *
  * Interpreted eval (CodegenFallback) is deliberate: the per-row cost
  * IS the k×dim loop over primitive arrays; codegen would save one
  * virtual dispatch per ROW, not per candidate, and the fallback keeps
  * the surrounding projection simple. */
case class IvfTopCentroids(vec: Expression, nrm: Expression,
    ids: Array[Long], cvs: Array[Array[Double]], cns: Array[Double],
    nAssign: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = vec
  override def right: Expression = nrm

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (v, n) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_top_centroids expects (array<double>, double), got " +
            s"${v.simpleString} / ${n.simpleString}")
    }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(v: Any, nrmRaw: Any): Any = {
    val va = v.asInstanceOf[ArrayData].toDoubleArray()
    val nv = nrmRaw.asInstanceOf[Double]
    val k = math.min(nAssign, ids.length)
    val topSim = new Array[Double](k)
    val topId = new Array[Long](k)
    var filled = 0
    var c = 0
    while (c < ids.length) {
      val cv = cvs(c)
      val n = math.min(va.length, cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += va(i) * cv(i); i += 1 }
      val denom = nv * cns(c)
      val sim0 = if (denom == 0.0) 0.0 else s / denom
      val sim = Round6(sim0)
      val id = ids(c)
      // insertion into the (sim DESC, id ASC)-ordered top-k buffer
      var pos = filled
      while (pos > 0 && (sim > topSim(pos - 1) ||
             (sim == topSim(pos - 1) && id < topId(pos - 1)))) pos -= 1
      if (pos < k) {
        val last = math.min(filled, k - 1)
        var j = last
        while (j > pos) { topSim(j) = topSim(j - 1); topId(j) = topId(j - 1); j -= 1 }
        topSim(pos) = sim
        topId(pos) = id
        if (filled < k) filled += 1
      }
      c += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(topId, filled))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfTopCentroids =
    copy(vec = newLeft, nrm = newRight)
}

/** Spark's `round(x, 6)` on a double, bit for bit:
  * `BigDecimal.valueOf(x).setScale(6, HALF_UP)`, with NaN and the
  * infinities passed through. BigDecimal.valueOf per call was ~80% of
  * the IVF assignment kernel's cost (measured: 9.2 s → 0.7 s for 14.7M
  * candidates), so the hot path rounds arithmetically and only defers
  * to BigDecimal inside a ±1e-6 band around the half-way boundary —
  * where the shortest-string semantics of Spark's round (valueOf) and
  * the scaled double can genuinely disagree (their gap is ≤ ~2e-10 in
  * these units while |x| < 1e3; the band is 5000× wider). Larger
  * magnitudes always take BigDecimal. */
private[graft] object Round6 {
  def apply(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else {
      val y = x * 1e6
      val f = y - math.floor(y)
      if (math.abs(x) >= 1e3 || math.abs(f - 0.5) < 1e-6)
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else {
        val m = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
        m / 1e6 + 0.0 // + 0.0: BigDecimal has no negative zero
      }
    }
}

object VectorFunctions {
  /** Column API for the codegen'd dot product (inputs: array<double>). */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the codegen'd integer dot (inputs: array<bigint>). */
  def dot_long(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the driver-model IVF assignment kernel. */
  def ivf_top_centroids(vec: Column, nrm: Column, ids: Array[Long],
                        cvs: Array[Array[Double]], cns: Array[Double],
                        nAssign: Int): Column =
    ColumnBridge.column(IvfTopCentroids(
      ColumnBridge.expression(vec), ColumnBridge.expression(nrm),
      ids, cvs, cns, nAssign))
}
