package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expressions for embedding math (SURVEY §2 M3).
  *
  * A Scala UDF over Array[Float] would deserialize each array to
  * `WrappedArray` per row; these expressions read the columnar
  * `ArrayData` buffers directly and participate in whole-stage codegen —
  * the preference order the north star mandates (built-in > Expression >
  * UDF). Accumulation is sequential in Double, matching the DuckDB
  * oracle's `list_cosine_similarity(::DOUBLE[])` bit-for-bit.
  */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  @inline protected final def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** True if either vector has a null slot — the whole result must be NULL
    * (SQL null propagation). ArrayData.getDouble on a null slot silently
    * reads 0.0, so skipping this check would yield a wrong number, not an
    * error.
    */
  @inline protected final def anyNullSlot(a: ArrayData, b: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  protected def getterCode(v: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** dot(a, b): sequential double accumulation; null if lengths differ. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements() || anyNullSlot(a, b)) null
    else {
      val (fa, fb) = (elemIsFloat(left), elemIsFloat(right))
      var dot = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) { dot += get(a, i, fa) * get(b, i, fb); i += 1 }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ${getterCode(a, i, elemIsFloat(left))} *
         |            ${getterCode(b, i, elemIsFloat(right))};
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (||a|| * ||b||); null on length mismatch or a
  * zero-norm side.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements() || anyNullSlot(a, b)) null
    else {
      val (fa, fb) = (elemIsFloat(left), elemIsFloat(right))
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = get(a, i, fa)
        val y = get(b, i, fb)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${getterCode(a, i, elemIsFloat(left))};
         |    double $y = ${getterCode(b, i, elemIsFloat(right))};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance; null on length mismatch or a null slot. */
case class EuclideanDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements() || anyNullSlot(a, b)) null
    else {
      val (fa, fb) = (elemIsFloat(left), elemIsFloat(right))
      var acc = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val d = get(a, i, fa) - get(b, i, fb)
        acc += d * d
        i += 1
      }
      math.sqrt(acc)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ${getterCode(a, i, elemIsFloat(left))} -
         |                ${getterCode(b, i, elemIsFloat(right))};
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = java.lang.Math.sqrt($acc);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** All hyperplane-LSH bucket hashes of a vector in ONE expression:
  * out(t) = Σ_p [dot(vec, planes(t)(p)) >= 0] << p, returned as
  * array<long>, one element per table.
  *
  * Why fused: composing this from `when(dot(vec, typedlit(plane)) >= 0)`
  * columns puts tables × planes inlined dot loops into one generated
  * method; at 8×6 the method blows past the JIT/codegen method limits and
  * the whole projection drops to interpreted eval — measured 58 s for the
  * LSH candidate join on 100k vectors vs ~1 s fused (BASELINE.md). Here the
  * loop is plain JIT-compiled Scala over a primitive matrix
  * (CodegenFallback costs one boxed call per row, irrelevant next to the
  * tables×planes×dim arithmetic it hosts).
  */
case class HyperplaneBuckets(child: Expression, planes: Seq[Seq[Seq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double>, got $other")
    }

  @transient private lazy val mat: Array[Array[Array[Double]]] =
    planes.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    // dimension mismatch -> NULL, same contract as DotProduct on
    // different-length vectors (truncating would silently degrade recall)
    if (mat.nonEmpty && mat(0).nonEmpty && n != mat(0)(0).length) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null // null slot -> null result, like dot
      x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val out = new Array[Any](mat.length)
    var t = 0
    while (t < mat.length) {
      val ps = mat(t)
      var h = 0L
      var p = 0
      while (p < ps.length) {
        val w = ps(p)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += x(j) * w(j); j += 1 }
        if (dot >= 0) h |= (1L << p)
        p += 1
      }
      out(t) = h
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Nearest-centroid cell id (euclidean argmin over a fixed centroid
  * matrix) in ONE expression — the IVF assignment step.
  *
  * Why fused: composing the argmin from nCells separate
  * `euclidean(vec, typedlit(center))` columns inlines nCells × dim
  * distance loops into one generated method — the identical codegen/JIT
  * blowup [[HyperplaneBuckets]] exists to avoid (measured: IVF assignment
  * over 20k×64-dim vectors with 64 composed distance columns ran 6×
  * slower than the fused loop). Ties break to the lowest cell id, so
  * assignment is deterministic.
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<float|double>, got $other")
    }

  @transient private lazy val mat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (mat.isEmpty || n != mat(0).length) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      x(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < mat.length) {
      val w = mat(c)
      var d = 0.0
      var j = 0
      while (j < n) { val t = x(j) - w(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** PQ asymmetric-distance score: `sum_j tbl[j * nCells + codes[j]]` — one
  * tight loop per row over the (per-query) lookup table and the row's
  * subspace codes. The zip_with + aggregate + element_at HOF composition
  * computing the same thing ran ~20x slower at 100k x 100 pairs (nested
  * lambda interpretation per element); this is the [[HyperplaneBuckets]]
  * lesson applied to ADC.
  */
case class AdcScore(left: Expression, right: Expression, nCells: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<double> table, array<int> codes), got $other")
    }

  override def nullSafeEval(t: Any, c: Any): Any = {
    val tbl = t.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val idx = j * nCells + codes.getInt(j)
      if (idx < 0 || idx >= tbl.numElements() || tbl.isNullAt(idx)) return null
      s += tbl.getDouble(idx)
      j += 1
    }
    s
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object VectorFunctions {

  /** Nearest-centroid cell (euclidean argmin) as a Column (int). */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    GraftBridge.column(
      NearestCentroid(GraftBridge.expression(vec), centroids))

  /** Per-table hyperplane bucket hashes as a Column (array<long>). */
  def hyperplaneBuckets(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(
      HyperplaneBuckets(GraftBridge.expression(vec), planes))

  /** PQ ADC score (sum of per-subspace table lookups) as a Column. */
  def adcScore(tbl: Column, codes: Column, nCells: Int): Column =
    GraftBridge.column(
      AdcScore(GraftBridge.expression(tbl), GraftBridge.expression(codes), nCells))

  /** dot product as a Column. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** cosine similarity as a Column. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2 norm. */
  def l2Norm(a: Column): Column = {
    val d = dot(a, a)
    org.apache.spark.sql.functions.sqrt(d)
  }

  /** Euclidean distance as a Column. */
  def euclidean(a: Column, b: Column): Column =
    GraftBridge.column(
      EuclideanDistance(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Register cosine_sim / dot_product / euclidean_dist for SQL callers. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftBridge.registerFunction(spark, "cosine_sim",
      es => CosineSimilarity(es.head, es(1)))
    GraftBridge.registerFunction(spark, "dot_product",
      es => DotProduct(es.head, es(1)))
    GraftBridge.registerFunction(spark, "euclidean_dist",
      es => EuclideanDistance(es.head, es(1)))
  }
}
