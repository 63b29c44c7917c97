package graft.functions

import graft.llm.Portable
import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native vector math for the similarity/dedup operators. Each
  * expression is one codegen'd helper call per row — a tight JVM loop
  * instead of interpreted higher-order-function lambdas (`zip_with` +
  * `aggregate` cost ~3-15µs per ELEMENT invocation; these cost
  * nanoseconds per element).
  *
  * Determinism contract: every accumulation runs in strict ascending
  * element order — exactly the left fold the DuckDB oracles evaluate
  * via `list_reduce` — so results agree bit-for-bit, with elements cast
  * float→double before multiplying as both engines' SQL does.
  */
private[functions] object VectorExprHelper {
  @inline private def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) { acc += at(a, i, af) * at(b, i, bf); i += 1 }
    acc
  }

  def normSq(a: ArrayData, af: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) { val x = at(a, i, af); acc += x * x; i += 1 }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double =
    dot(a, b, af, bf) / (math.sqrt(normSq(a, af)) * math.sqrt(normSq(b, bf)))

  /** Deterministic ±10% per-element perturbation keyed on
    * (vec_id, element index) through the portable 60-bit md5 hash:
    * y_i = x_i * (1 + (H("n|id|i") % 21 - 10) / 100). */
  def perturb(id: Long, a: ArrayData, af: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val hh = Portable.h(s"n|$id|$i") % 21 - 10
      out(i) = at(a, i, af) * (1.0d + hh.toDouble / 100.0d)
      i += 1
    }
    new GenericArrayData(out)
  }

  def toDouble(a: ArrayData, af: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = at(a, i, af); i += 1 }
    new GenericArrayData(out)
  }

  /** Spark SQL's double total order (SQLOrderingUtil.compareDoubles,
    * replicated — it is private[sql]): `x == y` first so -0.0 equals
    * 0.0, then Double.compare so NaN sorts largest and equals itself —
    * the exact comparator the max_by/min_by struct orderings used. */
  @inline private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Row-local argmax over `(id, c)` candidate structs by
    * (cosine(vec, c) DESC, id ASC) — the quantizer assignment pick
    * computed INSIDE the row (r20): the crossJoin(broadcast) →
    * groupBy(vec_id) → max_by shape re-aggregated rows that all came
    * from one input row, and the struct-ordered max_by planned as
    * SortAggregate (sort per partial AND final) with the embedding
    * riding the exchange. Cosine is the same [[cosine]] fold, hoisted
    * √normSq(vec) included (bit-identical — pure deterministic fold).
    * Returns null on an empty candidate array (the join-less twin of
    * "no rows for this vector"). */
  def bestByCosine(vec: ArrayData, cands: ArrayData, vf: Boolean): Any = {
    val n = cands.numElements()
    if (n == 0) return null
    val sa = math.sqrt(normSq(vec, vf))
    var bestId = 0
    var bestCos = 0.0d
    var has = false
    var i = 0
    while (i < n) {
      val st = cands.getStruct(i, 2)
      val id = st.getInt(0)
      val c = st.getArray(1)
      val cos = dot(vec, c, vf, false) / (sa * math.sqrt(normSq(c, false)))
      val better =
        if (!has) true
        else {
          val d = cmpD(cos, bestCos)
          d > 0 || (d == 0 && id < bestId)
        }
      if (better) { bestId = id; bestCos = cos; has = true }
      i += 1
    }
    InternalRow(bestId, bestCos)
  }

  /** Row-local argmin over `(id, c)` candidate structs by
    * (d²(vec, c) ASC, id ASC), d² = (|a|² + |b|²) − 2·(a·b) with the
    * identical fold/association order as the l2sq expression tree —
    * the PQ code assignment pick inside the row (see
    * [[bestByCosine]]). */
  def bestByL2(vec: ArrayData, cands: ArrayData, vf: Boolean): Any = {
    val n = cands.numElements()
    if (n == 0) return null
    val na = normSq(vec, vf)
    var bestId = 0
    var bestD2 = 0.0d
    var has = false
    var i = 0
    while (i < n) {
      val st = cands.getStruct(i, 2)
      val id = st.getInt(0)
      val c = st.getArray(1)
      val d2 = (na + normSq(c, false)) - 2.0d * dot(vec, c, vf, false)
      val better =
        if (!has) true
        else {
          val d = cmpD(d2, bestD2)
          d < 0 || (d == 0 && id < bestId)
        }
      if (better) { bestId = id; bestD2 = d2; has = true }
      i += 1
    }
    InternalRow(bestId, bestD2)
  }
}

private[functions] trait VecInput { self: Expression =>
  protected def vecOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  protected def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType
  /** Generated code calls the object's STATIC FORWARDERS on the plain
    * class (Spark's own codegen idiom, cf. DateTimeUtils call sites):
    * `Helper$.MODULE$` is not resolvable by Janino from a dotted name. */
  protected val helperRef: String =
    VectorExprHelper.getClass.getName.stripSuffix("$")
}

/** Σ aᵢ·bᵢ in ascending order (the oracle's left fold). */
final case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with VecInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(left.dataType) && vecOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> inputs, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprHelper.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"$helperRef.dot($a, $b, ${isFloat(left.dataType)}, ${isFloat(right.dataType)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** Σ aᵢ² in ascending order. */
final case class VectorNormSq(child: Expression)
    extends UnaryExpression with VecInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm_sq"
  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_norm_sq expects array<float|double>, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(a: Any): Any =
    VectorExprHelper.normSq(a.asInstanceOf[ArrayData], isFloat(child.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$helperRef.normSq($a, ${isFloat(child.dataType)})")
  override protected def withNewChildInternal(c: Expression): VectorNormSq =
    copy(child = c)
}

/** dot(a,b) / (√normSq(a) · √normSq(b)) — same scalar combination the
  * oracle applies to its three folds. */
final case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression with VecInput {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"
  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(left.dataType) && vecOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects array<float|double> inputs, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprHelper.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"$helperRef.cosine($a, $b, ${isFloat(left.dataType)}, ${isFloat(right.dataType)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorCosine =
    copy(left = l, right = r)
}

/** Deterministic near-duplicate generator (see
  * [[VectorExprHelper.perturb]]); left = vec id (int/long), right =
  * embedding. */
final case class VectorPerturb(left: Expression, right: Expression)
    extends BinaryExpression with VecInput {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_perturb"
  override def checkInputDataTypes(): TypeCheckResult =
    if ((left.dataType == LongType || left.dataType == IntegerType) && vecOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_perturb expects (int|bigint, array<float|double>), got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  private def idAsLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
  }
  override protected def nullSafeEval(id: Any, a: Any): Any =
    VectorExprHelper.perturb(idAsLong(id), a.asInstanceOf[ArrayData],
      isFloat(right.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (id, a) =>
      s"$helperRef.perturb((long) $id, $a, ${isFloat(right.dataType)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorPerturb =
    copy(left = l, right = r)
}

/** array<float> → array<double> (union-compat with computed double
  * vectors, minus the interpreted `transform` lambda). */
final case class VectorToDouble(child: Expression)
    extends UnaryExpression with VecInput {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_to_double"
  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_to_double expects array<float|double>, got ${child.dataType.catalogString}")
  override protected def nullSafeEval(a: Any): Any =
    VectorExprHelper.toDouble(a.asInstanceOf[ArrayData], isFloat(child.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"$helperRef.toDouble($a, ${isFloat(child.dataType)})")
  override protected def withNewChildInternal(c: Expression): VectorToDouble =
    copy(child = c)
}

/** Shared input contract of the row-local argbest expressions: left a
  * float/double vector, right an array<struct<id:int, c:array<double>>>
  * candidate list (the collect_list(struct(id, c)) of a broadcast-sized
  * centroid/codebook frame). Nullable output: null ⇔ empty candidates
  * (the join-less twin of "no rows for this vector"). */
private[functions] sealed trait VectorArgBest extends BinaryExpression with VecInput {
  protected def ordName: String // "cos" | "d2"
  override def dataType: DataType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField(ordName, DoubleType, nullable = false)))
  override def nullable: Boolean = true
  protected def candsOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(
      StructField(_, IntegerType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (vecOk(left.dataType) && candsOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, array<struct<int, array<double>>>), " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
}

/** Row-local argmax by (cosine DESC, id ASC) — see
  * [[VectorExprHelper.bestByCosine]]. */
final case class VectorBestByCosine(left: Expression, right: Expression)
    extends VectorArgBest {
  override protected def ordName: String = "cos"
  override def prettyName: String = "vec_best_by_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprHelper.bestByCosine(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isFloat(left.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat(left.dataType)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = $helperRef.bestByCosine($a, $b, $f);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorBestByCosine =
    copy(left = l, right = r)
}

/** Row-local argmin by (d² ASC, id ASC) — see
  * [[VectorExprHelper.bestByL2]]. */
final case class VectorBestByL2(left: Expression, right: Expression)
    extends VectorArgBest {
  override protected def ordName: String = "d2"
  override def prettyName: String = "vec_best_by_l2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprHelper.bestByL2(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isFloat(left.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = isFloat(left.dataType)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = $helperRef.bestByL2($a, $b, $f);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorBestByL2 =
    copy(left = l, right = r)
}

object VectorExprs {
  private def c(e: Expression): Column = GraftShims.column(e)
  private def x(col: Column): Expression = GraftShims.expression(col)
  def dot(a: Column, b: Column): Column = c(VectorDot(x(a), x(b)))
  def normSq(a: Column): Column = c(VectorNormSq(x(a)))
  def cosine(a: Column, b: Column): Column = c(VectorCosine(x(a), x(b)))
  def perturb(id: Column, a: Column): Column = c(VectorPerturb(x(id), x(a)))
  def toDouble(a: Column): Column = c(VectorToDouble(x(a)))
  def bestByCosine(vec: Column, cands: Column): Column =
    c(VectorBestByCosine(x(vec), x(cands)))
  def bestByL2(vec: Column, cands: Column): Column =
    c(VectorBestByL2(x(vec), x(cands)))
}
