package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst dot product for embedding columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,*),0,+)`)
  * allocates an intermediate array and walks lambda plumbing per element —
  * measured ~40x slower on the all-pairs nearest-neighbor benchmark. This
  * expression is a tight primitive loop inside whole-stage codegen: no
  * allocation, no virtual calls, same left-to-right accumulation order (so
  * results stay bit-identical to the HOF form and the DuckDB oracle's
  * sequential list_sum).
  *
  * Accepts array<float> or array<double> children; accumulates in double.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  // a null ELEMENT (containsNull schemas — parquet list elements read as
  // nullable) propagates to a null result rather than contributing an
  // undefined value to the accumulator
  private def anyContainsNull: Boolean = Seq(left, right).exists {
    e => e.dataType.asInstanceOf[ArrayType].containsNull
  }

  override def nullable: Boolean =
    left.nullable || right.nullable || anyContainsNull

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>/array<double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    val checkNulls = anyContainsNull
    def get(d: ArrayData, t: DataType, j: Int): Double = t match {
      case FloatType => d.getFloat(j).toDouble
      case _ => d.getDouble(j)
    }
    val (lt, rt) = (elemType(left), elemType(right))
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += get(x, lt, i) * get(y, rt, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String = elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullGuard =
        if (anyContainsNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Component sum of a float/double array — a left-to-right double fold,
  * codegen'd, so it stays bit-identical to DuckDB's sequential list_sum
  * over the same values (the parity rule every vector oracle relies on).
  * Used where only the scalar total is needed (centroid fingerprints):
  * the HOF `aggregate` form would run interpreted per element. */
case class VecSum(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_sum expects array<float>/array<double>, got $other")
    }

  // null ELEMENTS propagate to a null result (see VecDot)
  private def containsNull: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullable: Boolean = child.nullable || containsNull

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val checkNulls = containsNull
    var acc = 0.0
    var i = 0
    elemType match {
      case FloatType => while (i < n) {
        if (checkNulls && x.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble; i += 1
      }
      case _ => while (i < n) {
        if (checkNulls && x.isNullAt(i)) return null
        acc += x.getDouble(i); i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = elemType match {
      case FloatType => (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      case _ => (arr: String, i: String) => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullGuard =
        if (containsNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  $acc += ${get(a, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): VecSum =
    copy(child = newChild)
}

/** Split a float/double array into `parts` equal contiguous sub-arrays
  * (product-quantization subspace slicing). Replaces the
  * `transform(sequence(...), s => slice(...))` higher-order formulation,
  * which walks interpreted lambda plumbing and re-evaluates the slice
  * bounds per subspace; this is one pass over the source array. Sub-width
  * is numElements/parts per row (trailing remainder elements are dropped;
  * callers enforce divisibility). Element type and element nullability
  * are preserved, so downstream VecDot sees the same schema the slice
  * form produced. CodegenFallback: runs once per row against a small
  * constant `parts`, not per element of the hot loops. */
case class SubVectors(child: Expression, parts: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with CodegenFallback {

  require(parts > 0, "subvectors: parts must be positive")

  private def childArray: ArrayType = child.dataType.asInstanceOf[ArrayType]

  override def dataType: DataType =
    ArrayType(childArray, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"subvectors expects array<float>/array<double>, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val sub = x.numElements() / parts
    val isFloat = childArray.elementType == FloatType
    val out = new Array[Any](parts)
    var p = 0
    while (p < parts) {
      val piece = new Array[Any](sub)
      val base = p * sub
      var j = 0
      while (j < sub) {
        piece(j) =
          if (x.isNullAt(base + j)) null
          else if (isFloat) x.getFloat(base + j)
          else x.getDouble(base + j)
        j += 1
      }
      out(p) = new org.apache.spark.sql.catalyst.util.GenericArrayData(piece)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SubVectors =
    copy(child = newChild)
}

/** Multi-table sign-random-projection LSH codes: element t is the
  * `bits`-bit code whose bit j is set iff the dot product of the
  * embedding with plane t·bits + j is > 0. Each dot accumulates left to
  * right in double, as [[VecDot]] does, so every bit equals the
  * per-plane `vec_dot(emb, plane) > 0` test; a null embedding, or a null
  * element inside a dot's range, clears that bit, as `when(null)` does.
  * One compact loop over all planes: the same test written as one
  * `vec_dot` expression per plane inlines tables × bits loops into one
  * generated method, too large for the JIT to compile. */
case class LshCodes(child: Expression, planes: Seq[Seq[Double]], bits: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(bits > 0 && planes.length % bits == 0, "lsh codes: whole tables of planes")

  @transient private lazy val planeArrays: Array[Array[Double]] =
    planes.map(_.toArray).toArray
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh codes expect array<float>/array<double>, got $other")
    }

  /** The codes of one embedding (null: all zero). */
  def codes(x: ArrayData): ArrayData = {
    val out = new Array[Long](planes.length / bits)
    if (x != null) {
      val float = isFloat
      var p = 0
      while (p < planeArrays.length) {
        val plane = planeArrays(p)
        val n = math.min(x.numElements(), plane.length)
        var acc = 0.0
        var i = 0
        while (i < n && !x.isNullAt(i)) {
          acc += (if (float) x.getFloat(i).toDouble else x.getDouble(i)) * plane(i)
          i += 1
        }
        if (i == n && acc > 0) out(p / bits) |= 1L << (p % bits)
        p += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def eval(input: InternalRow): Any =
    codes(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshCodes", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |ArrayData ${ev.value} = $self.codes(${c.isNull} ? null : ${c.value});
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LshCodes =
    copy(child = newChild)
}

/** Column-level vector functions built on the native expression. */
object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vec_sum(a: Column): Column =
    ColumnBridge.column(VecSum(ColumnBridge.expression(a)))

  def vec_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot(a, a))

  def vec_cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  def subvectors(a: Column, parts: Int): Column =
    ColumnBridge.column(SubVectors(ColumnBridge.expression(a), parts))

  def lsh_codes(a: Column, planes: Seq[Seq[Double]], bits: Int): Column =
    ColumnBridge.column(LshCodes(ColumnBridge.expression(a), planes, bits))
}
