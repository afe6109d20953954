package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two numeric array columns.
  *
  * Why a custom Catalyst `Expression`: Spark's higher-order functions
  * (`zip_with` + `aggregate`) are CodegenFallback — interpreted per row,
  * ~100× slower on the kNN hot path — and an unrolled `element_at` chain
  * only works when the dimension is known up front, builds a 2·dim-node
  * expression tree per call and copies a literal operand into every term
  * (a 64-d query made 1.4 MB task binaries). This expression is ONE tree
  * node whose `doGenCode` emits a tight Java loop inside whole-stage
  * codegen, for any dimension.
  *
  * On equal-length arrays the value matches both of those forms
  * bit-for-bit (`DotProductSpec` keeps them as references): elements are
  * cast to double and accumulated LEFT-TO-RIGHT in ascending index order (the
  * DuckDB oracles rely on that association), a null element or a length
  * mismatch yields null, and empty arrays dot to 0.0.
  *
  * Registered as the SQL function `graft_dot` by [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(
      s"graft_dot takes array arguments, got $other")
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // exactly the element types the getters handle — DecimalType is also a
    // NumericType but has no fixed-width getter, so it must fail HERE (at
    // analysis) rather than at runtime
    val handled: Set[DataType] =
      Set(FloatType, DoubleType, IntegerType, LongType, ShortType, ByteType)
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) => handled.contains(t)
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two arrays of fixed-width numeric elements " +
        s"(float/double/int/bigint/smallint/tinyint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  private def get(ad: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType   => ad.getFloat(i).toDouble
    case DoubleType  => ad.getDouble(i)
    case IntegerType => ad.getInt(i).toDouble
    case LongType    => ad.getLong(i).toDouble
    case ShortType   => ad.getShort(i).toDouble
    case ByteType    => ad.getByte(i).toDouble
    case other => throw new IllegalArgumentException(s"graft_dot: $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    val (ta, tb) = (elemType(left), elemType(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(v: String, i: String, t: DataType): String = t match {
        case FloatType   => s"(double) $v.getFloat($i)"
        case DoubleType  => s"$v.getDouble($i)"
        case IntegerType => s"(double) $v.getInt($i)"
        case LongType    => s"(double) $v.getLong($i)"
        case ShortType   => s"(double) $v.getShort($i)"
        case ByteType    => s"(double) $v.getByte($i)"
        case other => throw new IllegalArgumentException(s"graft_dot: $other")
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $s += ${getter(a, i, elemType(left))} * ${getter(b, i, elemType(right))};
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
