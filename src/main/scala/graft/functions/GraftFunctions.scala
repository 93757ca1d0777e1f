package graft.functions

import graft.time.CfCalendar
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import scala.util.control.NonFatal

/** Native Catalyst expressions for the hot paths where interpreted
  * higher-order functions (`zip_with` + `aggregate` lambdas) are too slow:
  * a codegen'd float64 dot product for similarity search, and the
  * constant-foldable `cftime` literal converter.
  *
  * `DotProductF64` sums left-to-right in element order — the same
  * sequential fold as `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)` and
  * DuckDB's `list_aggregate('sum')` — so swapping it in changes nothing
  * numerically, only removes per-element lambda interpretation overhead
  * (~20x on the 64-dim embedding corpus).
  */
object GraftFunctions {

  def dot_f64(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftinterop.ColumnInterop._
    toColumn(DotProductF64(toExpr(a), toExpr(b)))
  }

  /** Register SQL-callable versions on the session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_f64", exprs => DotProductF64(exprs(0), exprs(1)), "scala_udf")
  }

  /** Register `cftime(dateString)` bound to one dataset's CF units and
    * calendar (the reference auto-registers this per context when a
    * non-Gregorian coordinate is present; sql.py:150-157). A no-op when
    * the session's `cftime` is already bound to the same (units,
    * calendar): every re-registration logs "replaced a previously
    * registered function", once per dataset registration otherwise.
    */
  def registerCfTime(spark: SparkSession, units: String, calendar: String): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("cftime")
    // the binding is read back from the session itself (build the
    // expression, inspect it), so a cftime registered by anyone else —
    // e.g. GraftExtensions' 3-argument form — is replaced, not trusted
    val bound = registry.functionExists(id) &&
      (try registry.lookupFunction(id, Seq(Literal("2000-01-01"))) match {
        case CfTimeExpr(_, u, c) => u == units && c == calendar
        case _ => false
      } catch { case NonFatal(_) => false })
    if (!bound) registry.createOrReplaceTempFunction(
      "cftime", exprs => CfTimeExpr(exprs.head, units, calendar), "scala_udf")
  }
}

/** Dot product over two array<double> columns, whole-stage-codegen'd.
  * Element order is ascending-index (a strict left fold), which keeps
  * results bit-identical to the lambda formulation it replaces.
  */
case class DotProductF64(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Reinterpret a day-time interval as its physical microseconds count.
  * The Catalyst internal representation of DayTimeIntervalType IS a long
  * of micros, so eval is the identity — this exists because no built-in
  * SQL cast exposes interval micros losslessly. Used by GridWriter to
  * key duration coordinates.
  */
case class DurationMicros(child: Expression)
  extends UnaryExpression with RefCallCodegen {
  override def dataType: DataType = LongType
  override def prettyName: String = "duration_micros"
  override def nullSafeEval(v: Any): Any = v.asInstanceOf[Long]
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `cftime('2000-07-01')`: parse a date-string literal in a non-Gregorian
  * CF calendar into its int64 offset (reference cftime.py:217-248). The
  * expression is deterministic and foldable when its child is a literal,
  * so Catalyst constant-folds it at optimization time — the predicate
  * `time >= cftime('2000-07-01')` reaches the source as a plain long
  * comparison and participates in zone-map pruning.
  */
case class CfTimeExpr(child: Expression, units: String, calendar: String)
  extends UnaryExpression with RefCallCodegen {

  override def dataType: DataType = LongType
  override def prettyName: String = "cftime"

  override def nullSafeEval(s: Any): Any =
    CfCalendar.dateToOffset(s.toString, units, calendar)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
