package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims.{checkInputTypes, column, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, ObjectType, StringType}

/** One native kernel: a single static call into [[GraftRuntime]] (or
  * another runtime object, e.g. the bloom probe lanes) under the kernel's
  * own plan-visible name.
  *
  *  - `children` are the column arguments, checked against `inputTypes`
  *    with NO implicit casts (a wrong-typed argument fails analysis);
  *  - `consts` are per-kernel constants (gram sizes, compiled models,
  *    centroid arrays) passed after the columns as literals; an object
  *    literal reaches generated code through `addReferenceObj`;
  *  - both evaluation paths are Catalyst's `StaticInvoke` over
  *    `children ++ consts`: a null column argument yields null, and the
  *    generated code is one direct static call, so whole-stage codegen
  *    spans stay unbroken.
  *
  * `sql` (and so an unaliased column's name) lists the columns only; the
  * plan string lists the constants too. */
case class Native(
    name: String,
    method: String,
    dataType: DataType,
    inputTypes: Seq[DataType],
    children: Seq[Expression],
    consts: Seq[Literal] = Nil,
    target: Class[_] = GraftRuntime.getClass)
    extends Expression {

  @transient private lazy val invoke = StaticInvoke(target, dataType, method,
    children ++ consts, propagateNull = true, returnNullable = false)

  override def prettyName: String = name
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def toString: String = s"$name(${(children ++ consts).mkString(", ")})"
  override def checkInputDataTypes(): TypeCheckResult = checkInputTypes(children, inputTypes)

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

object Native {

  /** Result and input types shared by several kernel rows. */
  val Longs: DataType = ArrayType(LongType, containsNull = false)
  val Strings: DataType = ArrayType(StringType, containsNull = false)
  /** `array<float>` with or without null elements (parquet list columns
    * read back with nullable elements even when none is null). */
  val Floats: DataType = ArrayType(FloatType)

  /** A [[GraftRuntime]] kernel row as a Column: plan name, runtime method,
    * result type and constants, then each column paired with its expected
    * type. An `Int` constant is an INT literal; anything else is an
    * object literal of its own class. */
  def call(name: String, method: String, out: DataType, consts: Any*)(
      args: (Column, DataType)*): Column =
    column(Native(name, method, out, args.map(_._2), args.map(a => toExpression(a._1)),
      consts.map {
        case i: Int => Literal(i)
        case o => Literal(o, ObjectType(o.getClass))
      }))
}
