package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A constant `child` that generated code reads from the reference array
  * instead of inlining. The optimizer folds `current_timestamp()` to a
  * new literal per query; inlined, it makes every query's generated
  * source differ, so each run compiles a class and evicts a live one from
  * Spark's codegen cache. Not foldable, so constant folding cannot inline
  * it again; a child that is not (yet) a literal generates its own code.
  */
case class ReferencedConstant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child match {
      case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) =>
        val ref = ctx.addReferenceObj("constant", v, CodeGenerator.boxedType(dt))
        ExprCode.forNonNullValue(JavaCode.expression(
          s"$ref.${CodeGenerator.javaType(dt)}Value()", dt))
      case _ => child.genCode(ctx)
    }

  override protected def withNewChildInternal(c: Expression): ReferencedConstant =
    copy(child = c)
}
