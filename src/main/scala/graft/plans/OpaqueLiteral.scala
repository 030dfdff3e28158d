package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A non-null constant that generated code reads from the generated
  * class's reference array instead of inlining. Spark writes DATE, INT
  * and LONG literals into the generated Java source (`write(7, 19784)`),
  * so two plans that differ only in such a value, like one day's
  * pipeline and the next, compile two classes; with this expression they
  * share one class from the codegen cache.
  *
  * Not foldable, on purpose: constant folding would turn it back into an
  * inlined literal. So an optimizer rule that needs a constant (a
  * partition-pruning predicate, a sort on a constant) does not see one;
  * use it for output values, not for filters.
  */
case class OpaqueLiteral(value: Any, dataType: DataType)
    extends LeafExpression {
  require(value != null, "OpaqueLiteral holds a non-null value")

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("opaque", value,
      CodeGenerator.boxedType(dataType))
    ev.copy(code = code"""
      final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;""",
      isNull = FalseLiteral)
  }

  override def toString: String = s"opaque($value)"
}

object OpaqueLiteral {
  /** `lit(v)` whose value generated code reads rather than inlines. */
  def column(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(OpaqueLiteral(l.value, l.dataType))
  }
}
