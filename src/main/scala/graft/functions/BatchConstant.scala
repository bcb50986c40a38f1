package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A value that is constant within one query execution but changes from
  * one micro-batch to the next: the batch time, a batch id.
  *
  * Spark compiles a primitive literal into the generated Java source, and
  * `CodeGenerator` caches compiled classes by their source text, so a
  * per-batch literal makes every micro-batch compile its stages anew.
  * This node evaluates its child once, while the code is generated, and
  * reads the value from the stage's `references` array: the source is the
  * same in every batch and the compiled class is reused. It is not
  * foldable, so `ConstantFolding` leaves it in place.
  *
  * The one-time evaluation applies when the child reads no column and is
  * deterministic once a streaming `CurrentBatchTimestamp` is read as its
  * literal; anything else (a column, `rand`, a value whose evaluation
  * throws, which then fails per row as before) compiles the child inline. */
case class BatchConstant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "batch_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def withNewChildInternal(newChild: Expression): BatchConstant =
    copy(child = newChild)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fixed = child.transform { case t: CurrentBatchTimestamp => t.toLiteral }
    val value =
      if (fixed.references.nonEmpty || !fixed.deterministic) None
      else try Some(fixed.eval()) catch { case NonFatal(_) => None }
    value.fold(child.genCode(ctx)) { v =>
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("batchConstant", v, CodeGenerator.boxedType(dataType))
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      if (!nullable) ev.copy(isNull = FalseLiteral, code = code"$javaType ${ev.value} = $read;")
      else ev.copy(code = code"""
        |boolean ${ev.isNull} = $ref == null;
        |$javaType ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $read;
        """.stripMargin)
    }
  }
}

object BatchConstant {

  /** The Column API form: `BatchConstant(lit(batchId))`. */
  def apply(c: Column): Column =
    GraftColumnBridge.column(BatchConstant(GraftColumnBridge.expression(c)))
}
