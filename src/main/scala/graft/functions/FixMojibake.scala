package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** O16 as a native Catalyst expression over
  * [[Functions.fixMojibakeImpl]]: cp1252-encode / utf8-decode round trip with
  * IGNORE on both sides, `" ...more"` suffix stripped, null → "".
  *
  * Unlike a Scala UDF this participates in whole-stage codegen (the
  * generated code calls the static impl directly — no
  * encoder/serializer boundary, no closure dispatch), and registering it in
  * the session's function registry makes it visible to SQL:
  * `SELECT fix_mojibake(description) FROM books`.
  *
  * Reference semantics: `/root/reference/transformation_pipeline.py:14-25`.
  */
case class FixMojibake(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  /** null → "" (the reference's NaN → "" default), so eval must run even on
    * null input — no nullSafeEval shortcut. */
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val s = if (v == null) null else v.asInstanceOf[UTF8String].toString
    UTF8String.fromString(Functions.fixMojibakeImpl(s))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val newCode =
      code"""
        ${childGen.code}
        UTF8String ${ev.value} = UTF8String.fromString(
          graft.functions.Functions.fixMojibakeImpl(
            ${childGen.isNull} ? null : ${childGen.value}.toString()));
      """
    ev.copy(code = newCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
}

object FixMojibake {
  /** Column-API form of the native expression. */
  def fixMojibakeNative(c: Column): Column =
    ColumnBridge.column(FixMojibake(ColumnBridge.expression(c)))

  /** Register `fix_mojibake` in the session's function registry for SQL use. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(
      FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(classOf[FixMojibake].getName, "fix_mojibake"),
      (children: Seq[Expression]) => FixMojibake(children.head))
  }
}
