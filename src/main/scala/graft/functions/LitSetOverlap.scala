package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of an array column's elements that belong to a LITERAL string
  * set, with the set's hash table built ONCE per task instead of per row.
  *
  * `size(array_intersect(arr, typedLit(set)))` is value-equivalent when
  * `arr` is already distinct and null-free, but `ArrayIntersect` rebuilds
  * the literal side's hash set on EVERY row evaluation — at the q117
  * contamination gate's ~15k-entry benchmark gram set that rebuild
  * dominates the whole streaming cert. Here the set is a constructor
  * argument referenced from generated code (`ctx.addReferenceObj`, the
  * [[FixMojibake]] zero-UDF license), so each row pays only
  * |arr| hash probes.
  *
  * Contract (matching the array_intersect form it replaces): counts the
  * array's elements present in the set — equal to the intersection SIZE
  * only when the array has no duplicates, which callers guarantee
  * (`array_distinct` upstream). Null elements never match; a null array
  * yields null.
  *
  * The set is an `IndexedSeq`, not an `Array`, so the case class's
  * equality and hash are structural: two content-equal expressions compare
  * equal and canonicalize alike (an `Array` field would compare by
  * reference, defeating common-subexpression elimination and plan reuse).
  */
case class LitSetOverlap(child: Expression, set: IndexedSeq[String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"LitSetOverlap needs array<string>, got ${other.catalogString}")
    }

  /** Built once per (deserialized) expression instance, shared by every
    * row the task evaluates; UTF8String keys so probes need no decode. */
  @transient private lazy val lookup: java.util.HashSet[UTF8String] = {
    val h = new java.util.HashSet[UTF8String](math.max(16, set.length * 2))
    set.foreach(s => h.add(UTF8String.fromString(s)))
    h
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = 0L
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (!arr.isNullAt(i) && lookup.contains(arr.getUTF8String(i))) n += 1L
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("litSet", lookup, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, arr => {
      val i = ctx.freshName("i")
      val len = ctx.freshName("len")
      s"""
         |${ev.value} = 0L;
         |int $len = $arr.numElements();
         |for (int $i = 0; $i < $len; $i++) {
         |  if (!$arr.isNullAt($i) && $setRef.contains($arr.getUTF8String($i))) {
         |    ${ev.value}++;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LitSetOverlap =
    copy(child = newChild)
}

object LitSetOverlap {
  /** Largest set [[overlapCount]] accepts. The set travels inside the plan
    * (serialized with every task) and is rebuilt as a hash table per task,
    * so it must stay a literal-sized set; q117 passes about 15k grams. */
  val MaxSetSize: Int = 1000000

  /** Column-API form: how many elements of `arr` are in `set`, for a set
    * of at most [[MaxSetSize]] entries (a larger one fails here, before
    * any plan is built). */
  def overlapCount(arr: Column, set: Seq[String]): Column = {
    require(set.size <= MaxSetSize,
      s"LitSetOverlap set has ${set.size} entries, over the cap of $MaxSetSize")
    ColumnBridge.column(LitSetOverlap(ColumnBridge.expression(arr), set.toIndexedSeq))
  }
}
