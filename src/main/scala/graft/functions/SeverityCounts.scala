package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-severity violation counts of one violations array, in one pass.
  *
  * input:  array<struct<..., severity, ...>> (the SpanViolations output, or
  *         a stored violations column)
  * output: struct<n_fatal,n_error,n_warn,n_info> of ints; NULL iff the
  *         array is NULL. Null elements and null or unknown severities
  *         count nowhere — the semantics of
  *         `size(filter(v, x => x.severity === sev))`.
  *
  * Why: the four `size(filter(...))` higher-order functions it replaces are
  * interpreted (CodegenFallback) and hold lambda variables, so subexpression
  * elimination cannot share them — each ran twice per doc, once in the
  * verdict CASE and once as its count column. This expression is generated
  * inline, and its callers read the four fields of one shared value.
  */
case class SeverityCounts(child: Expression) extends UnaryExpression {
  import SeverityCounts.counted

  override def dataType: DataType = StructType(counted.map { case (name, _) =>
    StructField(name, IntegerType, nullable = false) })
  override def nullable: Boolean = child.nullable

  private def element: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def sevIndex: Int = element.fieldIndex("severity")
  @transient private lazy val keys: Array[UTF8String] =
    counted.map { case (_, sev) => UTF8String.fromString(sev) }.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = new Array[Int](keys.length)
    val nFields = element.length
    val idx = sevIndex
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val v = arr.getStruct(i, nFields)
        if (!v.isNullAt(idx)) {
          val k = keys.indexOf(v.getUTF8String(idx))
          if (k >= 0) n(k) += 1
        }
      }
      i += 1
    }
    new GenericInternalRow(n.map(Int.box).toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("severities", keys,
      classOf[Array[UTF8String]].getCanonicalName)
    val counts = keys.indices.map(_ => ctx.freshName("n"))
    val i = ctx.freshName("i")
    val v = ctx.freshName("v")
    val sev = ctx.freshName("sev")
    val tally = counts.zipWithIndex.map { case (c, k) =>
      s"if ($sev.equals($keysRef[$k])) $c++;" }.mkString("\n else ")
    nullSafeCodeGen(ctx, ev, arr => s"""
      ${counts.map(c => s"int $c = 0;").mkString("\n")}
      for (int $i = 0; $i < $arr.numElements(); $i++) {
        if (!$arr.isNullAt($i)) {
          InternalRow $v = $arr.getStruct($i, ${element.length});
          if (!$v.isNullAt($sevIndex)) {
            UTF8String $sev = $v.getUTF8String($sevIndex);
            $tally
          }
        }
      }
      ${ev.value} = new ${classOf[GenericInternalRow].getName}(new Object[] {
        ${counts.map(c => s"Integer.valueOf($c)").mkString(", ")}});""")
  }

  override protected def withNewChildInternal(c: Expression): SeverityCounts =
    copy(child = c)
  override def prettyName: String = "severity_counts"
}

object SeverityCounts {
  import org.apache.spark.sql.GraftBridge

  /** (count field, severity it counts), most severe first. */
  val counted: Seq[(String, String)] = Seq(
    "n_fatal" -> "fatal", "n_error" -> "error", "n_warn" -> "warning", "n_info" -> "info")

  def apply(violations: Column): Column =
    GraftBridge.column(SeverityCounts(GraftBridge.expression(violations)))
}
