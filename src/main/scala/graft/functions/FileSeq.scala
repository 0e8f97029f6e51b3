package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Commit seq of a row's data file, looked up by the file's path in a
  * hash map held as ONE reference object (the [[ZValue]] pattern): O(1)
  * per row, and the same generated code whatever the map holds (a map
  * literal's `element_at` scans its keys). A negative seq reads as null;
  * a path the map lacks fails the query, naming `table`. */
case class FileSeq(child: Expression,
    seqs: java.util.HashMap[UTF8String, java.lang.Long], table: String) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  def seqOf(path: UTF8String): Long = {
    val s = seqs.get(path)
    if (s == null) throw new IllegalStateException(s"graft-lake: no commit seq for $path under $table")
    s
  }

  override def nullSafeEval(path: Any): Any = { val s = seqOf(path.asInstanceOf[UTF8String]); if (s < 0) null else s }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileSeq", this, classOf[FileSeq].getName)
    nullSafeCodeGen(ctx, ev, p => s"${ev.value} = $ref.seqOf($p); ${ev.isNull} = ${ev.value} < 0L;")
  }

  override protected def withNewChildInternal(newChild: Expression): FileSeq = copy(child = newChild)
}

object FileSeq {
  def seqOf(path: Column, seqs: Map[String, Long], table: String): Column = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]
    seqs.foreach { case (p, s) => m.put(UTF8String.fromString(p), s) }
    toColumn(FileSeq(toExpression(path), m, table))
  }
}
