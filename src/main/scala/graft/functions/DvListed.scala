package graft.functions

import graft.sources.DvFiles
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.unsafe.types.UTF8String

/** Whether the row at (`file`, `pos`) — a scan's `_metadata.file_path`
  * and `_metadata.row_index` — is deleted by a deletion-vector (DV)
  * entry covering its data file. The broadcast [[DvFiles.Index]] names
  * each covered file's DV entries, no positions: the task reads a
  * file's positions on its first probe of it (through [[DvFiles]]'
  * cache), so a pruned file's are never read. Rows arrive file by file,
  * so the last file's sorted positions are kept and a probe is one
  * comparison plus a binary search, called from generated code. Never
  * null: a row with no position is not listed. */
private[graft] case class DvListed(file: Expression, pos: Expression,
                                   index: Broadcast[DvFiles.Index])
    extends BinaryExpression with Predicate {

  override def left: Expression = file
  override def right: Expression = pos
  override def nullable: Boolean = false
  override def prettyName: String = "dv_listed"
  override def toString: String = s"$prettyName($file, $pos)"

  @transient private var last: (UTF8String, Array[Long]) = _

  def listed(f: UTF8String, p: Long): Boolean = {
    var l = last
    if (l == null || l._1 != f) {
      l = (f.clone(), index.value.positions(f.toString))
      last = l
    }
    java.util.Arrays.binarySearch(l._2, p) >= 0
  }

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    val p = if (f == null) null else pos.eval(input)
    p != null && listed(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvListed", this)
    val f = file.genCode(ctx)
    val p = pos.genCode(ctx)
    ev.copy(code = code"""
      |${f.code}
      |${p.code}
      |boolean ${ev.value} = !${f.isNull} && !${p.isNull} && $self.listed(${f.value}, ${p.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DvListed =
    copy(file = l, pos = r)
}
