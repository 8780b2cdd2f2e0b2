package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-vector (DV) positions by data file: each file's deleted row
  * indexes, sorted. The value a [[DvListed]] predicate broadcasts. */
final class DvPositions(byFile: java.util.HashMap[UTF8String, Array[Long]])
    extends Serializable {
  def listed(file: UTF8String, pos: Long): Boolean = {
    val ps = byFile.get(file)
    ps != null && java.util.Arrays.binarySearch(ps, pos) >= 0
  }
}

object DvPositions {
  /** `byFile`'s arrays must already be sorted. */
  def apply(byFile: Map[String, Array[Long]]): DvPositions = {
    val m = new java.util.HashMap[UTF8String, Array[Long]](byFile.size * 2)
    byFile.foreach { case (f, ps) => m.put(UTF8String.fromString(f), ps) }
    new DvPositions(m)
  }
}

/** Whether the row at (`file`, `pos`) — a scan's `_metadata.file_path`
  * and `_metadata.row_index` — is listed in the broadcast DV positions.
  *
  * The deletion-vector join's build side, turned into a filter: the
  * positions ship once per executor as a broadcast variable, not as a
  * hashed relation that a broadcast exchange collects in its own Spark
  * job, and not as an `isin` literal list that every task's plan would
  * carry. A lookup is one hash probe on the file and a binary search of
  * its sorted positions, called from generated code. Never null: a row
  * with no position is not listed. */
case class DvListed(file: Expression, pos: Expression,
                    positions: Broadcast[DvPositions])
    extends BinaryExpression with Predicate {

  override def left: Expression = file
  override def right: Expression = pos
  override def nullable: Boolean = false
  override def prettyName: String = "dv_listed"
  override def toString: String = s"$prettyName($file, $pos)"

  @transient private lazy val set = positions.value

  def listed(f: UTF8String, p: Long): Boolean = set.listed(f, p)

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

object DvListed {
  /** Column-API entry point. */
  def dvListed(file: Column, pos: Column, positions: Broadcast[DvPositions]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(DvListed(Bridge.expression(file.cast("string")),
      Bridge.expression(pos.cast("long")), positions))
  }
}
