package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deleted row positions per data file name, shipped to the tasks as a
  * broadcast variable (built on the driver; `sparkContext.broadcast`
  * runs no job). Each task's copy remembers the file it looked up last:
  * a scan task reads its rows file by file, so the map is consulted —
  * and a name decoded to a String — once per file, not per row.
  */
final class DeletedRows(byFile: Broadcast[Map[String, Roaring64NavigableMap]])
    extends Serializable {
  @transient private var file: UTF8String = _
  @transient private var deleted: Roaring64NavigableMap = _

  def live(name: UTF8String, pos: Long): Boolean = {
    if (!name.equals(file)) {
      file = name.clone() // the row's buffer is reused
      deleted = byFile.value.getOrElse(file.toString, null)
    }
    deleted == null || !deleted.contains(pos)
  }

  override def toString: String = s"DeletedRows(broadcast ${byFile.id})"
}

/** TRUE for a row whose (file name, row index) the deletion vectors do
  * not mask: one bitmap probe per row as a codegen filter predicate —
  * no join, no exchange and no job of its own.
  */
case class NotDeleted(fileName: Expression, rowIndex: Expression, deleted: DeletedRows)
    extends BinaryExpression with Predicate {

  override def left: Expression = fileName
  override def right: Expression = rowIndex

  override protected def nullSafeEval(name: Any, pos: Any): Any =
    deleted.live(name.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("deleted", deleted)
    defineCodeGen(ctx, ev, (name, pos) => s"$d.live($name, $pos)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NotDeleted =
    copy(fileName = newLeft, rowIndex = newRight)
}

object NotDeleted {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column API: keep the rows `deleted` does not mask. */
  def column(fileName: Column, rowIndex: Column, deleted: DeletedRows): Column =
    Bridge.column(NotDeleted(Bridge.expression(fileName), Bridge.expression(rowIndex), deleted))
}
