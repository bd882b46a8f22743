package graft.core

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Maps `input_file_name()` to the ordinal of that file in a list —
  * the row tag of every one-job scatter rewrite of files: a
  * file-backed dataset's [[PDataset.writeParquet]], and the
  * maintenance rewrites (compact, deleteRange, the row-level ops).
  *
  * The file map rides along as one task-serialized reference object
  * (O(npartitions) strings, the same driver metadata the dataset
  * already holds); rows arrive grouped by file, so a one-entry memo
  * makes the per-row cost a string identity check rather than a
  * normalize + hash lookup.
  */
case class FileOrdinalExpr(child: Expression, ordinals: FileOrdinal)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    ordinals.lookup(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fileOrdinals", ordinals,
      classOf[FileOrdinal].getName)
    defineCodeGen(ctx, ev, c => s"$ref.lookup($c)")
  }

  override protected def withNewChildInternal(c: Expression): FileOrdinalExpr =
    copy(child = c)
  override def prettyName: String = "file_ordinal"
}

/** Normalized-path → ordinal lookup with a single-entry memo (safe
  * under concurrent tasks: the memo is one immutable pair behind a
  * volatile read, so a race costs a recompute, never a torn result). */
final class FileOrdinal(map: Map[String, Int]) extends Serializable {

  @transient @volatile private var memo: (String, Int) = null

  def lookup(raw: UTF8String): Int = {
    val s = raw.toString
    val m = memo
    if (m != null && m._1 == s) m._2
    else {
      val ord = map.getOrElse(Stats.normalizePath(s),
        throw new IllegalStateException(
          s"file $s is not part of the dataset being scatter-written"))
      memo = (s, ord)
      ord
    }
  }
}

object FileOrdinalExpr {
  /** Column tagging each row with its source file's ordinal. */
  def ordinal(fileName: Column, ordinals: FileOrdinal): Column =
    GraftBridge.toColumn(
      FileOrdinalExpr(GraftBridge.toExpression(fileName), ordinals))
}
