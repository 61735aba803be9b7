package org.apache.spark.sql.graftshim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** Roaring-bitmap row-mask membership as a NATIVE expression:
  * `(filePath, rowIndex) → bitmap.contains(rowIndex)` against a
  * broadcast `normalizedPath → serializedBitmapB64` map, with per-
  * executor deserialized-bitmap caching. Replaces the Scala UDF in the
  * CDC masked read (change-data bitmaps, reference
  * `core/ops/change_data.py:137-146`) so the filter stays inside
  * whole-stage codegen instead of forcing a UDF boundary per row.
  *
  * `missingAbsent = false` (CDC reads): every scanned file is in the
  * map by construction — a miss is a bug and throws. `missingAbsent =
  * true` (merge-on-read delete-vector masks): the scan covers the WHOLE
  * table while only some files carry vectors — a file without an entry
  * has no dead rows, so membership is simply false. */
case class BitmapContains(
    left: Expression, // file path (qualified URI string)
    right: Expression, // row index within the file
    bitmaps: Broadcast[Map[String, String]],
    missingAbsent: Boolean = false)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bitmap_contains"

  override def nullSafeEval(file: Any, row: Any): Any = {
    val bm = BitmapContains.bitmapOf(bitmaps, file.asInstanceOf[UTF8String], missingAbsent)
    bm != null && bm.contains(row.asInstanceOf[Long].toInt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bitmaps", bitmaps, classOf[Broadcast[_]].getName)
    // a file's rows arrive together: its bitmap is looked up once per
    // run of rows, not once per row
    val file = ctx.addMutableState(classOf[UTF8String].getName, "bitmapFile")
    val bitmap = ctx.addMutableState(classOf[RoaringBitmap].getName, "fileBitmap")
    nullSafeCodeGen(ctx, ev, (f, r) =>
      s"""if ($file == null || !$file.equals($f)) {
         |  $file = $f.clone();
         |  $bitmap = org.apache.spark.sql.graftshim.BitmapContains.bitmapOf($ref, $f, $missingAbsent);
         |}
         |${ev.value} = $bitmap != null && $bitmap.contains((int) $r);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BitmapContains {

  /** The bitmap of `file`, shared by eval and generated code. A file
    * without an entry is null when `missingAbsent`, else a bug that
    * throws. */
  def bitmapOf(bc: Broadcast[_], file: UTF8String, missingAbsent: Boolean): RoaringBitmap = {
    val map = bc.value.asInstanceOf[Map[String, String]]
    val k = graft.core.BitmapCache.normKey(file.toString)
    map.get(k) match {
      case Some(b64) => graft.core.BitmapCache.get(b64)
      case None if missingAbsent => null
      case None => throw new NoSuchElementException(s"key not found: $k")
    }
  }

  def apply(file: Column, row: Column, bitmaps: Broadcast[Map[String, String]]): Column =
    ColumnExpr.column(BitmapContains(
      ColumnExpr.expression(file), ColumnExpr.expression(row), bitmaps))

  def lenient(file: Column, row: Column, bitmaps: Broadcast[Map[String, String]]): Column =
    ColumnExpr.column(BitmapContains(
      ColumnExpr.expression(file), ColumnExpr.expression(row), bitmaps,
      missingAbsent = true))
}
