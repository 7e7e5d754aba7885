package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.dedup.Dedup

/** Codegen'd widening keys of one SimHash band: `(simhash, band)` → the
  * band's key at every level 0..[[Dedup.simhashWidenLevels]], as an
  * `array<bigint>` indexed by level — one per-row call instead of one
  * bit expression per level.
  *
  * The arithmetic is [[Dedup.simhashKeyExpr]]'s, which the DuckDB
  * oracle renders: the band's own 15 bits, then 5-bit chunks of the
  * other three bands OR-ed in above them, one chunk per level. Each
  * level extends the previous one, so the row's keys are one running OR.
  * Both inputs must be `bigint` (call sites guarantee this).
  */
case class SimHashKeys(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(simhash: Any, band: Any): Any =
    SimHashKeys.compute(simhash.asInstanceOf[Long], band.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, b) => s"graft.functions.SimHashKeys.compute($s, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashKeys =
    copy(left = newLeft, right = newRight)
}

object SimHashKeys {

  /** Called from both interpreted eval and generated code. */
  def compute(simhash: Long, band: Long): ArrayData = {
    val keys = new Array[Long](Dedup.simhashWidenLevels + 1)
    var k = (simhash >> (band * 15).toInt) & 32767L
    keys(0) = k
    var c = 0
    while (c < Dedup.simhashWidenLevels) {
      val src = simhash >> (((band + 1 + c / 3) % 4) * 15).toInt
      k |= ((src >> ((c % 3) * 5)) & 31L) << (15 + c * 5)
      keys(c + 1) = k
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  /** Column-API entry point; both columns are `bigint`. */
  def keys(simhash: Column, band: Column): Column =
    ColumnBridge.toColumn(
      SimHashKeys(ColumnBridge.toExpression(simhash), ColumnBridge.toExpression(band)))
}
