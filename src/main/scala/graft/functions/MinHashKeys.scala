package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup

/** Codegen'd widening keys of one MinHash band: `(mh, band)` → the
  * band's md5 key at every level 0..[[Dedup.minhashWidenLevels]], as an
  * `array<string>` indexed by level — one per-row call instead of one
  * md5 expression per (band, level).
  *
  * Level j's key is the lowercase-hex md5 of the comma-joined decimal
  * values of the slots [[Dedup.minhashKeySlots]](band, j) — the string
  * `md5(concat_ws(',', …))` builds in both Spark and the DuckDB oracle
  * (a null slot is skipped, as concat_ws skips nulls). The slot lists
  * are nested prefixes of the top level's, so one string and one digest
  * per level over its prefixes yield every key. Inputs must be an
  * `array<bigint>` and an `int` band in 0 until [[Dedup.minhashNBands]]
  * (call sites guarantee this).
  */
case class MinHashKeys(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(mh: Any, band: Any): Any =
    MinHashKeys.compute(mh.asInstanceOf[ArrayData], band.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, b) => s"graft.functions.MinHashKeys.compute($m, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashKeys =
    copy(left = newLeft, right = newRight)
}

object MinHashKeys {

  /** Per band, the top level's slot list; level j keys its first
    * `bandRows + j` entries.
    */
  private val slots: Array[Array[Int]] = Array.tabulate(Dedup.minhashNBands)(b =>
    Dedup.minhashKeySlots(b, Dedup.minhashWidenLevels).toArray)

  private val hex = "0123456789abcdef".getBytes(US_ASCII)

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Called from both interpreted eval and generated code. */
  def compute(mh: ArrayData, band: Int): ArrayData = {
    val sl = slots(band)
    val n = mh.numElements()
    val sb = new java.lang.StringBuilder(20 * sl.length)
    val ends = new Array[Int](sl.length)
    var k = 0
    while (k < sl.length) {
      val i = sl(k)
      if (i < n && !mh.isNullAt(i)) {
        if (sb.length > 0) sb.append(',')
        sb.append(mh.getLong(i))
      }
      ends(k) = sb.length
      k += 1
    }
    val bytes = sb.toString.getBytes(US_ASCII)
    val d = md5.get()
    val keys = new Array[Any](sl.length - Dedup.bandRows + 1)
    var j = 0
    while (j < keys.length) {
      d.reset()
      d.update(bytes, 0, ends(Dedup.bandRows - 1 + j))
      val dig = d.digest()
      val out = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        out(2 * b) = hex((dig(b) >> 4) & 15)
        out(2 * b + 1) = hex(dig(b) & 15)
        b += 1
      }
      keys(j) = UTF8String.fromBytes(out)
      j += 1
    }
    new GenericArrayData(keys)
  }

  /** Column-API entry point; `mh` is the 12-slot `array<bigint>`. */
  def keys(mh: Column, band: Column): Column =
    ColumnBridge.toColumn(
      MinHashKeys(ColumnBridge.toExpression(mh), ColumnBridge.toExpression(band)))
}
