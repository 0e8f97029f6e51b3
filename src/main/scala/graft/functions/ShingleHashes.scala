package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of every `n`-byte window of the UTF-8 text, in
  * ONE pass over the bytes (polynomial rolling hash + finalizer mix).
  *
  * Replaces shingling via `transform(sequence(...), i -> substr(text,i,n))`:
  * `substr` re-seeks code points from the string start on every call —
  * O(len²) per document — and the resulting string shingles are heavy to
  * hash, shuffle and compare. Downstream MinHash seeds are derived from
  * the window hash with an avalanche mix instead of re-hashing the
  * shingle text per seed.
  */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes() = {
    require(child.dataType == StringType, "shingle_hashes requires a string column")
    super.checkInputDataTypes()
  }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.hashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val Base = 1000003L

  /** Murmur-style finalizer: decorrelates the weak polynomial bits. */
  @inline def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def hashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    if (bytes.length < n) return new GenericArrayData(Array.empty[Long])
    var pow = 1L
    var i = 1
    while (i < n) { pow *= Base; i += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](bytes.length - n + 1)
    var h = 0L
    i = 0
    while (i < n) { h = h * Base + (bytes(i) & 0xFF); i += 1 }
    var m = mix(h)
    if (seen.add(m)) out += m
    while (i < bytes.length) {
      h = (h - (bytes(i - n) & 0xFF) * pow) * Base + (bytes(i) & 0xFF)
      m = mix(h)
      if (seen.add(m)) out += m
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def shingleHashes(text: Column, n: Int): Column =
    toColumn(ShingleHashes(toExpression(text), n))
}
