package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003) as a codegen'd Catalyst expression: text →
  * array<struct<pos, h>> of the selected word-k-gram fingerprints
  * (minimum 28-bit md5-prefix hash per w-window, rightmost on ties).
  *
  * Winnowing is DOCUMENT-LOCAL — the selection for a row depends on
  * that row's text alone — so expressing it as a per-row expression
  * makes corpus fingerprinting entirely MAP-SIDE: no gram explode, no
  * per-document window shuffle, no trailing distinct. The equivalent
  * relational form (posexplode → hash → min() over a per-id ROWS
  * window → distinct) shuffles every gram of the corpus once and
  * re-shuffles for the distinct; at 100 TB that is the difference
  * between a scan and two corpus-wide exchanges. The sliding minimum
  * runs in O(grams) via a monotonic deque over combined
  * (hash << 32 | ~pos) keys — the same key encoding the SQL oracle
  * replays — and the hash is bit-identical to
  * `conv(substring(md5(gram), 1, 7), 16, 10)`.
  *
  * Tokenization delegates to [[WordNgramsExpr.compute]] (lowercase,
  * whitespace split, space-joined k-windows), so gram semantics are
  * shared with the whole shingle family. Null text yields null; fewer
  * than w full windows yields an empty array (no guarantee exists for
  * such documents — matches the windowed form's `pos >= w-1` filter).
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1, s"gram size k must be >= 1: $k")
  require(w >= 1, s"window size w must be >= 1: $w")

  override def dataType: DataType = WinnowExpr.OutType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow requires a string input, got " +
          child.dataType.simpleString)

  override def nullSafeEval(input: Any): Any =
    WinnowExpr.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowExpr.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow"
}

object WinnowExpr {

  val OutType: ArrayType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  private val Md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 28 bits of md5(utf8 bytes) — the value of
    * `conv(substring(md5(g), 1, 7), 16, 10)`: bytes 0-2 plus the high
    * nibble of byte 3 of the digest. */
  private def h28(gram: UTF8String): Long = {
    val md = Md.get()
    md.reset()
    val d = md.digest(gram.getBytes)
    (((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4))
  }

  private val PosMask = 0xffffffffL

  /** O(grams) winnowing: combined keys (h << 32 | ~pos), monotonic
    * min-deque over w-windows, consecutive-selection dedupe (a
    * position leaves the window once, so consecutive dedupe IS full
    * distinct). Called from interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val grams = WordNgramsExpr.compute(text, k, distinct = false)
    val m = grams.numElements()
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val keys = new Array[Long](m)
    var p = 0
    while (p < m) {
      keys(p) = (h28(grams.getUTF8String(p)) << 32) | (PosMask - p)
      p += 1
    }
    val deque = new Array[Int](m) // indices, keys increasing front→back
    var head = 0
    var tail = 0 // exclusive
    val out = new java.util.ArrayList[Any](2 * m / (w + 1) + 2)
    var lastKey = -1L
    p = 0
    while (p < m) {
      while (tail > head && keys(deque(tail - 1)) >= keys(p)) tail -= 1
      deque(tail) = p; tail += 1
      if (deque(head) <= p - w) head += 1
      if (p >= w - 1) {
        val sel = keys(deque(head))
        if (sel != lastKey) {
          lastKey = sel
          val row = new GenericInternalRow(2)
          row.update(0, PosMask - (sel & PosMask))
          row.update(1, sel >>> 32)
          out.add(row)
        }
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column API: array<struct<pos, h>> of selected fingerprints. */
  def winnow(c: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      WinnowExpr(ColumnBridge.expression(c.cast("string")), k, w))
  }
}
