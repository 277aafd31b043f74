package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass JSON string-escape kernels for the WAT metadata serializer
  * (r18 optimization round; guide §1.2 "per-task work").
  *
  * The declarative `jsonEsc` in [[graft.operators.Web]] is a chain of 34
  * nested `replace` calls (backslash, quote, then U+0000–U+001F as `\u00XX`)
  * — codegen'd, but each `replace` is a full scan-and-copy of the string, so
  * every serialized field paid ~34 passes; worse, the per-link form ran
  * INSIDE a `transform` lambda, which Spark always interprets (no codegen for
  * higher-order functions) — the slowest per-byte lane of round 17
  * (SCALE.md: wat_write_roundtrip 31.4 s at 30×).
  *
  * Both kernels below do the identical escape in ONE byte-level pass. All
  * escape triggers (`\`, `"`, bytes < 0x20) are ASCII, and UTF-8 multi-byte
  * sequences only use bytes ≥ 0x80, so a byte scan is exact on any Unicode
  * input. Fast path: an input needing no escapes is returned as-is (zero
  * allocation — URLs and titles rarely contain controls or quotes).
  *
  * Byte-equivalence to the replace chain is pinned by WebSpec (adversarial
  * arms: every control char, quotes, backslashes, multi-byte UTF-8, empties,
  * NULL array elements) and by the unchanged oracle hashes of
  * q_wat_roundtrip / q_cc_triptych / q_domain_rank_wat.
  */
object JsonEscapeKernel {
  private val HEX = "0123456789abcdef".getBytes

  /** Number of output bytes the escaped form needs, or -1 when the input
    * needs no escaping at all (fast-path signal).
    */
  private def escapedLen(b: Array[Byte], off: Int, len: Int): Int = {
    var out = 0
    var dirty = false
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i)
      // escape classes: backslash / quote → 2 bytes, 0x00–0x1F → 6 bytes
      if (c == '\\' || c == '"') { out += 2; dirty = true }
      else if (c >= 0 && c < 0x20) { out += 6; dirty = true }
      else out += 1
      i += 1
    }
    if (dirty) out else -1
  }

  private def writeEscaped(src: Array[Byte], off: Int, len: Int,
      dst: Array[Byte], dstOff: Int): Int = {
    var o = dstOff
    var i = off
    val end = off + len
    while (i < end) {
      val c = src(i)
      if (c == '\\' || c == '"') {
        dst(o) = '\\'; dst(o + 1) = c; o += 2
      } else if (c >= 0 && c < 0x20) {
        dst(o) = '\\'; dst(o + 1) = 'u'; dst(o + 2) = '0'; dst(o + 3) = '0'
        dst(o + 4) = HEX((c >> 4) & 0xf); dst(o + 5) = HEX(c & 0xf)
        o += 6
      } else { dst(o) = c; o += 1 }
      i += 1
    }
    o
  }

  /** jsonEsc(s): one pass, identical bytes to the 34-replace chain. */
  def escape(input: UTF8String): UTF8String = {
    val b = input.getBytes // materialized copy iff the UTF8String is offheap/sliced
    val n = escapedLen(b, 0, b.length)
    if (n < 0) return input
    val out = new Array[Byte](n)
    writeEscaped(b, 0, b.length, out, 0)
    UTF8String.fromBytes(out)
  }

  /** array_join(transform(arr, l -> '"' || jsonEsc(l) || '"'), ','):
    * NULL elements are skipped without a separator (concat-of-NULL yields a
    * NULL element, which array_join skips — the exact builtin semantics).
    *
    * Memory: every element's bytes are kept from the sizing pass to the
    * write pass, so peak heap is about input + output at once (near the
    * 2 GiB guard, twice the result) — size task memory for both.
    */
  def escapeQuoteJoin(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    // sizing pass — the materialized byte arrays are KEPT for the write
    // pass (r19, advisor fix: getUTF8String(i).getBytes ran twice per
    // element, doubling byte copies for offheap/sliced arrays), and the
    // total accumulates in a long with an explicit bound so a pathological
    // input raises a clear error instead of a NegativeArraySizeException
    val bytes = new Array[Array[Byte]](n)
    var total = 0L
    var emitted = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val b = arr.getUTF8String(i).getBytes
        bytes(i) = b
        val e = escapedLen(b, 0, b.length)
        total += (if (e < 0) b.length else e) + 2L // quotes
        emitted += 1
      }
      i += 1
    }
    if (emitted == 0) return UTF8String.EMPTY_UTF8
    total += emitted - 1 // separators
    if (total > Int.MaxValue - 16)
      throw new IllegalArgumentException(
        s"json_escape_quote_join result too large: $total bytes exceeds the 2 GiB string limit")
    val out = new Array[Byte](total.toInt)
    var o = 0
    var first = true
    i = 0
    while (i < n) {
      val b = bytes(i)
      if (b != null) {
        if (!first) { out(o) = ','; o += 1 }
        first = false
        out(o) = '"'; o += 1
        o = writeEscaped(b, 0, b.length, out, o)
        out(o) = '"'; o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** JSON string escape, one byte-level pass (see [[JsonEscapeKernel]]). */
case class JsonEscapeStr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects STRING, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    JsonEscapeKernel.escape(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.JsonEscapeKernel.escape($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "json_escape"
}

/** Escape + quote + comma-join an ARRAY<STRING> in one pass — replaces the
  * interpreted `transform(links, l -> '"' || jsonEsc(l) || '"')` lambda in
  * the WAT links serializer (see [[JsonEscapeKernel]]). NULL elements are
  * skipped exactly as array_join skips the lambda's NULL results.
  */
case class JsonEscapeQuoteJoin(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ARRAY<STRING>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    JsonEscapeKernel.escapeQuoteJoin(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.JsonEscapeKernel.escapeQuoteJoin($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "json_escape_quote_join"
}
