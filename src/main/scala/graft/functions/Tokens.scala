package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The shared whitespace tokenizer as ONE fused byte scan:
  * `tokens(text)` ≡ `filter(split(text, '\\s+'), w -> length(w) > 0)`
  * — the expression every text query's map pass starts with, and the
  * single home of the token rule: a token is a maximal run of
  * characters outside Java's `\s` ([[Tokens.isWs]]). The MapReduce
  * jobs, the `tokens` and `wc_map` SQL functions and the other text
  * kernels (`TextCounts`, `Postings`, `ScrubText`) all tokenize or
  * test whitespace through this object.
  *
  * The composed form pays, PER ROW, a `Pattern.compile("\\s+")`
  * (Java's `String.split` only fast-paths single-char literals; Spark's
  * `StringSplit` delegates to it via `UTF8String.toString.split`), a
  * full regex scan building an array WITH empty tokens, then an
  * interpreted `filter` lambda per token rebuilding the array. Java's
  * `\s` is ASCII-only (`[ \t\n\x0B\f\r]`), and UTF-8 multi-byte
  * sequences never contain bytes < 0x80 — so "split on \s+ runs, drop
  * empties" is EXACTLY "emit every maximal run of non-whitespace
  * bytes": one scan over the row's bytes, each token a zero-regex
  * `fromBytes` slice of the same array. Leading/trailing separators
  * produce the empty strings the filter dropped; both forms agree on
  * every shape (TokensSpec pins corpus-wide equality + the edge
  * shapes, including non-ASCII whitespace, which `\s` does NOT split).
  */
case class Tokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens requires a string argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Tokens.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {

  /** Java's `\s` without `UNICODE_CHARACTER_CLASS`: exactly
    * `[ \t\n\x0B\f\r]`. Every member is ASCII, so the same test is
    * exact on UTF-8 bytes, UTF-16 chars and code points alike (a
    * multi-byte sequence never holds a byte below 0x80).
    */
  def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // count runs first: exact-sized output, no growable buffer
    var count = 0
    var i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      } else i += 1
    }
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out(k) = UTF8String.fromBytes(bytes, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: `tokens($"text")`. */
  def tokens(text: Column): Column =
    Bridge.column(Tokens(Bridge.expression(text)))
}
