package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The pipeline scrub chain — URL→`<URL>`, email→`<EMAIL>`,
  * whitespace-collapse, trim — as ONE native expression with
  * hand-rolled matchers, replacing three chained `regexp_replace`
  * calls that dominated the two composed-pipeline queries in the
  * round-9 ×100 sweep (each regex pass re-scans and re-materializes
  * every document).
  *
  * The three passes stay SEQUENTIAL (URL first, then email over the
  * URL-replaced text, then `\s+`→' ') — exactly
  * [[graft.llm.TextAnalysis.scrubCol]]'s semantics; a single
  * alternation pass would diverge on overlaps (e.g. `a@b.chttp://d`,
  * where the email pattern would eat the URL's prefix). Matcher
  * equivalences, asserted by `ScrubTextSpec` against
  * `java.util.regex` on the corpus + adversarial cases:
  *  - `https?://\S+`: literal prefix + greedy run of non-`\s` (Java
  *    `\s` = [ \t\n\x0B\f\r]) — no backtracking ambiguity.
  *  - `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`: local part =
  *    maximal local-char run immediately before `@` (no shorter run
  *    can satisfy the following literal `@`); domain = maximal
  *    [A-Za-z0-9.-] run split at the RIGHTMOST dot whose following
  *    ASCII-letter run has length ≥ 2 (greedy-plus-minimal-give-back
  *    backtracking); the match ends after that letter run. On a
  *    failed attempt the scan resumes after the `@` (no start inside
  *    the failed local run can succeed — all end at the same `@`
  *    with the same failed domain).
  *  - `\s+`→one space, then trim of leading/trailing space chars the
  *    way `trim()` trims (spaces only — after collapse every ws run
  *    IS a single space, so this equals regex-then-trim).
  */
case class ScrubText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"scrub_text requires string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ScrubText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScrubText.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): ScrubText =
    copy(child = newChild)
}

object ScrubText {

  import Tokens.isWs
  private def isLetter(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isLocal(c: Char): Boolean = isLetter(c) ||
    (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
    c == '+' || c == '-'
  private def isDomain(c: Char): Boolean = isLetter(c) ||
    (c >= '0' && c <= '9') || c == '.' || c == '-'

  /** Pass 1: `https?://\S+` → `<URL>`. */
  private def urls(s: String): String = {
    val n = s.length
    var out: java.lang.StringBuilder = null
    var i = 0
    var copied = 0
    while (i < n) {
      if (s.charAt(i) == 'h' && s.regionMatches(i, "http", 0, 4)) {
        var j = i + 4
        if (j < n && s.charAt(j) == 's') j += 1
        if (s.regionMatches(j, "://", 0, 3)) {
          var e = j + 3
          // \S+ needs at least one non-ws char
          if (e < n && !isWs(s.charAt(e))) {
            while (e < n && !isWs(s.charAt(e))) e += 1
            if (out == null) out = new java.lang.StringBuilder(n)
            out.append(s, copied, i).append("<URL>")
            copied = e
            i = e
          } else i += 1
        } else i += 1
      } else i += 1
    }
    if (out == null) s else out.append(s, copied, n).toString
  }

  /** Pass 2: the email pattern → `<EMAIL>`. */
  private def emails(s: String): String = {
    val n = s.length
    var out: java.lang.StringBuilder = null
    var i = 0
    var copied = 0
    while (i < n) {
      if (isLocal(s.charAt(i))) {
        var r = i + 1
        while (r < n && isLocal(s.charAt(r))) r += 1
        if (r < n && s.charAt(r) == '@') {
          // domain run after the @
          val d0 = r + 1
          var d = d0
          while (d < n && isDomain(s.charAt(d))) d += 1
          // rightmost dot in [d0, d) whose following letter run has
          // length >= 2; match ends after that run
          var end = -1
          var p = d - 1
          while (p > d0 && end < 0) {
            if (s.charAt(p) == '.') {
              var q = p + 1
              while (q < d && isLetter(s.charAt(q))) q += 1
              if (q - p - 1 >= 2) end = q
            }
            p -= 1
          }
          if (end > 0) {
            if (out == null) out = new java.lang.StringBuilder(n)
            out.append(s, copied, i).append("<EMAIL>")
            copied = end
            i = end
          } else i = r + 1   // no start inside the local run can succeed
        } else i = r         // run not followed by @: no start inside it works
      } else i += 1
    }
    if (out == null) s else out.append(s, copied, n).toString
  }

  /** Pass 3: `\s+` → ' ', then trim (only spaces can remain). */
  private def collapse(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) pendingSpace = true
      else {
        if (pendingSpace && out.length > 0) out.append(' ')
        pendingSpace = false
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  def compute(text: UTF8String): UTF8String =
    UTF8String.fromString(collapse(emails(urls(text.toString))))

  /** Column API: `scrubText($"text")`. */
  def scrubText(text: Column): Column =
    Bridge.column(ScrubText(Bridge.expression(text)))
}
