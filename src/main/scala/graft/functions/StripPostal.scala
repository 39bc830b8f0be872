package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass postal-code strip + whitespace collapse + trim — the P2+P3
  * kernel of the ingest cleaning chain (`cleaner.py:29-39`), fused.
  *
  * Semantics (pinned by `TaggedTextSpec` and a scalacheck equivalence
  * property): identical to the three-pass regex pipeline
  * {{{
  *   trim(regexp_replace(regexp_replace(c,
  *     "(?:(?<=[^0-9])|(?<=^))\\s*[0-9]{6}\\s*(?=[^0-9]|$)", " "),
  *     "\\s+", " "))
  * }}}
  * i.e. the reference's lookaround pattern — "a digit run of EXACTLY
  * six, whatever borders it as long as it is not a seventh digit" —
  * followed by the whitespace pass. The lookarounds have a price: a JVM microbench over address-shaped strings
  * (`tools/PostalBench.java`) prices the lookaround pattern at ~1.6-1.8×
  * the old `\b` form and ~2-3× this scan, and the scan additionally
  * replaces THREE passes (two `regexp_replace` + trim) with one. This is
  * the same structural shape the DuckDB oracle mirror already uses
  * (tokenize into digit/non-digit runs, blank the exactly-6 runs —
  * `OracleSql.taggedPipeline`), now on the Scala side too.
  *
  * Dialect contract (COVERAGE.md "known dialect divergence"): digits are
  * ASCII `[0-9]` and whitespace is Java regex `\s` = ASCII
  * `[ \t\n\x0B\f\r]` — exactly what the regex pipeline matched; Unicode
  * digits/whitespace pass through untouched, and the corpus assertion in
  * `TaggedTextSpec` guards the assumption.
  */
object StripPostal {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** The pure kernel, exposed for the scalacheck equivalence property. */
  private[graft] def stripPostal6(s: String): String = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isDigit(c)) {
        var j = i
        while (j < n && isDigit(s.charAt(j))) j += 1
        if (j - i == 6) {
          // the pattern's \s* arms: drop the already-collapsed space on
          // the left, consume the whitespace run on the right, emit the
          // single replacement space
          while (out.length > 0 && out.charAt(out.length - 1) == ' ')
            out.setLength(out.length - 1)
          while (j < n && isWs(s.charAt(j))) j += 1
          out.append(' ')
        } else out.append(s, i, j)
        i = j
      } else if (isWs(c)) {
        // the \s+ collapse pass, inline
        var j = i
        while (j < n && isWs(s.charAt(j))) j += 1
        out.append(' ')
        i = j
      } else {
        out.append(c)
        i += 1
      }
    }
    // trim: after the collapse every edge whitespace is a single ' '
    var st = 0
    var en = out.length
    while (st < en && out.charAt(st) == ' ') st += 1
    while (en > st && out.charAt(en - 1) == ' ') en -= 1
    out.substring(st, en)
  }

  /** Catalyst wrapper. `CodegenFallback` is fine here for the same
    * reason as [[TextHashes]]: the cost is inside eval (a char scan),
    * not in the surrounding plan, and the expression sits under a
    * higher-order `transform` whose lambda path is interpreted anyway.
    */
  case class StripPostal6(child: Expression)
    extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType
    override def prettyName: String = "strip_postal6"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.sql}")
    }

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        stripPostal6(input.asInstanceOf[UTF8String].toString))

    override protected def withNewChildInternal(c: Expression): StripPostal6 =
      copy(child = c)
  }

  def stripPostal6Col(c: Column): Column =
    ColumnBridge.column(StripPostal6(ColumnBridge.expression(c)))
}
