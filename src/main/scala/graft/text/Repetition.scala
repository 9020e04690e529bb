package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Repetition-based quality signals for training-data curation, after the
  * Gopher filtering rules (Rae et al. 2021, "Scaling Language Models",
  * §A1.1 — public): heavily self-repetitive documents (boilerplate,
  * generated code, scraper loops) are low-value training text even when
  * they pass the length/punctuation heuristics in
  * [[TextAnalysis.qualityComponents]].
  *
  * Three per-document fractions, all in [0,1], all pinned exactly so a
  * DuckDB oracle recomputes them bit-for-bit from the raw text:
  *
  *  - `dup_line_frac` — occurrences beyond the first of each distinct
  *    line, over all lines. Lines are the `\n`-split of the RAW text,
  *    space-trimmed (ASCII space only — SQL `trim` semantics, not Java's
  *    `String.trim`); empty-after-trim lines are excluded entirely (blank
  *    lines are structure, not repetition — in code they would dominate
  *    the count). `(L - D) / L` for L kept lines, D distinct; 0.0 when no
  *    lines survive.
  *  - `dup_line_char_frac` — the same beyond-the-first occurrences
  *    weighted by trimmed line length in CODE POINTS (SQL `length()`
  *    semantics, not UTF-16 units): Σ(count−1)·len / Σ count·len.
  *  - `top_ngram_char_frac` — over word `n`-grams of the NORMALIZED text
  *    ([[TextAnalysis.normalize]]: lowercase, non-alphanumeric runs → one
  *    space, trim), the maximum of count(g)·chars(g) divided by the
  *    normalized length, CAPPED at 1.0. Taking the max of the PRODUCT
  *    (not the count, then that gram's chars) makes the value
  *    deterministic without a tie-break rule when two grams tie on count;
  *    the cap is needed because self-overlapping occurrences share
  *    characters (`"w0 w0 w0"`: gram `"w0 w0"` twice, product 10 over 8
  *    chars) — past saturation there is no extra signal. 0.0 when fewer
  *    than `n` words.
  *
  * Execution shape: per-document and row-local — the right 100 TB shape,
  * since documents never need to see each other. One [[RepetitionStats]]
  * native expression per row (the [[graft.sim.IvfKernel]] pattern:
  * hash-count kernels invoked from generated code, no interpreted
  * higher-order functions, nothing exploded, no shuffle at all); the
  * normalization itself stays the shared codegen'd `regexp_replace` so
  * kernel and SQL oracle agree on every byte.
  */
object Repetition {

  /** struct(dup_line_frac, dup_line_char_frac, top_ngram_char_frac) for
    * one document; null iff `text` is null.
    */
  def statsCol(text: Column, n: Int = 2): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(text),
      ColumnBridge.expression(TextAnalysis.normalize(text)), n))
}

/** Counting kernel behind [[RepetitionStats]] — one pass over the raw
  * string for line stats, one over the pre-normalized string for the
  * n-gram stat. Pure integer counting + one double division per fraction,
  * so any engine recomputing the same integer counts gets bit-identical
  * doubles.
  */
object RepetitionKernel {

  private def trimSpaces(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** @param raw  the document text (lines split on '\n')
    * @param norm [[TextAnalysis.normalize]] of the same text
    * @param n    n-gram width for the top-gram stat
    */
  def stats(raw: UTF8String, norm: UTF8String, n: Int): InternalRow = {
    // ---- line stats over the raw text
    val lineCnt = new java.util.HashMap[String, Integer]()
    var kept = 0L; var dupLines = 0L
    var totalChars = 0L; var dupChars = 0L
    val rs = raw.toString
    var start = 0
    var i = 0
    val len = rs.length
    while (i <= len) {
      if (i == len || rs.charAt(i) == '\n') {
        val line = trimSpaces(rs.substring(start, i))
        if (line.nonEmpty) {
          kept += 1
          // CODE POINTS, not UTF-16 units — SQL length() counts code
          // points, and a supplementary-plane char would otherwise break
          // the bit-for-bit oracle parity (the normalized n-gram side is
          // ASCII-only by construction, so String.length is safe there)
          val cp = line.codePointCount(0, line.length)
          totalChars += cp
          val prev = lineCnt.merge(line, Integer.valueOf(1),
            (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
          if (prev.intValue() > 1) { dupLines += 1; dupChars += cp }
        }
        start = i + 1
      }
      i += 1
    }
    val dlf = if (kept == 0L) 0.0 else dupLines.toDouble / kept
    val dlcf = if (totalChars == 0L) 0.0 else dupChars.toDouble / totalChars
    // ---- top-n-gram stat over the normalized text
    val ns = norm.toString
    var tng = 0.0
    if (ns.nonEmpty) {
      val words = ns.split(' ')
      if (words.length >= n) {
        val gramCnt = new java.util.HashMap[String, Integer]()
        var w = 0
        while (w + n <= words.length) {
          val sb = new java.lang.StringBuilder(words(w))
          var j = 1
          while (j < n) { sb.append(' ').append(words(w + j)); j += 1 }
          gramCnt.merge(sb.toString, Integer.valueOf(1),
            (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
          w += 1
        }
        var maxChars = 0L
        val it = gramCnt.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue().toLong * e.getKey.length
          if (c > maxChars) maxChars = c
        }
        tng = math.min(maxChars.toDouble / ns.length, 1.0)
      }
    }
    new GenericInternalRow(Array[Any](dlf, dlcf, tng))
  }
}

/** `repetition_stats(text, normalized)` — see [[Repetition]]. The n-gram
  * width lives in the node (not a child literal); codegen emits one kernel
  * call so the whole computation stays inside the whole-stage span.
  */
case class RepetitionStats(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = StructType(Seq(
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("top_ngram_char_frac", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(raw: Any, norm: Any): Any =
    RepetitionKernel.stats(raw.asInstanceOf[UTF8String],
      norm.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (raw, norm) => s"""
      ${ev.value} = graft.text.RepetitionKernel.stats($raw, $norm, $n);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RepetitionStats =
    copy(left = newLeft, right = newRight)
}
