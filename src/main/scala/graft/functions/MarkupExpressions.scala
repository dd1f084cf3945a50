package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Markup/boilerplate text extraction — the FIRST operator of a real
  * crawl pipeline: strip scripts, styles, comments, tags, and entities
  * from raw HTML-ish payloads down to main text, as ONE codegen'd
  * expression of sequential byte-scan passes (the [[PiiRedact]]
  * pattern, sharing [[ByteScan]]).
  *
  * Each pass is byte-exact to a declared rule (regexes RE2-safe, so the
  * DuckDB oracle replays the chain and the spec pins against Java's
  * engine):
  *
  *   1. script blocks  `(?s)<script\b[^>]*>.*?</script>` → ` `
  *   2. style blocks   `(?s)<style\b[^>]*>.*?</style>`   → ` `
  *   3. comments       `(?s)<!--.*?-->`                  → ` `
  *   4. any tag        `<[^>]*>`                         → ` `
  *   5. entities (literal replaces, this order): `&lt;`→`<`,
  *      `&gt;`→`>`, `&quot;`→`"`, `&apos;`→`'`, `&nbsp;`→` `,
  *      `&amp;`→`&` (amp LAST, the standard anti-double-decode order —
  *      though the chain is the contract either way: both engines
  *      replay the same order, so outputs agree byte-for-byte)
  *   6. whitespace     `[ \t\n\x0B\f\r]+` → ` `, then trim spaces
  *
  * The passes CHAIN (each rule runs over the previous rule's output,
  * exactly `regexp_replace`/`replace` nesting). Rule ORDER is the
  * semantics: script/style/comment content is dropped before the tag
  * pass (so `<script>a<b</script>` never leaks `a<b` as text), and
  * entities decode AFTER tags (so a decoded `&lt;p&gt;` is text, not a
  * tag to strip). Lowercase tag names only — the synthetic-crawl
  * contract this engine declares; a case-folding variant is one `(?i)`
  * away on both sides.
  *
  * Why a kernel: the declarative form is four regex-machinery passes +
  * six literal replaces + a collapse per row; `regexp_replace`'s
  * per-match `Matcher.find()` loop was measured at 25 s of a 76 s
  * scoring row at the 100× probe for ONE pattern. Here every pass is a
  * branchy byte loop with no backtracking machinery (the non-greedy
  * block closes are plain `indexOf`), inside whole-stage codegen. All
  * structural characters are ASCII, so byte-wise scanning equals
  * code-point scanning (multi-byte UTF-8 units are ≥ 0x80 and pass
  * through every gate untouched).
  */
case class MarkupExtract(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"markup_extract needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    MarkupExtract.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MarkupExtract.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): MarkupExtract = copy(child = newChild)
}

object MarkupExtract {

  /** The declared rules — the single source of truth the spec's
    * Java-engine comparison and the oracle's RE2 replay both read
    * (RE2-safe: no lookaround, no backreferences; `(?s)` inline so
    * block content spans newlines on both engines). */
  val ScriptRe = "(?s)<script\\b[^>]*>.*?</script>"
  val StyleRe = "(?s)<style\\b[^>]*>.*?</style>"
  val CommentRe = "(?s)<!--.*?-->"

  val TagRe = "<[^>]*>"
  /** Literal entity decodes, IN ORDER (amp last). */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")
  val WsRe = "[ \\t\\n\\x0B\\f\\r]+"

  private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  private val Space = " ".getBytes("US-ASCII")
  private val ScriptOpen = "<script".getBytes("US-ASCII")
  private val ScriptClose = "</script>".getBytes("US-ASCII")
  private val StyleOpen = "<style".getBytes("US-ASCII")
  private val StyleClose = "</style>".getBytes("US-ASCII")
  private val CommentOpen = "<!--".getBytes("US-ASCII")
  private val CommentClose = "-->".getBytes("US-ASCII")
  private val EntityBytes: Array[(Array[Byte], Array[Byte])] =
    Entities.map { case (lit, rep) =>
      (lit.getBytes("US-ASCII"), rep.getBytes("US-ASCII"))
    }.toArray

  // Pass modes for the '<'-gated scans. The passes are hand-rolled
  // loops with STATIC dispatch, not shared closure-driven passes: a
  // Function3 gate invoked at every byte boxes each Int argument, and
  // against these cheap literal-prefix regexes (which Java's engine
  // skip-scans with indexOf-grade speed) the boxing alone made the
  // first kernel cut SLOWER than the declarative chain (0.36 vs 0.24 s
  // at sf0.1; MarkupAb). Here the hot skip loop is `in(i) != '<'` with
  // zero calls, and match attempts run only at '<' / '&' bytes.
  private final val ModeScript = 0
  private final val ModeStyle = 1
  private final val ModeComment = 2
  private final val ModeTag = 3

  /** `(?s)<open\b[^>]*>.*?<close>` at `i`: the literal open tag name, a
    * word boundary, greedy-to-first-`>` attributes, then the nearest
    * literal close (the non-greedy step is exactly first-occurrence). */
  private def blockAt(b: Array[Byte], i: Int,
                      open: Array[Byte], close: Array[Byte]): Int = {
    if (!ByteScan.litAt(b, i, open)) return -1
    val after = i + open.length
    if (after < b.length && isWord(b(after))) return -1 // \b fails
    var j = after
    while (j < b.length && b(j) != '>') j += 1
    if (j >= b.length) return -1
    val k = ByteScan.indexOf(b, j + 1, close)
    if (k < 0) -1 else k + close.length
  }

  private def matchLt(mode: Int, b: Array[Byte], i: Int): Int =
    mode match {
      case ModeScript => blockAt(b, i, ScriptOpen, ScriptClose)
      case ModeStyle => blockAt(b, i, StyleOpen, StyleClose)
      case ModeComment =>
        if (!ByteScan.litAt(b, i, CommentOpen)) -1
        else {
          val k = ByteScan.indexOf(b, i + CommentOpen.length, CommentClose)
          if (k < 0) -1 else k + CommentClose.length
        }
      case _ => // ModeTag; b(i) == '<' guaranteed by the gate
        var j = i + 1
        while (j < b.length && b(j) != '>') j += 1
        if (j >= b.length) -1 else j + 1
    }

  /** One '<'-gated replace-with-space pass (the rule selected by
    * `mode`). The skip loop is call-free; the out buffer allocates on
    * the first match only. */
  private def passLt(in: Array[Byte], mode: Int): Array[Byte] = {
    var out: java.io.ByteArrayOutputStream = null
    var copied = 0
    var i = 0
    val n = in.length
    while (i < n) {
      if (in(i) == '<') {
        val end = matchLt(mode, in, i)
        if (end > i) {
          if (out == null) out = new java.io.ByteArrayOutputStream(n)
          out.write(in, copied, i - copied)
          out.write(' ')
          copied = end
          i = end
        } else i += 1
      } else i += 1
    }
    if (out == null) in
    else { out.write(in, copied, n - copied); out.toByteArray }
  }

  /** All six entity decodes in ONE '&'-gated scan. Equivalent to the
    * declared six chained literal replaces because the literals are
    * pairwise non-overlapping beyond their shared '&' head (at any '&'
    * at most one matches), no decode output contains a character of any
    * literal except amp's '&' — and amp is LAST in the chain, so chain
    * order can never re-decode what an earlier replace emitted, exactly
    * as this scan never rescans emitted bytes. */
  private def entityPass(in: Array[Byte]): Array[Byte] = {
    var out: java.io.ByteArrayOutputStream = null
    var copied = 0
    var i = 0
    val n = in.length
    while (i < n) {
      if (in(i) == '&') {
        var e = 0
        var end = -1
        var rep: Array[Byte] = null
        while (end < 0 && e < EntityBytes.length) {
          val lit = EntityBytes(e)._1
          if (ByteScan.litAt(in, i, lit)) {
            end = i + lit.length
            rep = EntityBytes(e)._2
          }
          e += 1
        }
        if (end > i) {
          if (out == null) out = new java.io.ByteArrayOutputStream(n)
          out.write(in, copied, i - copied)
          out.write(rep, 0, rep.length)
          copied = end
          i = end
        } else i += 1
      } else i += 1
    }
    if (out == null) in
    else { out.write(in, copied, n - copied); out.toByteArray }
  }

  /** Whitespace collapse + trim in one pass: runs of the declared class
    * become a single ' ', and leading/trailing whitespace is dropped —
    * `trim(regexp_replace(t, WsRe, ' '))` fused (after the collapse the
    * edges hold at most one space each, so trimming the RAW edges'
    * whitespace runs is the same bytes). */
  private def wsCollapseTrim(in: Array[Byte]): Array[Byte] = {
    val n = in.length
    var lo = 0
    while (lo < n && isWs(in(lo))) lo += 1
    var hi = n
    while (hi > lo && isWs(in(hi - 1))) hi -= 1
    // interior: detect whether any run needs collapsing first (the
    // common already-clean row returns the input untouched)
    var i = lo
    var dirty = false
    while (i < hi && !dirty) {
      if (isWs(in(i)) && (in(i) != ' ' || (i + 1 < hi && isWs(in(i + 1)))))
        dirty = true
      i += 1
    }
    if (!dirty) {
      if (lo == 0 && hi == n) return in
      return java.util.Arrays.copyOfRange(in, lo, hi)
    }
    val out = new java.io.ByteArrayOutputStream(hi - lo)
    i = lo
    while (i < hi) {
      if (isWs(in(i))) {
        out.write(' ')
        i += 1
        while (i < hi && isWs(in(i))) i += 1
      } else {
        out.write(in(i))
        i += 1
      }
    }
    out.toByteArray
  }

  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    var b = s.getBytes
    b = passLt(b, ModeScript)
    b = passLt(b, ModeStyle)
    b = passLt(b, ModeComment)
    b = passLt(b, ModeTag)
    b = entityPass(b)
    b = wsCollapseTrim(b)
    org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
  }
}

object MarkupExpressions {
  /** Markup→main-text extraction as one codegen'd kernel — see
    * [[MarkupExtract]]. */
  def extractMarkup(text: Column): Column =
    GraftBridge.column(MarkupExtract(GraftBridge.expression(text)))
}
