package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native PII-redaction kernel: email / URL / IPv4 / phone / number
  * scrubbing as ONE codegen'd expression of five sequential byte-scan
  * passes — the production curation pass that runs over every document
  * before training data ships.
  *
  * Each pass is byte-exact to a declared regex (the contract the DuckDB
  * oracle replays with RE2 and the spec pins against Java's engine):
  *
  *   1. email  `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` → `<EMAIL>`
  *   2. url    `https?://[^ \t\n\x0B\f\r<>]+`                   → `<URL>`
  *   3. ipv4   `\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b` → `<IP>`
  *   4. phone  `\+[0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4}`       → `<PHONE>`
  *   5. number `[0-9]+`                                          → `<NUM>`
  *
  * The passes CHAIN (each rule runs over the previous rule's output,
  * exactly `regexp_replace` nesting) — placeholders are inert to every
  * later rule by construction (no digits, no `@`, no `://`; the URL
  * charset excludes `<`/`>` so a placeholder can never extend a match).
  * Rule order is most-specific-first: an email inside a URL query string
  * redacts as `<URL><EMAIL>`, not as one URL — the chain semantics, kept
  * deliberately.
  *
  * This exists because the declarative form is five full regex-machinery
  * passes per row — `regexp_replace`'s per-match `Matcher.find()` loop
  * was measured at 25 s of a 76 s scoring row at the 100× probe for ONE
  * pattern ([[AsciiPunctCount]]'s origin); five stacked patterns scale
  * that cost by rule count. Here every pass is a branchy byte loop with
  * no backtracking machinery (the bounded lookaheads are hand-rolled),
  * inside whole-stage codegen. All pattern characters are ASCII, so
  * byte-wise scanning equals code-point scanning (multi-byte UTF-8 units
  * are ≥ 0x80 and only the URL charset — a negated class — can consume
  * them, wholly).
  */
case class PiiRedact(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pii_redact needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    PiiRedact.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PiiRedact.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): PiiRedact = copy(child = newChild)
}

/** Shared byte-scan primitives for the codegen'd text kernels
  * ([[PiiRedact]], [[MarkupExtract]]). Both kernels hand-roll their
  * pass LOOPS with static dispatch (a closure-driven shared pass boxed
  * every per-byte gate argument and lost to the cheap regexes — the
  * MarkupExtract round-20 lesson); what they share are the literal
  * primitives below and the lastEnd resume contract documented on each
  * kernel's `pass`. */
private[functions] object ByteScan {

  /** Literal byte-sequence match at `at` (no per-call allocation — the
    * gates run at every candidate byte of the corpus). */
  def litAt(b: Array[Byte], at: Int, lit: Array[Byte]): Boolean = {
    if (at + lit.length > b.length) return false
    var t = 0
    while (t < lit.length) { if (b(at + t) != lit(t)) return false; t += 1 }
    true
  }

  /** First index >= `from` where the literal occurs, or −1 — the
    * non-greedy `.*?<lit>` step of a block rule. */
  def indexOf(b: Array[Byte], from: Int, lit: Array[Byte]): Int = {
    var i = math.max(from, 0)
    val last = b.length - lit.length
    while (i <= last) {
      if (litAt(b, i, lit)) return i
      i += 1
    }
    -1
  }
}

object PiiRedact {

  /** The declared per-rule regexes — the single source of truth the
    * spec's Java-engine comparison and the oracle's RE2 replay both
    * read (RE2-safe: no lookaround, no backreferences). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r<>]+"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}|[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val NumRe = "[0-9]+"

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isWord(b: Byte): Boolean =
    isLetter(b) || isDigit(b) || b == '_'
  private def isLocal(b: Byte): Boolean = // email local-part charset
    isLetter(b) || isDigit(b) || b == '.' || b == '_' || b == '%' ||
      b == '+' || b == '-'
  private def isDomain(b: Byte): Boolean =
    isLetter(b) || isDigit(b) || b == '.' || b == '-'
  private def isUrlStop(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r' || b == '<' || b == '>'

  private val Email = "<EMAIL>".getBytes("US-ASCII")
  private val Url = "<URL>".getBytes("US-ASCII")
  private val Ip = "<IP>".getBytes("US-ASCII")
  private val Phone = "<PHONE>".getBytes("US-ASCII")
  private val Num = "<NUM>".getBytes("US-ASCII")

  // Pass modes: the five rules as STATIC dispatch inside one loop body,
  // not closures — a Function3 gate invoked at every byte boxes each
  // argument (the MarkupExtract lesson: boxing alone made that kernel's
  // first cut slower than its regex chain). Gates here are charclass
  // tests (the literal-gate skip loop doesn't apply), but the calls are
  // now private statics the JIT inlines.
  private final val MEmail = 0
  private final val MUrl = 1
  private final val MIp = 2
  private final val MPhone = 3
  private final val MNum = 4
  private val Placeholders: Array[Array[Byte]] =
    Array(Email, Url, Ip, Phone, Num)

  /** One redaction pass of rule `mode` over `in`. `lastEnd` is the end
    * of this pass's previous match (−1 before the first):
    * `Matcher.find()` resumes at the match end regardless of context,
    * so lookbehind-style gates (email's head-of-run) MUST also fire at
    * `i == lastEnd` — otherwise abutting matches (`a@b.cc+bob@d.ee`)
    * are missed, which for a PII scrubber means a leak. Skipping the
    * rest of a run after a failed attempt at its head (or at lastEnd)
    * stays sound: every start inside one charset-run scans to the same
    * run end, so one failure covers the run. The IP gate needs no
    * lastEnd clause: an IP match ends on a trailing non-word byte, so
    * the resume position can never start a digit run. */
  private def pass(in: Array[Byte], mode: Int): Array[Byte] = {
    val placeholder = Placeholders(mode)
    var out: java.io.ByteArrayOutputStream = null // allocated on 1st match
    var copied = 0
    var lastEnd = -1
    var i = 0
    val n = in.length
    while (i < n) {
      val b0 = in(i)
      var end = -1
      mode match {
        case MEmail =>
          if (isLocal(b0) && (i == lastEnd || i == 0 || !isLocal(in(i - 1))))
            end = emailAt(in, i)
        case MUrl =>
          if (b0 == 'h') end = urlAt(in, i)
        case MIp =>
          if (isDigit(b0) && (i == 0 || !isWord(in(i - 1))))
            end = ipAt(in, i)
        case MPhone =>
          if (b0 == '+' || isDigit(b0)) end = phoneAt(in, i)
        case _ =>
          if (isDigit(b0)) end = numAt(in, i)
      }
      if (end > i) {
        if (out == null) out = new java.io.ByteArrayOutputStream(n)
        out.write(in, copied, i - copied)
        out.write(placeholder, 0, placeholder.length)
        copied = end
        lastEnd = end
        i = end
      } else i += 1
    }
    if (out == null) in
    else { out.write(in, copied, n - copied); out.toByteArray }
  }

  /** Email: attempt only at the head of a local-charset run (mid-run
    * starts reach the same `@`/domain and fail or match identically).
    * Domain backtracking is the regex's: the LAST dot followed by ≥ 2
    * letters wins, greedy letters. */
  private def emailAt(b: Array[Byte], i: Int): Int = {
    var j = i
    while (j < b.length && isLocal(b(j))) j += 1
    if (j == i || j >= b.length || b(j) != '@') return -1
    var k = j + 1
    while (k < b.length && isDomain(b(k))) k += 1
    if (k == j + 1) return -1
    var p = k - 1
    while (p >= j + 2) { // >=1 domain char before the matched dot
      if (b(p) == '.') {
        var m = p + 1
        while (m < b.length && isLetter(b(m))) m += 1
        if (m - (p + 1) >= 2) return m
      }
      p -= 1
    }
    -1
  }

  private val Http = "http".getBytes("US-ASCII")
  private val SchemeSep = "://".getBytes("US-ASCII")

  /** Literal byte-sequence match at `at` (no per-call allocation —
    * urlAt runs at every 'h' byte of the corpus). */
  private def litAt(b: Array[Byte], at: Int, lit: Array[Byte]): Boolean =
    ByteScan.litAt(b, at, lit)

  private def urlAt(b: Array[Byte], i: Int): Int = {
    if (!litAt(b, i, Http)) return -1
    var j = i + Http.length
    if (j < b.length && b(j) == 's') j += 1
    if (!litAt(b, j, SchemeSep)) return -1
    j += SchemeSep.length
    val start = j
    while (j < b.length && !isUrlStop(b(j))) j += 1
    if (j == start) -1 else j
  }

  /** IPv4: attempt only where `\b` holds (previous byte not a word
    * char); each octet is a MAXIMAL digit run of length 1–3 (a longer
    * run can never back off — the following byte would be a digit and
    * the dot test fails), and the trailing `\b` needs a non-word byte
    * or end-of-input after the 4th octet. */
  private def ipAt(b: Array[Byte], i: Int): Int = {
    var j = i
    var g = 0
    while (g < 4) {
      val st = j
      while (j < b.length && isDigit(b(j))) j += 1
      val len = j - st
      if (len < 1 || len > 3) return -1
      if (g < 3) {
        if (j >= b.length || b(j) != '.') return -1
        j += 1
      }
      g += 1
    }
    if (j < b.length && isWord(b(j))) -1 else j
  }

  /** Phone: `+` then 7–15 digits (greedy, a longer run leaves its tail
    * for the number pass), or ddd-ddd-dddd at ANY digit (no boundary in
    * the regex — mid-run starts are real matches). */
  private def phoneAt(b: Array[Byte], i: Int): Int = {
    if (b(i) == '+') {
      var j = i + 1
      while (j < b.length && isDigit(b(j)) && j - i - 1 < 15) j += 1
      if (j - i - 1 >= 7) j else -1
    } else { // digit: the dashed form, exact counts
      def digits(at: Int, n: Int): Boolean = {
        if (at + n > b.length) return false
        var t = 0
        while (t < n) { if (!isDigit(b(at + t))) return false; t += 1 }
        true
      }
      if (digits(i, 3) && i + 3 < b.length && b(i + 3) == '-' &&
        digits(i + 4, 3) && i + 7 < b.length && b(i + 7) == '-' &&
        digits(i + 8, 4)) i + 12
      else -1
    }
  }

  private def numAt(b: Array[Byte], i: Int): Int = {
    var j = i
    while (j < b.length && isDigit(b(j))) j += 1
    j
  }

  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    var b = s.getBytes
    b = pass(b, MEmail)
    b = pass(b, MUrl)
    b = pass(b, MIp)
    b = pass(b, MPhone)
    b = pass(b, MNum)
    org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
  }
}

object PiiExpressions {
  /** Five-rule PII scrub as one codegen'd kernel — see [[PiiRedact]]. */
  def redactPii(text: Column): Column =
    GraftBridge.column(PiiRedact(GraftBridge.expression(text)))
}
