package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** URL canonicalization as ONE codegen'd byte-scan kernel (the
  * [[MarkupExtract]] pattern) — byte-identical to the declared
  * declarative rule chain (the reference ByteScanFuzzSpec pins it
  * against, and which the DuckDB oracle replays):
  *
  *   1. strip the fragment (`(?s)#.*` → '': cut at the FIRST '#');
  *   2. lowercase the scheme+authority prefix
  *      (`^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*`), path untouched;
  *   3. strip the scheme's default port (`^(http://[^/?#]*):80$` → `$1`,
  *      then `^(https://[^/?#]*):443$` → `$1` — anchored on the LOWERED
  *      prefix, so the rules are simple startsWith/endsWith checks: the
  *      `[^/?#]*` class is vacuously satisfied by any authority);
  *   4. empty path → `/`;
  *   5. sort query parameters byte-wise on the raw `&` split (empty
  *      segments kept, exactly Spark's `split(q, "&")`; ordering is
  *      UTF8String's unsigned-byte comparison, Spark's `array_sort`
  *      default); an empty query drops its `?`.
  *
  * Why a kernel: the declarative form is 4 regex-machinery passes +
  * substr/instr arithmetic + split/array_sort/array_join per row —
  * ~27 µs/row at sf0.1 (the round-20 verdict's measurement), and the
  * whole chain re-inlines wherever the canonical column is referenced,
  * bloating EXPLAIN output ~20×. Here one byte scan parses the three
  * spans (prefix, path, query) in a single pass; only the (rare)
  * non-ASCII prefix falls back to `UTF8String.toLowerCase` — the exact
  * method Spark's `lower()` runs, so case folding stays bit-identical.
  * All structural characters ('#', ':', '/', '?', '&') are ASCII, so
  * byte-wise scanning equals code-point scanning (multi-byte UTF-8
  * units are ≥ 0x80 and pass through every gate untouched).
  */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"canonicalize_url needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    CanonicalizeUrl.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CanonicalizeUrl.compute($a);")

  override protected def withNewChildInternal(
      newChild: Expression): CanonicalizeUrl = copy(child = newChild)
}

object CanonicalizeUrl {

  private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isSchemeChar(b: Byte): Boolean =
    isAlpha(b) || (b >= '0' && b <= '9') || b == '+' || b == '.' || b == '-'

  /** Rule 2's case fold over the prefix bytes. ASCII-pure prefixes (every
    * real URL) fold in place; a non-ASCII byte anywhere falls back to
    * `UTF8String.toLowerCase` — the method `lower()` itself runs — so the
    * kernel can never diverge from the declarative chain on exotic
    * authorities (where Unicode folding may change byte LENGTH). */
  private def lowerPrefix(b: Array[Byte], end: Int): Array[Byte] = {
    var i = 0
    while (i < end) {
      if (b(i) < 0) { // >= 0x80: non-ASCII — delegate the whole prefix
        return org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, 0, end).toLowerCase.getBytes
      }
      i += 1
    }
    val out = new Array[Byte](end)
    i = 0
    while (i < end) {
      val c = b(i)
      out(i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      i += 1
    }
    out
  }

  private def endsWith(b: Array[Byte], lit: String): Boolean = {
    val n = lit.length
    if (b.length < n) return false
    var i = 0
    while (i < n) {
      if (b(b.length - n + i) != lit.charAt(i)) return false
      i += 1
    }
    true
  }

  private def startsWith(b: Array[Byte], lit: String): Boolean = {
    val n = lit.length
    if (b.length < n) return false
    var i = 0
    while (i < n) {
      if (b(i) != lit.charAt(i)) return false
      i += 1
    }
    true
  }

  /** UTF8String.compareTo over byte slices of `b`: unsigned byte-wise,
    * then length — Spark's `array_sort` ordering for strings. */
  private def sliceLt(b: Array[Byte], s1: Int, e1: Int,
                      s2: Int, e2: Int): Boolean = {
    val l1 = e1 - s1
    val l2 = e2 - s2
    val n = math.min(l1, l2)
    var i = 0
    while (i < n) {
      val x = b(s1 + i) & 0xff
      val y = b(s2 + i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    l1 < l2
  }

  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val b = s.getBytes
    // rule 1: fragment cut at the first '#'
    var n = 0
    while (n < b.length && b(n) != '#') n += 1
    // rule 2a: parse the `^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*` prefix
    var pEnd = 0
    if (n > 0 && isAlpha(b(0))) {
      var i = 1
      while (i < n && isSchemeChar(b(i))) i += 1
      if (i + 2 < n && b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/') {
        var j = i + 3
        while (j < n && b(j) != '/' && b(j) != '?') j += 1 // '#' already cut
        pEnd = j
      }
    }
    // rule 2b + 3: lower the prefix, strip the scheme's default port
    var lp = lowerPrefix(b, pEnd)
    if (startsWith(lp, "http://") && endsWith(lp, ":80"))
      lp = java.util.Arrays.copyOf(lp, lp.length - 3)
    else if (startsWith(lp, "https://") && endsWith(lp, ":443"))
      lp = java.util.Arrays.copyOf(lp, lp.length - 4)
    // rest = [pEnd, n); path ends at the first '?'
    var q = pEnd
    while (q < n && b(q) != '?') q += 1
    val out = new java.io.ByteArrayOutputStream(n + 8)
    out.write(lp, 0, lp.length)
    // rule 4: empty path -> '/'
    if (q == pEnd) out.write('/')
    else out.write(b, pEnd, q - pEnd)
    // rule 5: sort the raw '&' split of the query (empty query: no '?')
    if (q < n && q + 1 < n) {
      // split [q+1, n) on '&' into slice bounds (empty segments kept,
      // leading AND trailing — Spark's split limit is -1)
      var count = 1
      var i = q + 1
      while (i < n) { if (b(i) == '&') count += 1; i += 1 }
      val starts = new Array[Int](count)
      val ends = new Array[Int](count)
      var k = 0
      var segStart = q + 1
      i = q + 1
      while (i <= n) {
        if (i == n || b(i) == '&') {
          starts(k) = segStart; ends(k) = i; k += 1; segStart = i + 1
        }
        i += 1
      }
      // insertion sort on slice bounds (param lists are short); stable,
      // but stability is moot: equal slices are byte-identical
      var a = 1
      while (a < count) {
        val ts = starts(a); val te = ends(a)
        var c = a - 1
        while (c >= 0 && sliceLt(b, ts, te, starts(c), ends(c))) {
          starts(c + 1) = starts(c); ends(c + 1) = ends(c); c -= 1
        }
        starts(c + 1) = ts; ends(c + 1) = te
        a += 1
      }
      out.write('?')
      var m = 0
      while (m < count) {
        if (m > 0) out.write('&')
        out.write(b, starts(m), ends(m) - starts(m))
        m += 1
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out.toByteArray)
  }
}

object UrlExpressions {
  /** URL canonicalization as one codegen'd kernel — see
    * [[CanonicalizeUrl]]. */
  def canonicalizeUrl(url: Column): Column =
    GraftBridge.column(CanonicalizeUrl(GraftBridge.expression(url)))
}
