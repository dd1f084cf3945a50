package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** SimHash signature as ONE map-side codegen'd kernel — byte-identical
  * to the declarative aggregation pipeline it replaces (the reference
  * SimhashKernelSpec pins it against):
  *
  *   explode(tokens) → groupBy(doc_id, tok).count →
  *   groupBy(doc_id).agg(`bits` conditional sums) → sign-threshold.
  *
  * Equivalence: the per-bit weight is Σ over DISTINCT tokens of
  * cnt·(±1 by the token-hash's bit j); contributions are additive in
  * cnt, so summing ±1 PER OCCURRENCE is the same number — which makes
  * the whole signature a pure function of one document and the two
  * shuffled aggregations (corpus-token-scale rows through the exchange)
  * removable outright (guide §2.4: remove shuffles; §1.2: fix the
  * algorithm before the per-task work). Tokenization replays
  * `split(lower(trim(text)), "\\s+")` exactly: trim strips 0x20 only,
  * lower is `UTF8String.toLowerCase` (the method `lower()` runs) applied
  * to the WHOLE string before splitting, and the split keeps leading and
  * trailing empty segments (Java split semantics at limit -1 — "\ta"
  * tokenizes as ["", "a"], "" as [""]). The per-token hash is width-
  * selected: 16-bit = the md5-hex-prefix [[graft.ops.TextAnalysis.hash16]]
  * (first two digest bytes), 64-bit = `xxhash64` (XXH64, seed 42) — both
  * over the token's UTF-8 bytes, exactly the column expressions.
  * All split characters (the Java `\s` class: space, \t, \n, \x0B, \f,
  * \r) are ASCII, so byte-wise scanning equals code-point scanning.
  */
case class SimhashSig(child: Expression, bits: Int) extends UnaryExpression {

  override def prettyName: String = "simhash_sig"

  override def toString: String = s"simhash_sig($child, $bits)"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if bits == 16 || bits == 64 =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig width must be 16 or 64, got $bits")
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    SimhashSig.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimhashSig.compute($a, $bits);")

  override protected def withNewChildInternal(
      newChild: Expression): SimhashSig = copy(child = newChild)
}

object SimhashSig {

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  /** The per-token hash at [start, end) of `b`: width 16 is the first
    * two md5 digest bytes as an unsigned 16-bit value (hash16's
    * `conv(substring(md5(t),1,4),16,10)`); width 64 is XXH64 seed 42
    * over the same bytes (`xxhash64`). */
  private def tokenHash(b: Array[Byte], start: Int, end: Int,
                        bits: Int): Long =
    if (bits == 16) {
      val md = Md5.get()
      md.reset()
      md.update(b, start, end - start)
      val d = md.digest()
      (((d(0) & 0xffL) << 8) | (d(1) & 0xffL))
    } else {
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start,
        end - start, 42L)
    }

  def compute(s: org.apache.spark.unsafe.types.UTF8String,
              bits: Int): Long = {
    // lower(trim(text)): trim strips 0x20 only; toLowerCase is the
    // exact method the `lower()` expression runs (binary collation)
    val lowered = s.trim().toLowerCase
    val b = lowered.getBytes
    val n = b.length
    val w = new Array[Int](bits)
    def addToken(start: Int, end: Int): Unit = {
      val h = tokenHash(b, start, end, bits)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) w(j) += 1 else w(j) -= 1
        j += 1
      }
    }
    // split on runs of \s (leading/trailing empty segments kept: Java
    // split at limit -1 — the `split(_, "\\s+")` column's semantics)
    var i = 0
    var segStart = 0
    while (i < n) {
      if (isWs(b(i))) {
        addToken(segStart, i)
        while (i < n && isWs(b(i))) i += 1
        segStart = i
      } else i += 1
    }
    addToken(segStart, n) // final segment ("" when text ends in \s or is empty)
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (w(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

object SimhashExpressions {
  /** Map-side SimHash signature at the given width — see [[SimhashSig]]. */
  def simhashSig(text: Column, bits: Int): Column =
    GraftBridge.column(SimhashSig(GraftBridge.expression(text), bits))
}
