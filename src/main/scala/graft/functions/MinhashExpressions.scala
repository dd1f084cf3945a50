package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** MinHash signature as ONE map-side codegen'd kernel — value-identical
  * to the declarative explode → md5-per-shingle → groupBy(doc_id) min
  * aggregation it replaces (the reference MinhashKernelSpec pins it
  * against):
  *
  *   tokens = split(lower(trim(text)), "\\s+")
  *   shingle_i = concat_ws(" ", t[i], t[i+1], t[i+2])        (1-based, n-2 windows)
  *   x = conv(substring(md5(shingle),1,12),16,10)            (48-bit md5 prefix)
  *   mh_j = min over shingles of (x * A_j + B_j) mod (2^61-1)
  *
  * Equivalence argument: the signature is a pure per-document function —
  * each mh_j is a min over that document's own shingles, so the exploded
  * corpus-token-scale rows and the hash aggregation (k min buffers per
  * doc) are removable outright (guide §1.2-step-1/§2.4: fix the
  * algorithm, remove the pass). The md5 count per document is unchanged
  * (one per shingle occurrence, duplicates included — min is invariant
  * to duplicates so hashing them is harmless and matches the declarative
  * explode exactly); what disappears is the explode row blowup, the
  * per-shingle UTF8String materialization (the digest is fed the token
  * byte slices and separator directly) and the aggregation machinery.
  *
  * Arithmetic is exact in Java longs: x < 2^48, A_j = 2j+3 ≤ 259 for
  * j < 128, so x·A_j + B_j < 2^57 — no overflow, all operands positive,
  * so Java `%` equals the mathematical mod the SQL expression computes.
  *
  * Tokenization replays the column chain byte-for-byte (the
  * [[SimhashSig]] contract): trim strips 0x20 only, lower is
  * `UTF8String.toLowerCase` (the method `lower()` runs) on the whole
  * string, split keeps leading/trailing empty segments (Java split at
  * limit -1), and all `\s` class chars are ASCII so byte scanning equals
  * code-point scanning. Documents with fewer than 3 tokens produce NO
  * row in the declarative signature table (explode of an empty shingle
  * array) — the kernel returns NULL for them and the wrapper filters,
  * keeping the signature table row set identical.
  */
case class MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def prettyName: String = "minhash_sig"

  override def toString: String = s"minhash_sig($child, $numHashes)"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // a <3-token doc yields NULL even for non-null input
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if numHashes > 0 && numHashes <= 128 =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig hash count must be in [1, 128], got $numHashes")
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    MinhashSig.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.MinhashSig.compute($a, $numHashes);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSig = copy(child = newChild)
}

object MinhashSig {

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val MersenneP: Long = (1L << 61) - 1
  private val Space: Array[Byte] = Array(' '.toByte)

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  /** Null when the document has fewer than 3 tokens (no shingles — the
    * doc has no row in the declarative signature table); otherwise the
    * [mh_0 .. mh_{k-1}] signature. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
              numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    // lower(trim(text)): trim strips 0x20 only; toLowerCase is the exact
    // method the `lower()` expression runs (binary collation)
    val lowered = s.trim().toLowerCase
    val b = lowered.getBytes
    val n = b.length
    // token boundaries, split on \s+ runs, leading/trailing empties kept
    // (Java split limit -1 — the `split(_, "\\s+")` column's semantics)
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var segStart = 0
    while (i < n) {
      if (isWs(b(i))) {
        starts.add(segStart); ends.add(i)
        while (i < n && isWs(b(i))) i += 1
        segStart = i
      } else i += 1
    }
    starts.add(segStart); ends.add(n)
    val nTok = starts.size()
    if (nTok < 3) return null
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = Md5.get()
    var w = 0
    while (w <= nTok - 3) {
      // md5 over tok[w] ++ " " ++ tok[w+1] ++ " " ++ tok[w+2] — the
      // concat_ws(" ", ...) shingle's exact bytes, no string built
      md.reset()
      var p = 0
      while (p < 3) {
        if (p > 0) md.update(Space)
        md.update(b, starts.get(w + p), ends.get(w + p) - starts.get(w + p))
        p += 1
      }
      val d = md.digest()
      // first 12 hex digits = first 6 digest bytes, big-endian unsigned
      // (conv(substring(md5(sh),1,12),16,10))
      val x = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      var j = 0
      while (j < numHashes) {
        // minhashParams(j) = (2j+3, 1000003(j+1)); all positive, < 2^57
        val v = (x * (2L * j + 3L) + 1000003L * (j + 1)) % MersenneP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      w += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }
}

/** True iff `split(lower(trim(text)), "\\s+")` yields at least `k`
  * tokens — the cheap early-exit gate for [[MinhashSig]]'s NULL
  * condition. Catalyst pushes a `WHERE sig IS NOT NULL` below the
  * projection that computes the signature by substituting the alias,
  * which would evaluate the md5-heavy kernel TWICE per row (once in the
  * pushed Filter, once in the Project); filtering on this predicate
  * instead keeps the kernel to one evaluation. Token count is invariant
  * under `lower` (case mapping never produces ASCII whitespace), so the
  * scan runs on the trimmed raw bytes and exits at the (k−1)-th
  * whitespace run — O(prefix), no digest. */
case class HasMinTokens(child: Expression, k: Int) extends UnaryExpression {

  override def prettyName: String = "has_min_tokens"

  override def toString: String = s"has_min_tokens($child, $k)"

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"has_min_tokens needs k >= 1, got $k")
    case t => TypeCheckResult.TypeCheckFailure(
      s"has_min_tokens needs a string, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    HasMinTokens.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HasMinTokens.compute($a, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): HasMinTokens = copy(child = newChild)
}

object HasMinTokens {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  /** Tokens = whitespace-run segments of the trimmed text, leading and
    * trailing empties kept (Java split limit -1) — so the count is
    * (number of interior \s+ runs) + 1. Early exit at k. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, k: Int): Boolean = {
    val b = s.trim().getBytes // trim strips 0x20 only, like the column
    val n = b.length
    var count = 1
    if (count >= k) return true
    var i = 0
    while (i < n) {
      if (isWs(b(i))) {
        count += 1
        if (count >= k) return true
        while (i < n && isWs(b(i))) i += 1
      } else i += 1
    }
    false
  }
}

object MinhashExpressions {
  /** Map-side MinHash signature array [mh_0..mh_{k-1}], NULL for docs
    * with fewer than 3 tokens — see [[MinhashSig]]. */
  def minhashSig(text: Column, numHashes: Int): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(text), numHashes))

  /** Cheap `token count >= k` gate — see [[HasMinTokens]]. */
  def hasMinTokens(text: Column, k: Int): Column =
    GraftBridge.column(HasMinTokens(GraftBridge.expression(text), k))
}
