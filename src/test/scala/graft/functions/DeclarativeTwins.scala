package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{Dedup, TextAnalysis}

/** The declarative formulations the byte-scan and signature kernels
  * replaced: plain Catalyst built-ins (regex chains, explode +
  * aggregation) stating WHAT each kernel computes. The kernel specs
  * (MarkupExpressionsSpec, PiiExpressionsSpec, MinhashKernelSpec,
  * SimhashKernelSpec, WindowHashKernelSpec) and ByteScanFuzzSpec pin
  * each kernel value-identical to its twin here. */
object DeclarativeTwins {

  /** [[MarkupExtract.ScriptRe]]/[[MarkupExtract.StyleRe]] rendered for
    * JAVA's engine: Java's `\b` is Unicode-aware (the `\b`-vs-`\w` JDK
    * asymmetry — see [[IpReJava]]), so `<scripté>` opens a block under
    * RE2/the kernel but not under a Java `\b`. The declared semantics
    * are RE2's ASCII boundary, spelled as an explicit ASCII negative
    * lookahead for the Java reference chain. Java-only — never feed
    * these to the oracle. */
  val ScriptReJava = "(?s)<script(?![A-Za-z0-9_])[^>]*>.*?</script>"
  val StyleReJava = "(?s)<style(?![A-Za-z0-9_])[^>]*>.*?</style>"

  /** The same rule chain as declarative `regexp_replace` + literal
    * `replace` calls (Java's regex engine) — the reference formulation
    * the kernel is pinned against in MarkupExpressionsSpec and the
    * shape the DuckDB oracle replays in RE2. */
  def extractMarkupDeclarative(text: Column): Column = {
    // the *ReJava forms, not ScriptRe/StyleRe: Java's \b is
    // Unicode-aware; the declared boundary is RE2's ASCII one
    val noScript = regexp_replace(text, ScriptReJava, " ")
    val noStyle = regexp_replace(noScript, StyleReJava, " ")
    val noComment = regexp_replace(noStyle, MarkupExtract.CommentRe, " ")
    val noTag = regexp_replace(noComment, MarkupExtract.TagRe, " ")
    val decoded = MarkupExtract.Entities.foldLeft(noTag) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    trim(regexp_replace(decoded, MarkupExtract.WsRe, " "))
  }

  /** [[PiiRedact.IpRe]] rendered for JAVA's engine: Java's `\b` is
    * Unicode-aware even without UNICODE_CHARACTER_CLASS (the known
    * `\b`-vs-`\w` JDK
    * asymmetry), so `é1.2.3.4` redacts under RE2/the kernel (é is not
    * an ASCII word char — boundary holds) but NOT under a Java `\b`.
    * The DECLARED semantics are RE2's ASCII boundary — what the oracle
    * replays and the kernel's `isWord` gate implements — so the Java
    * reference chain spells it as explicit ASCII lookarounds.
    * (Found by ByteScanFuzzSpec on `é`-digit adjacencies; Java-only —
    * NOT RE2-safe, never feed this form to the oracle.) */
  val IpReJava = "(?<![A-Za-z0-9_])[0-9]{1,3}\\.[0-9]{1,3}" +
    "\\.[0-9]{1,3}\\.[0-9]{1,3}(?![A-Za-z0-9_])"

  /** The same five rules as the declarative `regexp_replace` chain
    * (Java's regex engine) — the reference formulation the kernel is
    * pinned against in PiiExpressionsSpec and the shape the DuckDB
    * oracle replays in RE2. */
  def redactPiiDeclarative(text: Column): Column = {
    val e = regexp_replace(text, PiiRedact.EmailRe, "<EMAIL>")
    val u = regexp_replace(e, PiiRedact.UrlRe, "<URL>")
    // IpReJava, not IpRe: Java's \b is Unicode-aware; the declared
    // boundary is RE2's ASCII one (see IpReJava's scaladoc)
    val p4 = regexp_replace(u, IpReJava, "<IP>")
    val ph = regexp_replace(p4, PiiRedact.PhoneRe, "<PHONE>")
    regexp_replace(ph, PiiRedact.NumRe, "<NUM>")
  }

  /** [[TextAnalysis.canonicalizeUrl]]'s declared rule chain in
    * declarative form — the reference formulation the kernel is pinned
    * against and the shape the DuckDB oracle replays. */
  def canonicalizeUrlDeclarative(url: Column): Column = {
    val noFrag = regexp_replace(url, "(?s)#.*", "")
    val prefix = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val auth = regexp_replace(
      regexp_replace(lower(prefix), "^(http://[^/?#]*):80$", "$1"),
      "^(https://[^/?#]*):443$", "$1")
    val rest = noFrag.substr(length(prefix) + lit(1), length(noFrag))
    val path0 = substring_index(rest, "?", 1)
    val query0 = when(instr(rest, "?") > 0,
      rest.substr(instr(rest, "?") + lit(1), length(rest)))
      .otherwise(lit(""))
    concat(auth,
      when(path0 === "", lit("/")).otherwise(path0),
      when(query0 === "", lit(""))
        .otherwise(concat(lit("?"),
          array_join(array_sort(split(query0, "&")), "&"))))
  }

  /** The round-20 declarative formulation [[Dedup.minhashSignature]]
    * replaced: explode shingles → md5 base hash → k min aggregations. Kept as the
    * semantic pin the kernel is property-tested against (and as the
    * oracle-mirrorable statement of WHAT a signature is). Tokens are
    * materialized in a projection BEFORE the shingle transform —
    * otherwise Catalyst inlines the regex split into every `element_at`
    * of the lambda and re-tokenizes the document once per shingle
    * position. */
  def minhashSignatureDeclarative(docs: DataFrame,
                                  numHashes: Int): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
      .select(col("doc_id"), explode(TextAnalysis.shingles3(col("_t"))).as("sh"))
      .withColumn("x", Dedup.shingleHash(col("sh")))
    val aggs = (0 until numHashes).map { i =>
      val (a, b) = Dedup.minhashParams(i)
      min((col("x") * a + b) % Dedup.MersenneP).as(s"mh$i")
    }
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The declarative aggregation formulation of [[Dedup.simhash]] — the
    * declared semantics the kernel is pinned against (explode →
    * per-(doc, token) counts → `bits` conditional sums → sign
    * threshold), kept as the reference twin (the markup-kernel
    * precedent). */
  def simhashDeclarative(docs: DataFrame, bits: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val tokHash =
      if (bits == 16) TextAnalysis.hash16(col("tok")) else xxhash64(col("tok"))
    val counted = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", tokHash)
    val bitSums = (0 until bits).map(j =>
      sum(when(expr(s"shiftright(h, $j) & 1") === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"w$j"))
    counted
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Sliding k-gram array over the token sequence (the generalized
    * [[TextAnalysis.shingles3]]); empty when the document has fewer than
    * `k` tokens. Window i (1-based) is `array_join(slice(toks, i, k), " ")` —
    * `array_to_string(t[i:i+k-1], ' ')` in the DuckDB mirror. The token
    * array is referenced, never re-derived, inside the lambda (the
    * Dedup.scala re-tokenize trap). */
  private def shinglesK(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)), i =>
        array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** The round-20 declarative formulation [[Dedup.docWindows]] replaced —
    * the semantic pin (and the oracle-mirrorable statement of the window
    * hash). */
  def docWindowsDeclarative(toks: DataFrame, kTokens: Int): DataFrame = {
    require(kTokens >= 2, s"substring ops: kTokens must be >= 2, got $kTokens")
    toks
      .select(col("doc_id"), posexplode(shinglesK(col("_t"), kTokens)))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        Dedup.shingleHash(col("col")).as("wh"))
  }
}
