package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The PII kernel against its declarative reference: the five-rule
  * regexp_replace chain (Java's regex engine) must agree byte-for-byte
  * with the five-pass byte scanner on planted adversarial strings and on
  * generated corpus-like rows. Every planted string targets a specific
  * backtracking / boundary / rule-interaction edge the scanner
  * hand-rolls. */
class PiiExpressionsSpec extends SparkSuite {

  import spark.implicits._

  private val planted = Seq(
    "", "plain text no pii",
    // --- email backtracking edges
    "a@b.co.uk9 tail", "..a@b.cc", "x@y", "a@@b.cc", "a@b@c.de",
    "a@b.cde@f.gh", "a@b..x@c.de", "pre xxa@b.cc post",
    "é@b.cc unicode-local", "u%x+y_z.9@sub.do-main.org",
    "a@b.c single-letter-tld", "a@-.cc", "@nolocal.cc", "trail@dom.",
    // --- abutting-match resume edges (Matcher.find resumes at match
    // end regardless of the preceding byte — the run-head gate alone
    // under-redacts these; round-20 ADVICE regression)
    "a@b.cc+bob@d.ee", "a@b.cc9x@d.ee", "a@b.cc@d.ee abut-at",
    "a@b.cc-x@d.ee", "a@b.cc.x@d.ee dot-resume",
    "a@b.ccb@c.dd@e.ff triple-abut", "a@b.cc+ tail-local-no-second",
    // --- url edges
    "http://a.com?u=x@y.de order-of-rules", "https://x<y bracket-stop",
    "xhttp://a b embedded-start", "http:// nope empty-rest",
    "httpsx://a broken-scheme", "httpss://a double-s",
    "see https://h.io/p?q=1&r=2#f;.. and more", "HTTP://upper no-match",
    // --- ipv4 boundary edges
    // unicode neighbors: the declared \b is RE2's ASCII boundary, so é
    // adjacency DOES bound an IP — the Java chain renders it via
    // IpReJava's ASCII lookarounds (ByteScanFuzzSpec found the drift)
    "é1.2.3.4 unicode-prev", "1.2.3.4é trailing-unicode",
    "qé91.2.3.41.2.3.423 fuzz-repro",
    "1234.5.6.7 over-octet", "1.2.3.4.5 five-octets", "1.2.3.45a suffix",
    "a1.2.3.4 word-prev", "10.0.0.1 clean", "1.2.3.4", "_1.2.3.4 under",
    "x 999.999.999.999 in-range-of-regex", "1.2.3. trailing-dot",
    // --- phone edges
    "+1234567 min", "+123456 short", "+1234567890123456789 long-run",
    "call 555-123-4567 now", "1234-567-8901 mid-run-start",
    "123-456-78901 five-tail", "123-45-6789 short-mid", "+abc no-digits",
    "12-345-6789 short-head",
    // --- rule interaction
    "mail a@b.cc at http://a.cc/x?e=f@g.hh ip 1.2.3.4 tel +12345678 n 42",
    "<EMAIL> literal already-present 7",
    "+4915112345678901234 phone-then-num-tail")

  test("pii kernel equals the declarative regexp_replace chain " +
    "byte-for-byte on planted adversarial strings") {
    val df = planted.zipWithIndex.map(_.swap).toDF("id", "text")
    val rows = df.select(col("id"),
      PiiExpressions.redactPii(col("text")).as("fast"),
      DeclarativeTwins.redactPiiDeclarative(col("text")).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"redaction mismatch on <${planted(r.getInt(0))}>:\n" +
          s"  kernel: ${r.getString(1)}\n  regex:  ${r.getString(2)}")
    }
  }

  test("pii kernel equals the chain on generated corpus-like rows " +
    "(the synthesized suffix the oracle row uses, over varied ids)") {
    val df = spark.range(0, 500)
      .select(col("id").as("event_id"),
        concat(lit("{\"k\":"), col("id").cast("string"), lit("} mail u"),
          col("id").cast("string"), lit("@ex"),
          (col("id") % 7).cast("string"),
          lit(".com via http://h"), (col("id") % 5).cast("string"),
          lit(".io/p?q="), col("id").cast("string"),
          lit("&x=<y> ip "), (col("id") % 256).cast("string"), lit("."),
          ((col("id") * 7) % 256).cast("string"), lit("."),
          ((col("id") * 13) % 256).cast("string"), lit("."),
          (col("id") % 250).cast("string"), lit(" tel +49151"),
          (lit(1000000) + col("id") % 1000000).cast("string"),
          lit(" alt "), (lit(100) + col("id") % 900).cast("string"),
          lit("-"), (lit(100) + (col("id") * 3) % 900).cast("string"),
          lit("-"), (lit(1000) + col("id") % 9000).cast("string"),
          lit(" ref "), (col("id") * col("id")).cast("string"))
          .as("text"))
    val bad = df.select(
      PiiExpressions.redactPii(col("text")).as("fast"),
      DeclarativeTwins.redactPiiDeclarative(col("text")).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(bad.count() == 0L, s"mismatches: ${bad.take(3).mkString("; ")}")
  }

  test("each rule redacts its own class: one synthesized row carries " +
    "exactly one email, one url, one ip, two phones, and number runs") {
    val text = "u7@ex0.com http://h2.io/p?q=7&x=<y> 7.49.91.7 " +
      "+491511000007 107-121-1007 49"
    val red = Seq(Tuple1(text)).toDF("t")
      .select(PiiExpressions.redactPii(col("t"))).head().getString(0)
    // the URL charset stops at '<', so the '<y>' query remnant survives
    assert(red == "<EMAIL> <URL><y> <IP> <PHONE> <PHONE> <NUM>", red)
  }
}
