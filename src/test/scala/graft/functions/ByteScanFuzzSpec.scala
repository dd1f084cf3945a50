package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property fuzz for the byte-scan kernels: random COMPOSITIONS of
  * adversarial fragments must agree byte-for-byte with the declarative
  * Java-regex/replace chains. The planted specs pin known edges; this
  * spec hunts the unknown ones — the round-19 PII email-resume leak
  * was exactly a fragment COMPOSITION (two emails abutting) that no
  * planted string covered. Deterministic seeds: failures reproduce. */
class ByteScanFuzzSpec extends SparkSuite {

  import spark.implicits._

  private def compositions(fragments: Seq[String], n: Int,
                           seed: Long): Seq[String] = {
    val gen = Gen.listOfN(n,
      for {
        k <- Gen.choose(0, 24)
        parts <- Gen.listOfN(k, Gen.oneOf(fragments))
      } yield parts.mkString)
    gen.pureApply(Gen.Parameters.default, Seed(seed))
  }

  private def assertParity(rows: Seq[String], fast: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           slow: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
    val df = rows.zipWithIndex.map(_.swap).toDF("id", "text")
    val bad = df.select(col("id"), col("text"),
      fast(col("text")).as("fast"), slow(col("text")).as("slow"))
      .where(col("fast") =!= col("slow"))
      .collect()
    assert(bad.isEmpty, bad.take(3).map(r =>
      s"input <${r.getString(1)}>:\n  kernel: ${r.getString(2)}\n" +
        s"  chain:  ${r.getString(3)}").mkString("\n"))
  }

  test("markup kernel == declarative chain on 600 random fragment " +
    "compositions (blocks, tags, comments, entities, whitespace, " +
    "multi-byte)") {
    val fragments = Seq(
      "<script", "<script>", "</script>", "<style>", "</style>",
      "<!--", "-->", "<", ">", "<p>", "</p>", "<br/>", "<b x=1>",
      "&", "&lt;", "&gt;", "&amp;", "&quot;", "&apos;", "&nbsp;",
      "&amp", "lt;", ";", " ", "  ", "\t", "\n", "\f\r",
      "a", "word", "x=1", "é", "😀", "scriptfoo", "script")
    assertParity(compositions(fragments, 600, 0xFACEL),
      MarkupExpressions.extractMarkup,
      DeclarativeTwins.extractMarkupDeclarative)
  }

  test("pii kernel == declarative chain on 600 random fragment " +
    "compositions (emails, urls, ips, phones, digit runs, separators)") {
    val fragments = Seq(
      "a@b.cc", "bob@d.ee", "@", ".", "+", "-", "_", "%", "cc", "x",
      "1", "23", "456", "1.2.3.4", "999.1.2.3", "555-123-4567",
      "+4915112345678", "http://h.io/p?", "https://", "http://", "://",
      " ", "\n", "q", "word", "é", ".com", "@ex.com", "a@", "9")
    assertParity(compositions(fragments, 600, 0xBEEFL),
      PiiExpressions.redactPii,
      DeclarativeTwins.redactPiiDeclarative)
  }

  test("url kernel == declarative chain on 600 random fragment " +
    "compositions (schemes, ports, queries, fragments, brackets, " +
    "multi-byte)") {
    val fragments = Seq(
      "http://", "HTTPS://", "hTtP://", "ftp://", "://", ":/", "//",
      "ex.com", "EX.COM", "Sub.Do-Main.org", "[::1]", "É.com", "xé",
      ":80", ":443", ":8080", ":80x", ":4430", ":", "@user:pw",
      "/", "/Path", "/p/q", "?", "&", "=", "?a=1", "?b=2&a=1", "a=",
      "b=2", "&&", "c", "#", "#Frag", "#a#b", " ", "é", "😀", "+x.",
      "h+t.p-2://", "9http://")
    assertParity(compositions(fragments, 600, 0xCAFEL),
      graft.functions.UrlExpressions.canonicalizeUrl,
      DeclarativeTwins.canonicalizeUrlDeclarative)
  }
}
