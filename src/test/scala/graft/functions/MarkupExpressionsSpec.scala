package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The markup-extraction kernel against its declarative reference: the
  * regexp_replace + literal-replace chain (Java's regex engine) must
  * agree byte-for-byte with the byte-scan passes on planted adversarial
  * strings and on generated crawl-like rows. Every planted string
  * targets a specific block/boundary/entity/ordering edge the scanner
  * hand-rolls. */
class MarkupExpressionsSpec extends SparkSuite {

  import spark.implicits._

  private val planted = Seq(
    "", "no markup at all", "   ",
    // --- script/style block edges
    "<script>a=1&&b<2;</script>rest", "<script src=x>b</script> tail",
    "<scriptfoo>word-boundary keeps</scriptfoo>", "<script>unclosed",
    // é is NOT an ASCII word char: the declared (RE2) \b holds, so this
    // OPENS a block on both sides (Java chain via ScriptReJava)
    "<scripté x>unicode-after-name</script>tail",
    "<script</script>close-in-attrs</script>tail",
    "<script>first</script>mid<script>second</script>end",
    "<style>p{color:red}</style>x", "<style media=all>a</style>",
    "<SCRIPT>upper is tag-stripped not block-stripped</SCRIPT>",
    "<script><script></script>inner-close-wins</script>",
    "<script\n src=x>\nmulti\nline\n</script>after",
    // --- comment edges
    "<!-- c -->y", "<!---->z", "<!----->w", "<!-- unclosed",
    "a<!-- x --><!-- y -->b abutting",
    "<!-- <script>not a block inside comment</script> -->k",
    // --- tag edges
    "<p>para</p>", "tag<br>break", "< b > loose-bracket",
    "a < b and c > d", "<>empty</>", "<unclosed-tag",
    "<p\nclass=x>attr-newline</p>",
    // --- entity edges (order: lt gt quot apos nbsp AMP LAST)
    "&amp;lt; no-double-decode", "&lt;b&gt;decoded-tag-stays&lt;/b&gt;",
    "&quot;q&quot; &apos;a&apos; x&nbsp;y", "&unknown; stays",
    "&amp;amp; once-only",
    // --- whitespace + trim edges
    "a\t\tb\n c ", "  lead and trail  ", "a\fvtab-ff\r\nb",
    // --- interaction: decode AFTER tags, blocks BEFORE tags
    "<p>x &amp; y</p><script>z &amp; w</script>",
    "pre<style>s</style><!-- c --><h1>T</h1>&nbsp;post",
    // --- multi-byte pass-through
    "é<b>ü</b> — emdash & high-plane 😀 ok")

  test("markup kernel equals the declarative regex/replace chain " +
    "byte-for-byte on planted adversarial strings") {
    val df = planted.zipWithIndex.map(_.swap).toDF("id", "text")
    val rows = df.select(col("id"),
      MarkupExpressions.extractMarkup(col("text")).as("fast"),
      DeclarativeTwins.extractMarkupDeclarative(col("text")).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"extraction mismatch on <${planted(r.getInt(0))}>:\n" +
          s"  kernel: ${r.getString(1)}\n  chain:  ${r.getString(2)}")
    }
  }

  test("markup kernel equals the chain on generated crawl-like rows " +
    "(the synthesized wrapper the oracle row uses, over varied ids)") {
    // THE wrapper the oracle row runs (SamplingRows.markupWrapped), not a
    // re-synthesis — a wrapper change automatically re-exercises this
    // parity test against the kernel
    val df = spark.range(0, 500)
      .select(col("id"),
        graft.registry.SamplingRows.markupWrapped(col("id"),
          concat(lit("body "), (col("id") * 7).cast("string"))).as("text"))
    val bad = df.select(
      MarkupExpressions.extractMarkup(col("text")).as("fast"),
      DeclarativeTwins.extractMarkupDeclarative(col("text")).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(bad.count() == 0L, s"mismatches: ${bad.take(3).mkString("; ")}")
  }

  test("extraction yields the expected main text on one synthesized page") {
    val page = "<html><head><script src=\"a.js\">var x=1 && y<2;</script>" +
      "<style>p{c}</style></head><body><!-- note --><h1>Title</h1>\n" +
      "<p>hello world &amp; more &lt;b&gt;bold&lt;/b&gt;&nbsp;end</p>" +
      "</body></html>"
    val got = Seq(Tuple1(page)).toDF("t")
      .select(MarkupExpressions.extractMarkup(col("t"))).head().getString(0)
    assert(got == "Title hello world & more <b>bold</b> end", got)
  }
}
