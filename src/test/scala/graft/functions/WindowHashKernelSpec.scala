package graft.functions

import graft.SparkSuite
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Pins the window-hash kernel ([[WindowHashes]]) value-identical to the
  * declarative shinglesK → md5-hex → conv chain it replaced
  * ([[DeclarativeTwins.docWindowsDeclarative]]) — on real data at both
  * shipped k values (8 = the substring family default, 3 used by stores/tests)
  * and on planted edges (sub-k docs dropping out, repeated tokens,
  * empty tokens from leading whitespace, multi-byte). */
class WindowHashKernelSpec extends SparkSuite {

  import spark.implicits._

  private def toks(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("kernel == declarative on real data (sf0.001), k=8 and k=3") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(8, 3)) {
      val kernel = asSet(Dedup.docWindows(toks(docs), k))
      val decl = asSet(DeclarativeTwins.docWindowsDeclarative(toks(docs), k))
      assert(kernel.nonEmpty && kernel == decl, s"k=$k diverged")
    }
  }

  test("kernel == declarative on planted edges") {
    val rows = Seq(
      "",                         // 1 empty token: no windows at any k>=2
      "a b",                      // below k=3
      "a b c",                    // exactly one k=3 window
      "\ta b c",                  // leading tab: empty first token
      "a a a a a a a a a a",      // repeated tokens, repeated hashes
      "é Σ ΣΑ naïve 😀 x y z",    // multi-byte
      "the quick brown fox jumps over the lazy dog again and again")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (k <- Seq(3, 8)) {
      val kernel = asSet(Dedup.docWindows(toks(rows), k))
      val decl = asSet(DeclarativeTwins.docWindowsDeclarative(toks(rows), k))
      assert(kernel == decl, s"k=$k diverged on planted edges: " +
        s"kernel-only=${kernel -- decl}, decl-only=${decl -- kernel}")
    }
  }
}
