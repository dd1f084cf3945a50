package graft.functions

import graft.SparkSuite
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Pins the map-side MinHash kernel ([[MinhashSig]]) value-identical to
  * the declarative explode + min-aggregation formulation it replaced
  * ([[DeclarativeTwins.minhashSignatureDeclarative]]) at both shipped
  * hash counts (8 = the default, 16 = `dedup_minhash_wide`'s) — on real
  * data and on
  * planted tokenization edges (leading/trailing whitespace → empty
  * tokens, sub-3-token docs dropping out, repeated shingles, case
  * folding, multi-byte). */
class MinhashKernelSpec extends SparkSuite {

  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame,
                    k: Int): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap

  test("kernel == declarative aggregation on real data (sf0.001), k=8 " +
    "and k=16") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(8, 16)) {
      val kernel = asMap(Dedup.minhashSignature(docs, k), k)
      val decl = asMap(DeclarativeTwins.minhashSignatureDeclarative(docs, k), k)
      assert(kernel.nonEmpty && kernel == decl, s"k=$k diverged")
    }
  }

  test("kernel == declarative on planted tokenization edges") {
    val rows = Seq(
      "",                       // [""] — 1 token, no shingles: row drops
      " ",                      // trim -> "" again
      "a b",                    // 2 tokens: row drops
      "a b c",                  // exactly one shingle
      "\ta b",                  // leading tab: ["", "a", "b"] — 3 tokens!
      "a b\t",                  // trailing tab: ["a", "b", ""]
      "a  b\t\nc d",            // mixed separator runs
      "A A a THE the the",      // case folding + repeated shingles
      "é Σ ΣΑ naïve 😀",        // multi-byte + final-sigma lowercasing
      "the quick brown fox jumps over the lazy dog the the the",
      "1 2 3 4 5 6 7 8 9 10 11 12 13")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (k <- Seq(8, 16)) {
      val kernel = asMap(Dedup.minhashSignature(rows, k), k)
      val decl = asMap(DeclarativeTwins.minhashSignatureDeclarative(rows, k), k)
      assert(kernel == decl, s"k=$k diverged on planted edges: " +
        (kernel.keySet ++ decl.keySet).toSeq.sorted
          .filter(d => kernel.get(d) != decl.get(d))
          .map(d => s"doc $d kernel=${kernel.get(d)} decl=${decl.get(d)}")
          .mkString("; "))
    }
  }

  test("null text drops the row, matching the declarative explode") {
    val rows = Seq((0L, "a b c"), (1L, null)).toDF("doc_id", "text")
    assert(Dedup.minhashSignature(rows, 8).count() == 1L)
    assert(DeclarativeTwins.minhashSignatureDeclarative(rows, 8).count() == 1L)
  }
}
