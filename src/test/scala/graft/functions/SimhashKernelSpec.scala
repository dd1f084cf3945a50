package graft.functions

import graft.SparkSuite
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Pins the map-side SimHash kernel ([[SimhashSig]]) bit-equal to the
  * declarative aggregation formulation it replaced
  * ([[DeclarativeTwins.simhashDeclarative]]) at both widths — on real
  * data and on planted tokenization edges (leading/trailing whitespace → empty
  * tokens, repeated tokens → count weighting, case folding, multi-byte,
  * empty text). */
class SimhashKernelSpec extends SparkSuite {

  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kernel == declarative aggregation on real data (sf0.001), both " +
    "widths") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(16, 64)) {
      val kernel = asMap(Dedup.simhash(docs, bits))
      val decl = asMap(DeclarativeTwins.simhashDeclarative(docs, bits))
      assert(kernel.nonEmpty && kernel == decl, s"width $bits diverged")
    }
  }

  test("kernel == declarative on planted tokenization edges") {
    val rows = Seq(
      "",                       // split("") = [""] — one empty token
      " ",                      // trim -> "" again
      "\ta",                    // leading tab survives trim: ["", "a"]
      "a\t",                    // trailing tab: ["a", ""]
      "a  b\t\nc",              // mixed runs collapse to one separator
      "A A a THE the",          // case folding + count weighting
      "x",                      // single token
      "é Σ ΣΑ naïve 😀",        // multi-byte + final-sigma lowercasing
      "the quick brown fox jumps over the lazy dog the the the",
      "1 2 3 4 5 6 7 8 9 10 11 12 13")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (bits <- Seq(16, 64)) {
      val kernel = asMap(Dedup.simhash(rows, bits))
      val decl = asMap(DeclarativeTwins.simhashDeclarative(rows, bits))
      assert(kernel == decl, s"width $bits diverged on planted edges: " +
        (kernel.keySet ++ decl.keySet).toSeq.sorted
          .filter(k => kernel.get(k) != decl.get(k))
          .map(k => s"doc $k kernel=${kernel.get(k)} decl=${decl.get(k)}")
          .mkString("; "))
    }
  }

  test("null text drops the row, matching the declarative explode") {
    val rows = Seq((0L, "a b"), (1L, null)).toDF("doc_id", "text")
    for (bits <- Seq(16, 64)) {
      assert(Dedup.simhash(rows, bits).count() == 1L)
      assert(DeclarativeTwins.simhashDeclarative(rows, bits).count() == 1L)
    }
  }
}
