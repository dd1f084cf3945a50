package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Row

/** [[LanguageModel]] — bigram Stupid-Backoff LM scoring: hand-computed
  * fixture scores, the held-out OOV/backoff paths, the overflow-safe
  * scaled division at near-Long.MAX counts, and the lmcounts store
  * round-trip. */
class LanguageModelSpec extends SparkSuite {

  import spark.implicits._

  private def fixture = Seq(
    (1L, "a b a b c"),
    (2L, "a b x")).toDF("doc_id", "text")

  test("train==score fixture: hand-computed backoff scores") {
    // N=8; c1: a=3 b=3 c=1 x=1; c2: (a,b)=3 (b,a)=1 (b,c)=1 (b,x)=1
    // doc1: first a = 3e6 div 8 = 375000; (a,b) hit x2 = 1000000 each;
    //       (b,a) = (b,c) = 1e6 div 3 = 333333
    //       sum 3041666 over 5 tokens -> 608333
    // doc2: 375000 + 1000000 + 333333 = 1708333 over 3 -> 569444
    val out = LanguageModel.scoreQuery(fixture,
      LanguageModel.countsFrame(fixture)).orderBy("doc_id").collect()
    assert(out.toSeq == Seq(
      Row(1L, 5L, 4L, 0L, 608333L),
      Row(2L, 3L, 2L, 0L, 569444L)))
  }

  test("held-out scoring: unseen bigram takes the backoff path, OOV " +
    "token scores zero and is counted") {
    // train doc1 only: N=5; c1: a=2 b=2 c=1; c2: (a,b)=2 (b,a)=1 (b,c)=1
    // score doc2 "a b x": first a = 2e6 div 5 = 400000; (a,b) hit = 1e6;
    //   (b,x): bigram unseen AND x OOV -> backoff over c1(x)=0 -> 0
    val out = LanguageModel.scoreQuery(
      fixture.where($"doc_id" === 2L),
      LanguageModel.countsFrame(fixture.where($"doc_id" === 1L)))
      .collect()
    assert(out.toSeq == Seq(Row(2L, 3L, 1L, 1L, 466666L)))
  }

  test("held-out seen-unigram backoff: alpha = 0.4 applied to the " +
    "unigram score") {
    // train "a b. a c"-style corpus so 'c' is in-vocab but bigram (b,c)
    // unseen: train doc "a b a c": N=4, c1: a=2 b=1 c=1,
    // c2: (a,b)=1 (b,a)=1 (a,c)=1. Score "b c": first b = 1e6 div 4 =
    // 250000; (b,c) unseen, c in vocab -> 2*((1e6 div 4)) div 5 =
    // 2*250000 div 5 = 100000. sum 350000 over 2 -> 175000.
    val train = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val eval = Seq((9L, "b c")).toDF("doc_id", "text")
    val out = LanguageModel.scoreQuery(eval,
      LanguageModel.countsFrame(train)).collect()
    assert(out.toSeq == Seq(Row(9L, 2L, 0L, 0L, 175000L)))
  }

  test("scaled division is exact at near-Long.MAX counts (the 700 TB " +
    "bound): injected counts where c*Scale would overflow a naive long") {
    // c1(w) = 9.2e12 occurrences, N = 2e13 tokens: naive 9.2e12 * 1e6
    // = 9.2e18 float-rounds / a 9.3e12 count would wrap; the q/r
    // decomposition stays exact. Expected (9.2e12 * 1e6) div 2e13 =
    // 460000 per-million.
    val docs = Seq((1L, "w")).toDF("doc_id", "text")
    val counts = Seq(
      ("u", Option("w"), Option.empty[String], 9200000000000L),
      ("t", Option.empty[String], Option.empty[String], 20000000000000L))
      .toDF("kind", "w1", "w2", "cnt")
    val out = LanguageModel.scoreQuery(docs, counts).collect()
    assert(out.toSeq == Seq(Row(1L, 1L, 0L, 0L, 460000L)))
  }

  test("lmcounts store round-trip: stored model scores identically to " +
    "the freshly-trained one") {
    val dir = tmpDir("lmsrc")
    fixture.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val root = tmpDir("lmstore")
    val direct = LanguageModel.scoreQuery(docs,
      LanguageModel.countsFrame(docs)).orderBy("doc_id").collect().toSeq
    val stored = LanguageModel.scoreQuery(docs,
      LanguageModel.countsStore(spark, docs, s"$dir/docs.parquet",
        Some(root))).orderBy("doc_id").collect().toSeq
    assert(stored == direct)
    // and the store is served, not rebuilt: a second call must read the
    // same directory (content-identical output either way; the directory
    // existence is the cheap structural check)
    val entries = FingerprintStore.list(spark, Some(root))
      .filter(_.tag == "lmcounts")
    assert(entries.size == 1 && entries.head.complete)
  }
}
