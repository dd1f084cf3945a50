package graft.ops

import graft.{CacheScope, SparkSuite}

/** The unigram tokenizer's JVM pieces: Viterbi semantics (objective,
  * tie-break, coverage), end-to-end training behavior on a corpus with
  * a known common word, and the store round-trip. */
class UnigramSpec extends SparkSuite {

  import spark.implicits._

  private def scores(m: (String, Long)*)
      : java.util.HashMap[String, java.lang.Long] = {
    val h = new java.util.HashMap[String, java.lang.Long]()
    m.foreach { case (p, s) => h.put(p, Long.box(s)) }
    h
  }

  test("segment maximizes total score and prefers the longest piece on " +
    "ties; single chars guarantee coverage") {
    // "abcd": piece "abcd" (score 5) beats a+b+c+d (4*2 - 4*C) at C=1:
    // 5-1=4 vs 8-4=4 -> TIE; longest piece wins
    val s1 = scores("a" -> 2, "b" -> 2, "c" -> 2, "d" -> 2, "abcd" -> 5)
    assert(Unigram.segment("abcd", s1, 1) == List("abcd"))
    // higher-scoring split beats the long piece when strictly better
    val s2 = scores("a" -> 2, "b" -> 2, "c" -> 2, "d" -> 2, "ab" -> 9,
      "cd" -> 9, "abcd" -> 5)
    assert(Unigram.segment("abcd", s2, 1) == List("ab", "cd"))
    // unknown multi-char substrings fall back to chars
    val s3 = scores("x" -> 1, "y" -> 1)
    assert(Unigram.segment("xyx", s3, 0) == List("x", "y", "x"))
    // per-position tie between equal-length alternatives resolves by
    // the DP's left-to-right structure deterministically
    assert(Unigram.segment("", s3, 0) == Nil)
    // a char ABSENT from the vocab (stored vocab on a newer corpus):
    // must segment at the smoothed zero score, never strand the DP
    assert(Unigram.segment("xqz", s3, 0) == List("x", "q", "z"))
  }

  test("bitLog is floor(log2(c + 1)) — the DuckDB length(bin(c+1))-1 " +
    "contract") {
    assert(Unigram.bitLog(0) == 0) // bin(1) = '1'
    assert(Unigram.bitLog(1) == 1) // bin(2) = '10'
    assert(Unigram.bitLog(2) == 1)
    assert(Unigram.bitLog(3) == 2)
    assert(Unigram.bitLog(7) == 3)
    assert(Unigram.bitLog((1L << 40) - 1) == 40)
  }

  test("train keeps every corpus char, learns the dominant word as a " +
    "piece, and the trained vocab segments it as one token") {
    val docs = (0L until 60L).map(i =>
      (i, s"spark spark spark row$i"))
      .toDF("doc_id", "text")
    val vocab = Unigram.train(docs)
    // coverage: every char of the corpus present
    "sparkrow0123456789".foreach(ch =>
      assert(vocab.contains(ch.toString), s"missing char $ch"))
    // 'park'/'spar' (4-gram of the 3x-repeated word) must survive
    assert(vocab.keys.exists(p => p.length == 4 && "spark".contains(p)),
      s"no 4-gram of the dominant word in ${vocab.keys.toSeq.sorted}")
    // the score broadcast is destroyed when the CacheScope ends
    // (emRound's broadcasts are destroyed internally after their collect);
    // a destroyed broadcast fails any further use of the plan
    val (countsDf, counts) = CacheScope.run {
      val countsDf = Unigram.tokenCounts(docs, vocab)
      (countsDf, countsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    intercept[org.apache.spark.SparkException](countsDf.collect())
    assert(counts.size == 60)
    // 'spark' (5 chars, pieces <= 4) segments into exactly 2 pieces
    // under the trained vocab; row$i into a handful — the count per doc
    // is far below character count and >= word count
    counts.values.foreach { n =>
      assert(n >= 4 && n <= 14, s"implausible unigram token count $n")
    }
  }

  test("vocabStore warm read returns the fresh-trained vocab unchanged " +
    "(integer-exact training makes the store bit-identical)") {
    val src = tmpDir("unigram-store")
    val docs = (0L until 30L).map(i => (i, s"alpha beta gamma g$i"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$src/documents.parquet")
    val stored = spark.read.parquet(s"$src/documents.parquet")
    val root = Some(s"$src/store")
    val fresh = Unigram.train(stored)
    val cold = Unigram.vocabStore(spark, stored,
      s"$src/documents.parquet", root)
    val warm = Unigram.vocabStore(spark, stored,
      s"$src/documents.parquet", root)
    assert(cold == fresh, "cold store build must equal a fresh train")
    assert(warm == fresh, "warm store read must equal a fresh train")
  }
}
