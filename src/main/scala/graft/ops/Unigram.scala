package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the OTHER half
  * of the subword-tokenizer space next to [[Bpe]]: BPE grows a vocab
  * bottom-up by merging; the unigram model starts from an over-complete
  * substring vocabulary and lets EM + pruning keep the pieces that
  * explain the corpus, segmenting each word by Viterbi under per-piece
  * log-probabilities.
  *
  * Determinism by construction (the [[LanguageModel]] doctrine): true
  * unigram EM sums float log-probs inside a distributed pass — last-ulp
  * engine divergence exactly where the oracle gate needs bit equality.
  * Here the log-probability is BIT-QUANTIZED: score(c) = ⌊log₂(c + 1)⌋
  * (an integer both engines derive exactly — binary digit count), the
  * corpus normalizer C = ⌊log₂(T + 1)⌋ rides as a per-piece penalty, and
  * Viterbi maximizes Σ(score − C) with a fixed tie-break (highest value,
  * then LONGEST piece — smallest split start). Every quantity in
  * training is a long, so the DuckDB oracle replays seed → 2 EM rounds →
  * prune → segmentation digit-for-digit, including every tie.
  *
  * PRECONDITION of the digit-for-digit replay: text within the Basic
  * Multilingual Plane. Piece positions/lengths are UTF-16 code units
  * here but code points in the oracle's substr/len — identical for all
  * 1–3-byte UTF-8 (every BMP char), divergent only for
  * supplementary-plane characters (emoji), whose "pieces" this side
  * would split at surrogate boundaries.
  *
  * Scale shape (100 TB): the corpus collapses to the DISTINCT-WORD
  * frequency table after one groupBy (natural-language vocab is
  * ~10⁷ ≪ corpus); seeding is one substring explode + groupBy + a
  * BOUNDED top-S collect; each EM round is one map-side Viterbi pass
  * over distinct words (vocab + scores broadcast — chars + ≤ SeedMulti
  * pieces, kilobytes) and one piece-count groupBy collected at vocab
  * size. Token counting is map-only: the final vocab broadcasts and
  * each doc segments in its scan partition.
  */
object Unigram {

  /** Longest candidate piece (chars). */
  val MaxPieceLen = 4
  /** Seed vocabulary: top-S multi-char substrings by weighted count. */
  val SeedMulti = 512
  /** EM rounds (each: Viterbi re-segmentation + piece recount). */
  val Rounds = 2
  /** Final vocabulary: all corpus chars + top-V surviving multis. */
  val FinalMulti = 256

  /** ⌊log₂(c + 1)⌋ — the bit-quantized log both engines share
    * (DuckDB: length(bin(c + 1)) − 1). */
  private[ops] def bitLog(c: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(c + 1)

  /** (word, freq) over the corpus: whitespace tokens, empties dropped,
    * one groupBy — the corpus-to-vocabulary collapse. */
  private[ops] def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Viterbi segmentation of one word under (piece → score) with
    * normalizer penalty `c`: maximize Σ(score − c); ties prefer the
    * LONGEST piece (smallest split start) — the oracle's CASE order.
    *
    * Coverage: a single char ABSENT from the vocab still segments, at
    * the +1-smoothed zero-count score (⌊log₂(0+1)⌋ = 0) — the case a
    * stored vocab applied to a NEWER corpus hits (an unseen character
    * must not strand the DP; an unreachable position would otherwise
    * loop the reconstruction forever). In-corpus training/consumption
    * never exercises it (every corpus char is seeded), so the oracle
    * replay is untouched. */
  private[ops] def segment(w: String,
                           score: java.util.HashMap[String, java.lang.Long],
                           c: Long): List[String] = {
    val n = w.length
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // chosen piece length at j
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var bestL = 0
      var l = math.min(MaxPieceLen, j)
      while (l >= 1) { // longest first: ties keep the first (longest)
        val s0 = score.get(w.substring(j - l, j))
        // unseen single char: smoothed zero-count score (coverage)
        val known = s0 != null || l == 1
        val s: Long = if (s0 != null) s0.longValue() else 0L
        if (known && dp(j - l) != Long.MinValue) {
          val v = dp(j - l) + s - c
          if (v > best) { best = v; bestL = l }
        }
        l -= 1
      }
      dp(j) = best
      back(j) = bestL
      j += 1
    }
    var out = List.empty[String]
    var k = n
    while (k > 0) {
      out = w.substring(k - back(k), k) :: out
      k -= back(k)
    }
    out
  }

  /** One EM round: broadcast (vocab, scores), Viterbi every distinct
    * word map-side, recount pieces (freq-weighted) with one groupBy,
    * collect at vocab size. Returns the new (piece → count) with all
    * chars kept (coverage) and zero-count multis dropped. */
  private def emRound(words: DataFrame, vocab: Map[String, Long])
      : Map[String, Long] = {
    val spark = words.sparkSession
    import spark.implicits._
    val t = vocab.valuesIterator.sum
    val c = bitLog(t)
    // java.lang.Long values: a scala.Long-valued java map unboxes a
    // missing key's null to 0, making every piece silently "known" at
    // score 0 — the null check must see real nulls
    val scores =
      new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (p, cnt) => scores.put(p, Long.box(bitLog(cnt))) }
    val bc = spark.sparkContext.broadcast(scores)
    val used =
      try words.as[(String, Long)].mapPartitions { it =>
        val sc = bc.value
        it.flatMap { case (w, f) =>
          segment(w, sc, c).map(p => (p, f))
        }
      }.toDF("p", "f").groupBy("p").agg(sum("f").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the collect is the only action under this broadcast — destroy
      // immediately so repeated train() calls (streaming foreachBatch,
      // pipeline loops) don't accumulate one dead broadcast per round
      finally bc.destroy()
    vocab.keysIterator.filter(_.length == 1)
      .map(ch => ch -> used.getOrElse(ch, 0L)).toMap ++
      used.filter { case (p, cnt) => p.length >= 2 && cnt > 0 }
  }

  /** Train the vocabulary: seed (all chars + top-[[SeedMulti]]
    * substrings by freq-weighted occurrence count), [[Rounds]] EM
    * rounds, prune to chars + top-[[FinalMulti]] multis. Returns
    * piece → final count, driver-bounded (≤ charset + SeedMulti). */
  def train(docs: DataFrame): Map[String, Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFreqs(docs).cache()
    val seed = words.as[(String, Long)].flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(MaxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("p", "f").groupBy("p").agg(sum("f").as("cnt"))
    val chars = seed.where(length(col("p")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val multi0 = seed.where(length(col("p")) >= 2)
      .orderBy(col("cnt").desc, col("p")).limit(SeedMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var vocab = chars ++ multi0
    (1 to Rounds).foreach(_ => vocab = emRound(words, vocab))
    words.unpersist()
    // final-prune tie-break in UTF-8 BINARY order — the ordering BOTH
    // engines use elsewhere (Spark's orderBy on the seed top-S, DuckDB's
    // ORDER BY p): Java String.compareTo is UTF-16 code-unit order,
    // which disagrees for BMP chars >= U+E000 vs supplementary pieces
    // and could select a different top-256 set at a count tie. (Piece
    // POSITIONS remain UTF-16 code units on this side — corpora with
    // supplementary-plane characters are outside the replay contract,
    // documented on the object.)
    val utf8Order = new Ordering[String] {
      def compare(a: String, b: String): Int = java.util.Arrays
        .compareUnsigned(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val multiF = vocab.toSeq.filter(_._1.length >= 2)
      .sortBy { case (p, cnt) => (-cnt, p) }(
        Ordering.Tuple2(Ordering.Long, utf8Order)).take(FinalMulti)
    vocab.filter(_._1.length == 1) ++ multiF
  }

  /** The trained vocab as an ordered DataFrame row set (piece, cnt). */
  def vocabDf(spark: SparkSession, vocab: Map[String, Long]): DataFrame = {
    import spark.implicits._
    vocab.toSeq.sortBy(_._1).toDF("piece", "cnt")
      .select(col("piece"), col("cnt").cast("long").as("cnt"))
  }

  /** Per-document unigram token counts under a trained vocab — MAP-ONLY:
    * the vocab broadcasts, each doc tokenizes and Viterbi-segments in
    * its scan partition; nothing but (doc_id, count) leaves the scan.
    * The score broadcast is destroyed when the enclosing
    * [[graft.CacheScope]] ends. */
  def tokenCounts(docs: DataFrame, vocab: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = vocab.valuesIterator.sum
    val c = bitLog(t)
    val scores =
      new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (p, cnt) => scores.put(p, Long.box(bitLog(cnt))) }
    val bc = spark.sparkContext.broadcast(scores)
    CacheScope.onRelease(bc.destroy())
    // tokenization stays the Catalyst expression (identical semantics
    // to wordFreqs/the oracle — Java String.trim/toLowerCase differ on
    // edge inputs); only the segmentation is JVM code
    val counted = docs.select(col("doc_id").cast("long"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val sc = bc.value
        it.map { case (id, toks0) =>
          // NULL text tokenizes to a null array; degenerate docs count 0
          // (the oracle's LEFT JOIN + COALESCE emits the same 0 row)
          val toks = Option(toks0).getOrElse(Seq.empty)
          var n = 0L
          toks.foreach(w => if (w.nonEmpty) n += segment(w, sc, c).length)
          (id, n)
        }
      }
    counted.toDF("doc_id", "n_tokens").orderBy("doc_id")
  }

  /** Build-once/score-many vocabulary through [[FingerprintStore]] (the
    * bpemerges precedent): one (piece, cnt) row per vocab entry, keyed
    * by the corpus fingerprint + every training dial. A warm call reads
    * ≤ charset + [[FinalMulti]] parquet rows and runs ZERO training
    * jobs; training is integer-exact, so the stored vocab segments
    * identically to a fresh train. */
  def vocabStore(spark: SparkSession, docs: DataFrame, sourcePath: String,
                 storeRoot: Option[String] = None): Map[String, Long] = {
    val stored = FingerprintStore.getOrBuild(spark, sourcePath,
      "unigramvocab",
      s"v1-l$MaxPieceLen-s$SeedMulti-r$Rounds-v$FinalMulti-bitlog",
      storeRoot) {
      vocabDf(spark, train(docs)).coalesce(1) // ≤ ~800 rows: one file
    }
    stored.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
