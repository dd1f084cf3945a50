package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Semantics and invariants of the deterministic sampling / packing
  * operators: hash-split stability under corpus growth, stratified quota
  * rates, prefix-sum packing bounds, and redaction. */
class SamplingSpec extends SparkSuite {

  import spark.implicits._

  private def corpus(n: Int) = (0 until n).map { i =>
    val lang = Seq("en", "zh", "de")(i % 3)
    (i.toLong, s"word$i text sample number item $i content piece", lang,
      s"src${i % 4}", 40L)
  }.toDF("doc_id", "text", "lang", "source", "n_chars")

  test("epoch repetition emits 3/2/1 copies by quality tier and one copy " +
    "for degenerate docs") {
    val df = Seq(
      // stopword-dense, normal word lengths, no punctuation -> high tier
      (0L, "the cat is on the mat and the dog is in the house with a bone"),
      (1L, "wxyz qrst mnop asdf ghjk zxcv bnml poiu ytre"), // no stopwords
      (2L, "")) // degenerate: NULL quality
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Sampling.epochRepeat(df).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val copies = r.groupBy(_._1).view.mapValues(_.length).toMap
    assert(copies(0L) == 3, s"high-quality doc copies: $r")
    assert(copies(2L) == 1) // NULL quality -> single epoch, no crash
    assert(copies(1L) < copies(0L))
    // epoch_copy enumerates 1..n_copies per doc
    assert(r.filter(_._1 == 0L).map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    r.foreach { case (_, n, ec) => assert(ec >= 1 && ec <= n) }
  }

  test("importance selection keeps target-like source docs and drops " +
    "docs sharing nothing with the target") {
    // doc 0 (doc_id % 17 == 0) IS the target split; doc 1 repeats its
    // vocabulary, docs 2-3 are alien filler that dilutes the source
    // distribution, so doc 1's grams are target-heavy relative to source
    val df = Seq(
      (0L, "formal prose about careful writing and formal prose style"),
      (1L, "formal prose about careful writing makes formal prose style"),
      (2L, "xx yy zz qq ww ee rr tt uu ii oo pp aa ss dd ff gg hh"),
      (3L, "zz qq ww ee rr tt uu ii oo pp aa ss dd ff gg hh xx yy"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Sampling.importanceSelect(df).collect()
      .map(x => x.getLong(0) -> x.getAs[Double]("imp_ratio")).toMap
    assert(r.contains(1L) && r(1L) > 1.0, s"target-like doc dropped: $r")
    assert(!r.contains(2L) && !r.contains(3L), s"alien docs kept: $r")
    assert(!r.contains(0L)) // target docs are never scored as source
  }

  test("importance selection survives an empty target split under ANSI " +
    "(NULL ratios, zero rows, no DIVIDE_BY_ZERO)") {
    // ids 1..3 only: no doc_id % 17 == 0 -> t_total is NULL-ish/0
    val df = Seq(
      (1L, "some ordinary words here"), (2L, "more ordinary words there"),
      (3L, "yet more ordinary words"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Sampling.importanceSelect(df).collect().isEmpty)
  }

  test("assignSplit is deterministic and stable under corpus growth") {
    val small = Sampling.assignSplit(corpus(200)).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val big = Sampling.assignSplit(corpus(400)).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    // every doc of the smaller corpus keeps its split in the bigger one —
    // the anti-leakage property rand()-based splitting cannot give
    assert(small.forall { case (id, s) => big(id) == s })
    // fractions roughly match 80/10/10 (48-bit hash, 400 docs: ±10pp slack)
    val frac = big.values.groupBy(identity).view.mapValues(_.size / 400.0)
    assert(frac("train") > 0.70 && frac("train") < 0.90, frac)
    assert(frac("val") > 0.03 && frac("test") > 0.03)
  }

  test("mixToWeights keeps the binding language in full and downsamples " +
    "the rest to the weight ratio") {
    // 100 docs x 8 tokens per lang -> ratios tokens/w: en 2T, zh 3.33T,
    // de 5T => en binds (rate 1.0), zh rate 0.6, de rate 0.4 exactly
    val r = Sampling.mixToWeights(corpus(300),
      Map("en" -> 0.5, "zh" -> 0.3), 0.2).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getAs[Double]("rate")))
    val byLang = r.groupBy(_._2)
    assert(byLang("en").length == 100) // binding language fully kept
    assert(byLang("en").forall(_._3 == 1.0))
    assert(byLang("zh").forall(_._3 == 0.6) && byLang("de").forall(_._3 == 0.4))
    // acceptance tracks the rate (48-bit hash, 100 docs: generous slack)
    assert(byLang("zh").length > 40 && byLang("zh").length < 80)
    assert(byLang("de").length > 25 && byLang("de").length < 60)
    // monotone-in-rate: halving de's weight halves its rate, and the
    // survivor set SHRINKS (hash ordering: a rate decrease only removes
    // docs, never swaps one for another)
    val tighter = Sampling.mixToWeights(corpus(300),
      Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.1), 0.2).collect()
      .filter(_.getString(1) == "de").map(_.getLong(0)).toSet
    val deBefore = byLang("de").map(_._1).toSet
    assert(tighter.subsetOf(deBefore) && tighter.size < deBefore.size)
  }

  test("shuffleOrder is a per-shard bijection, reproducible, and " +
    "epoch-independent") {
    val c = corpus(300)
    def run(epoch: Int) = Sampling.shuffleOrder(c, epoch)
      .orderBy("shard", "pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))) // shard,pos,doc
    val e1 = run(1)
    // every doc appears exactly once; within each shard, pos is 1..count
    assert(e1.map(_._3).sorted.toSeq == (0L until 300L))
    e1.groupBy(_._1).values.foreach { s =>
      assert(s.map(_._2).sorted.toSeq == (1L to s.length))
    }
    assert(run(1).toSeq == e1.toSeq) // same epoch -> identical permutation
    // a different epoch reorders: some doc sits at a different (shard,pos)
    val e2 = run(2).map(t => t._3 -> ((t._1, t._2))).toMap
    assert(e1.exists(t => e2(t._3) != ((t._1, t._2))))
  }

  test("split and stratified buckets are independent (different salts)") {
    val s = Sampling.assignSplit(corpus(300))
      .select(col("doc_id"), col("bucket").as("b1"))
    val t = Sampling.stratifiedSample(corpus(300),
      Map.empty, defaultPct = 100) // keep all: rate 100 never filters
      .select(col("doc_id"), col("bucket").as("b2"))
    val joined = s.join(t, "doc_id").where(col("b1") === col("b2")).count()
    // equal buckets should be ~1% coincidence, not systematic correlation
    assert(joined < 15, s"buckets collide on $joined of 300 docs")
  }

  test("stratifiedSample keeps ~rate% per stratum and only sampled rows") {
    val kept = Sampling.stratifiedSample(corpus(600),
      Map("en" -> 50, "zh" -> 30), defaultPct = 20).orderBy("doc_id").collect()
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    // 200 docs per lang; binomial 3σ ≈ ±0.10-ish slack per stratum
    assert(byLang("en") > 70 && byLang("en") < 130, byLang)
    assert(byLang("zh") > 35 && byLang("zh") < 85, byLang)
    assert(byLang("de") > 15 && byLang("de") < 65, byLang)
    // the kept set is reproducible: same call, same rows
    val again = Sampling.stratifiedSample(corpus(600),
      Map("en" -> 50, "zh" -> 30), defaultPct = 20).orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("packByTokenBudget: packs are contiguous and overflow by at most " +
    "one document") {
    val docsDf = (0 until 50).map { i =>
      // token counts 8, 16, 24, ... so packs fill at varying rates
      val nTok = 8 * (i % 5 + 1)
      (i.toLong, (1 to nTok).map(j => s"t$j").mkString(" "), "en", "src0", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val budget = 100L
    val packs = Sampling.packByTokenBudget(docsDf, budget)
      .orderBy("lang", "pack_id").collect()
    val ids = packs.map(_.getAs[Long]("pack_id")).toSeq
    // contiguous pack ids from 0 (prefix-sum bucketing can't skip a bucket
    // unless one doc alone overshoots a whole budget — none here)
    assert(ids == (0L until ids.length).toSeq, ids)
    // every pack's token total stays under budget + one max-sized doc
    assert(packs.forall(_.getAs[Long]("pack_tokens") <= budget + 40), packs.toSeq)
    // all docs land somewhere
    assert(packs.map(_.getAs[Long]("n_docs")).sum == 50)
  }

  test("redactNumbers replaces every digit run and counts them") {
    val df = Seq(
      (1L, """{"k": 69, "id": 12345}"""),
      (2L, "no digits here"),
      (3L, "a1b22c333")).toDF("id", "s")
    val r = df.select(col("id"),
        TextAnalysis.redactNumbers(col("s")).as("red"),
        TextAnalysis.numberRunCount(col("s")).as("n"))
      .orderBy("id").collect()
    assert(r(0).getString(1) == """{"k": <NUM>, "id": <NUM>}""" && r(0).getLong(2) == 2)
    assert(r(1).getString(1) == "no digits here" && r(1).getLong(2) == 0)
    assert(r(2).getString(1) == "a<NUM>b<NUM>c<NUM>" && r(2).getLong(2) == 3)
  }
}
