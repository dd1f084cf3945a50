package graft.ops

import graft.{CacheScope, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the parameterized SimHash width: the 16-bit (oracle)
  * and 64-bit (production) paths must agree on every hamming-0
  * identical-document pair — equal token multisets hash to equal
  * signatures at ANY width, and the 4-chunk banding join must recall the
  * pair (pigeonhole at hamming 0 is every chunk equal). Wider signatures
  * may only REMOVE spurious pairs (fewer hash collisions), never drop a
  * true duplicate. */
class SimhashWidthPropertySpec extends SparkSuite {

  import spark.implicits._

  /** Corpus with planted exact-duplicate groups: each generated base doc
    * is emitted `copies` times (1–3) under consecutive ids; every id pair
    * within a group is an identical-doc (hamming-0) pair at any width. */
  private def corpusGen: Gen[(Seq[(Long, String)], Set[(Long, Long)])] =
    Gen.listOfN(12, for {
      ntok <- Gen.choose(3, 12)
      toks <- Gen.listOfN(ntok, Gen.oneOf(
        "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
      copies <- Gen.frequency(3 -> 1, 2 -> 2, 1 -> 3)
    } yield (toks.mkString(" "), copies)).map { bases =>
      var id = -1L
      val docs = bases.flatMap { case (text, copies) =>
        Seq.fill(copies) { id += 1; (id, text) }
      }
      val dupPairs = docs.groupBy(_._2).values.flatMap { g =>
        val ids = g.map(_._1).sorted
        for { a <- ids; b <- ids if a < b } yield (a, b)
      }.toSet
      (docs, dupPairs)
    }

  test("16-bit and 64-bit SimHash agree on hamming-0 identical-doc pairs") {
    for (rep <- 0 until 3) {
      val (docs, dupPairs) =
        corpusGen.pureApply(Gen.Parameters.default, Seed(9100L + rep))
      val df = docs.toDF("doc_id", "text")
      def hamming0(bits: Int): Set[(Long, Long)] = {
        val got = CacheScope.run(Dedup.simhashPairs(df, 3, bits)
          .where(col("hamming") === 0).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        assert(spark.sharedState.cacheManager.isEmpty)
        got
      }
      val h16 = hamming0(16)
      val h64 = hamming0(64)
      // every planted identical pair is hamming-0 at BOTH widths — the
      // agreement contract. (No subset relation holds between the widths'
      // NON-duplicate hamming-0 pairs: SimHash is a similarity hash, and
      // similar-but-distinct docs may tie under one hash family and not
      // the other.)
      assert(dupPairs.subsetOf(h16), s"rep=$rep: 16-bit missed ${dupPairs -- h16}")
      assert(dupPairs.subsetOf(h64), s"rep=$rep: 64-bit missed ${dupPairs -- h64}")
    }
  }

  test("64-bit width rejects invalid parameters and uses full-Long bits") {
    intercept[IllegalArgumentException](Dedup.simhash(
      Seq((0L, "a")).toDF("doc_id", "text"), 32))
    intercept[IllegalArgumentException](Dedup.simhashPairs(
      Seq((0L, "a")).toDF("doc_id", "text"), maxDist = 4))
    // a 64-bit signature should populate high bits (incl. possibly the
    // sign bit) — i.e. not be confined to the low 16-bit range for a
    // reasonably-sized vocabulary
    val df = (0 until 64).map(i => (i.toLong, s"tok$i uniq$i w$i"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, 64).collect().map(_.getLong(1))
    assert(sigs.exists(s => s < 0 || s > 0xFFFFL),
      "64-bit signatures never left the 16-bit range — width inert")
  }
}
