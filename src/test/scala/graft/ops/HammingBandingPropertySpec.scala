package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{CacheScope, SparkSuite}

/** Property tests for the banded Hamming pairing
  * ([[Dedup.hammingPairsFromSig]], [[Dedup.crossHammingPairs]]) against
  * brute force over random signature tables: at widths 16 and 64, with
  * and without a `modality` key column, and at every `maxDist` the
  * 4-chunk banding supports (0..3), the banded join must emit exactly
  * the pairs an all-pairs scan finds — the pigeonhole completeness the
  * banding claims, plus no duplicate and no out-of-key pair. Signatures
  * are planted as clusters (a base signature with 0–4 random bit flips
  * per member), so every distance 0..4 occurs, exact repeats included. */
class HammingBandingPropertySpec extends SparkSuite {

  import spark.implicits._

  private val modalities = Seq("image", "audio")

  /** (doc_id, modality, simhash) rows: `n` members drawn around 4 base
    * signatures of the given width, ids from `idBase`. */
  private def sigGen(bits: Int, n: Int,
                     idBase: Long): Gen[Seq[(Long, String, Long)]] = {
    val sigOf = if (bits == 64) Gen.long else Gen.choose(0L, 0xFFFFL)
    for {
      bases <- Gen.listOfN(4, sigOf)
      members <- Gen.listOfN(n, for {
        b <- Gen.oneOf(bases)
        flips <- Gen.choose(0, 4).flatMap(k =>
          Gen.listOfN(k, Gen.choose(0, bits - 1)))
        m <- Gen.oneOf(modalities)
      } yield (m, flips.foldLeft(b)((s, j) => s ^ (1L << j))))
    } yield members.zipWithIndex.map { case ((m, s), i) =>
      (idBase + i, m, s)
    }
  }

  private def toDf(rows: Seq[(Long, String, Long)]): DataFrame =
    rows.toDF("doc_id", "modality", "simhash")

  private def dist(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b)

  /** Output rows as (key, d1, d2, hamming), key "" when unkeyed; a sorted
    * Seq so a duplicated row fails the compare. */
  private def rowsOf(df: => DataFrame, keyed: Boolean): Seq[(String, Long, Long, Long)] =
    CacheScope.run(df.collect().toSeq.map { r =>
      if (keyed) (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      else ("", r.getLong(0), r.getLong(1), r.getLong(2))
    }).sorted

  private val cases = for {
    bits <- Seq(16, 64); keyed <- Seq(false, true)
  } yield (bits, keyed)

  test("hammingPairsFromSig equals brute-force all-pairs within maxDist " +
    "and key, d1 < d2") {
    for (((bits, keyed), c) <- cases.zipWithIndex) {
      val sigs = sigGen(bits, 24, 0L)
        .pureApply(Gen.Parameters.default, Seed(4400L + c))
      val keys = if (keyed) Seq("modality") else Nil
      val sig = if (keyed) toDf(sigs) else toDf(sigs).drop("modality")
      for (maxDist <- 0 to 3) {
        val want = (for {
          (d1, m1, s1) <- sigs; (d2, m2, s2) <- sigs
          if d1 < d2 && (!keyed || m1 == m2) && dist(s1, s2) <= maxDist
        } yield (if (keyed) m1 else "", d1, d2, dist(s1, s2))).sorted
        val got = rowsOf(
          Dedup.hammingPairsFromSig(sig, bits, maxDist, keys), keyed)
        assert(got == want, s"bits=$bits keyed=$keyed maxDist=$maxDist")
        assert(spark.sharedState.cacheManager.isEmpty)
      }
    }
  }

  test("crossHammingPairs equals brute-force old x new pairs within " +
    "maxDist and key, d1 = old") {
    for (((bits, keyed), c) <- cases.zipWithIndex) {
      val params = Gen.Parameters.default
      val old = sigGen(bits, 16, 0L).pureApply(params, Seed(4500L + c))
      // the new side draws around the old side's clusters plus fresh ones
      val fresh = sigGen(bits, 8, 1000L).pureApply(params, Seed(4600L + c))
      val near = old.take(8).zipWithIndex.map { case ((_, m, s), i) =>
        (2000L + i, m, s ^ (1L << (i % bits)) ^ (if (i % 3 == 0) 0L else 2L))
      }
      val neu = fresh ++ near
      val keys = if (keyed) Seq("modality") else Nil
      def side(rows: Seq[(Long, String, Long)]) =
        if (keyed) toDf(rows) else toDf(rows).drop("modality")
      for (maxDist <- 0 to 3) {
        val want = (for {
          (d1, m1, s1) <- old; (d2, m2, s2) <- neu
          if (!keyed || m1 == m2) && dist(s1, s2) <= maxDist
        } yield (if (keyed) m1 else "", d1, d2, dist(s1, s2))).sorted
        val got = rowsOf(Dedup.crossHammingPairs(side(old), side(neu), bits,
          maxDist, keys), keyed)
        assert(got == want, s"bits=$bits keyed=$keyed maxDist=$maxDist")
        assert(want.nonEmpty || maxDist == 0)
        assert(spark.sharedState.cacheManager.isEmpty)
      }
    }
  }
}
