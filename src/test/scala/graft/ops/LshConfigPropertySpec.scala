package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Properties of the parameterized hyperplane-LSH banding: the plane
  * family is prefix-shared across configurations, so a wider config's
  * masks agree bit-for-bit on the shared planes and its candidate set is
  * a superset of the default's — which makes recall@k MONOTONE in the
  * table count (the displaced-by-better argument: any candidate that
  * pushes an exact-top-k member out of the approx top-k is itself in the
  * exact top-k). */
class LshConfigPropertySpec extends SparkSuite {

  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("plane family is prefix-shared: the 48-plane mask's low 32 bits " +
    "equal the default 32-plane mask") {
    assert(Similarity.planesFor(48).take(32)
      .zip(Similarity.planesFor(Similarity.NumHyperplanes))
      .forall { case (a, b) => a.sameElements(b) })
    val rows = emb.limit(50)
      .select(
        Similarity.hyperplaneMask(col("embedding")).as("m32"),
        Similarity.hyperplaneMask(col("embedding"), 48).as("m48"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert((r.getLong(1) & 0xFFFFFFFFL) == r.getLong(0))
    }
  }

  test("a 1x64 table keeps all 64 sign bits: its bucket is the mask, not 0") {
    val mask = 0x8123456789ABCDEFL
    val one = Seq(mask).toDF("m")
    val buckets = one
      .select(explode(Similarity.bucketsFromMask(col("m"), 1, 64)).as("b"))
      .select(col("b.bits")).collect().map(_.getLong(0))
    assert(buckets.toSeq == Seq(mask))
    val probes = one
      .select(explode(Similarity.probeBucketsFromMask(col("m"), 1, 64)).as("b"))
      .select(col("b.bits")).collect().map(_.getLong(0))
    assert(probes.toSeq == (mask +: (0 until 64).map(f => mask ^ (1L << f))))
  }

  test("recall@5 is monotone in the table count (12x4 >= 8x4) and the " +
    "wide config's hits are scored identically") {
    val q = emb.where($"vec_id" < 10)
    def hits(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(emb, q, 5))
    val dflt = hits(Similarity.lshTopK(emb, q, 5))
    val wide = hits(Similarity.lshTopK(emb, q, 5,
      multiProbe = true, numTables = 12, planesPerTable = 4))
    val rDflt = (dflt & exact).size.toDouble / exact.size
    val rWide = (wide & exact).size.toDouble / exact.size
    info(f"recall@5 default(8x4)=$rDflt%.2f wide(12x4)=$rWide%.2f")
    assert(rWide >= rDflt, s"wide recall $rWide < default $rDflt")
  }

  test("invalid plane counts are rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(emb, emb.where($"vec_id" < 2), 5,
        multiProbe = false, numTables = 17, planesPerTable = 4) // 68 > 64
    }
    assert(e.getMessage.contains("hyperplane"))
  }
}
