package graft

import org.apache.spark.sql.functions._

/** Regenerates the fresh-vocabulary scale tilings the SCALING.md
  * 10×/100× probe cells run against (`/tmp/sfv10` = 50k docs,
  * `/tmp/sfv100` = 500k docs at sf0.1's 5k base) — previously built by
  * an ad-hoc session snippet, now reproducible. Each copy i remaps
  * doc_id by `i * N + doc_id` and suffixes tokens via
  * `replace(text, ' ', 'x{i} ')` — a per-copy token BIJECTION, so
  * within-copy shingle structure is exactly the base corpus's, copies
  * share zero shingles/windows, per-shingle df equals the base df, and
  * dedup-pair output grows exactly linearly with the tiling factor
  * (the "real 100× corpus grows duplicate groups far slower than 100×"
  * shape made literal; replicating the corpus verbatim instead grows
  * groups — and pair output — quadratically and measures output
  * volume, not the operator).
  *
  * Run: `tools/spark-run.sh graft.MakeTilings [baseSfDir]`. */
object MakeTilings {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val n = docs.count()
    for ((copies, out) <- Seq(10 -> "/tmp/sfv10", 100 -> "/tmp/sfv100")) {
      val tiled = (0 until copies).map { i =>
        docs.select(
          (col("doc_id") + lit(i.toLong * n)).as("doc_id"),
          regexp_replace(col("text"), lit(" "), lit(s"x$i ")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      tiled.write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"$out: ${copies}x$n docs")
    }
    spark.stop()
  }
}
