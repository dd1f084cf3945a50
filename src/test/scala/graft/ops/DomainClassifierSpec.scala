package graft.ops

import graft.SparkSuite

/** Contracts of the trained domain classifier: deterministic integer
  * centroid training, nearest-centroid (2·x·c − ‖c‖²) scoring with the
  * alphabetical tie-break, and the warm centroid store serving without
  * retraining. */
class DomainClassifierSpec extends SparkSuite {

  import spark.implicits._

  // each domain marked by its own keyword-group tokens (the annotator's
  // vocabulary — labels bootstrap from it); shared filler keeps the
  // classes from being trivially orthogonal. The third column documents
  // the expected annotator label; the classifier never reads it.
  private def corpus = Seq(
    (0L, "scan scan filter sort common word here and more", "compute"),
    (1L, "sort filter scan common text word extra filler", "compute"),
    (2L, "join join merge hash common word here and more", "relate"),
    (3L, "hash merge join common text word extra filler", "relate"),
    (4L, "table table column row common word here and more", "store"),
    (5L, "row column table common text word extra filler", "store"),
    (6L, "stream stream batch window common word here and more", "stream"),
    (7L, "window batch stream common text word extra filler", "stream"))
    .toDF("doc_id", "text", "expected")

  test("keyword labels match the documented expectations and weight " +
    "training is deterministic; argmax-margin scoring recovers the " +
    "annotator label for every training doc") {
    val labs = DomainClassifier.labels(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(labs == expected, s"annotator drifted: $labs vs $expected")
    val w1 = DomainClassifier.trainCentroids(corpus)
    val w2 = DomainClassifier.trainCentroids(corpus)
    assert(DomainClassifier.Domains.forall(l => w1(l).toSeq == w2(l).toSeq),
      "training must be bit-deterministic")
    val scored = DomainClassifier.scoreQuery(corpus, w1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_domain"), r.getAs[String]("label"),
          r.getAs[Boolean]("correct"))))
    assert(scored.forall { case (_, (p, l, c)) => c && p == l },
      s"keyword groups must separate the four classes: ${scored.toSeq}")
  }

  test("identical-margin ties break alphabetically (the oracle's " +
    "(margin DESC, domain asc) row_number pick)") {
    // train on one pure-compute and one pure-relate doc; score a doc
    // holding both markers with equal weight — m_compute == m_relate
    // EXACTLY by symmetry (bucket-collision-proof: if 'scan' and 'join'
    // hash together, both classes share the merged bucket and the tie
    // survives), so the alphabetical pick must say 'compute'
    val train = Seq((0L, "scan"), (1L, "join")).toDF("doc_id", "text")
    val scored = DomainClassifier.scoreQuery(
      Seq((2L, "scan join")).toDF("doc_id", "text"),
      DomainClassifier.trainCentroids(train)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_domain"))
      .toMap
    assert(scored == Map(2L -> "compute"),
      s"alphabetical tie-break violated: $scored")
  }

  test("centroidStore: warm read returns the fresh-trained centroids " +
    "and the store root holds exactly the domcents family") {
    val src = new java.io.File(tmpDir("domsrc"))
    java.nio.file.Files.write(new java.io.File(src, "marker").toPath,
      "x".getBytes("UTF-8"))
    val root = new java.io.File(tmpDir("domroot"))
      .toURI.toString
    val fresh = DomainClassifier.trainCentroids(corpus)
    val cold = DomainClassifier.centroidStore(spark, corpus, src.getPath,
      Some(root))
    DomainClassifier.Domains.foreach(l =>
      assert(cold(l).toSeq == fresh(l).toSeq,
        s"stored centroid for $l drifted"))
    val warm = DomainClassifier.centroidStore(spark, corpus, src.getPath,
      Some(root))
    DomainClassifier.Domains.foreach(l =>
      assert(warm(l).toSeq == fresh(l).toSeq))
    val stores = FingerprintStore.list(spark, Some(root))
    assert(stores.size == 1 && stores.head.tag == "domcents",
      s"expected exactly the domcents store: $stores")
  }
}
