package graft.ops

import graft.SparkSuite

/** Semantics tests for the round-7 curation operators: sub-document chunk
  * dedup, robust length outliers, per-source quota capping and TF-IDF
  * keyword extraction — all with planted fixtures whose expected outputs
  * are computed by hand. */
class CurationOpsSpec extends SparkSuite {

  import spark.implicits._

  // 10-token "paragraphs": chunkDedup(chunkTokens = 10) sees each letter
  // block as exactly one chunk.
  private val A = (1 to 10).map(i => s"a$i").mkString(" ")
  private val B = (1 to 10).map(i => s"b$i").mkString(" ")
  private val C = (1 to 10).map(i => s"c$i").mkString(" ")
  private val D = (1 to 10).map(i => s"d$i").mkString(" ")

  private def mkDocs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("chunkDedup keeps a shared chunk only at its first occurrence and " +
    "empties a fully-duplicated document") {
    val docs = mkDocs(
      0L -> s"$A $B", // owns both of its chunks
      1L -> s"$A $C", // A is owned by doc 0 -> dropped here
      2L -> D,        // untouched singleton
      3L -> s"$A $B") // full copy of doc 0 -> nothing survives
    val r = Curation.chunkDedup(docs, 10).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_chunks"), x.getAs[Long]("n_kept"),
          x.getAs[String]("clean_md5")))).toMap
    assert(r(0L)._1 == 2 && r(0L)._2 == 2)
    assert(r(1L)._1 == 2 && r(1L)._2 == 1)
    assert(r(2L) == ((1L, 1L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(D))))
    // every chunk of doc 3 has its first occurrence in doc 0
    assert(r(3L)._1 == 2 && r(3L)._2 == 0)
    assert(r(3L)._3 ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex(""))
    // doc 1's surviving text is exactly its unshared chunk
    assert(r(1L)._3 ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex(C))
  }

  test("chunkDedup keeps within-document repeats when no other doc shares " +
    "the chunk") {
    val docs = mkDocs(0L -> s"$A $A") // same chunk twice, single doc
    val r = Curation.chunkDedup(docs, 10).collect().head
    assert(r.getAs[Long]("n_chunks") == 2 && r.getAs[Long]("n_kept") == 2)
  }

  test("lengthOutliers flags documents beyond 3 MADs from the per-lang " +
    "median") {
    val docs = (
      // en: 4 docs of 10 chars, one 1000-char page -> med 10, MAD 0, 1 hit
      (1 to 4).map(i => (i.toLong, "x" * 10, "en", "s", 10L)) :+
        (5L, "x" * 1000, "en", "s", 1000L)) ++ (
      // de: uniform lengths -> MAD 0 but zero deviates -> 0 hits
      (6 to 8).map(i => (i.toLong, "y" * 20, "de", "s", 20L)))
    val r = Curation.lengthOutliers(docs.toDF(
        "doc_id", "text", "lang", "source", "n_chars")).collect()
      .map(x => x.getAs[String]("lang") ->
        ((x.getAs[Double]("med_chars"), x.getAs[Double]("mad_chars"),
          x.getAs[Long]("n_outliers")))).toMap
    assert(r("en") == ((10.0, 0.0, 1L)))
    assert(r("de") == ((20.0, 0.0, 0L)))
  }

  test("lengthOutliers approxAccuracy dial: identical schema and, on a " +
    "fixture far from any rank boundary, identical values") {
    val docs = (
      (1 to 4).map(i => (i.toLong, "x" * 10, "en", "s", 10L)) :+
        (5L, "x" * 1000, "en", "s", 1000L)) ++ (
      (6 to 8).map(i => (i.toLong, "y" * 20, "de", "s", 20L)))
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Curation.lengthOutliers(df)
    val approx = Curation.lengthOutliers(df, 3.0, Some(1000))
    assert(approx.schema == exact.schema)
    // n=5/n=3 with huge gaps: the <=1% rank window cannot cross a value
    // boundary, so the sketch must return the exact median elements
    assert(approx.orderBy("lang").collect().toSeq ==
      exact.orderBy("lang").collect().toSeq)
  }

  test("lengthOutliers approx dial keeps the exact plan's shape: same " +
    "exchange count, percentile aggs stay ObjectHashAggregate") {
    val docs = mkDocs(0L -> "aa bb", 1L -> "cc dd")
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      ("Exchange".r.findAllIn(p).size,
        "ObjectHashAggregate".r.findAllIn(p).size)
    }
    val (exEx, exAgg) = shape(Curation.lengthOutliers(docs))
    val (apEx, apAgg) = shape(Curation.lengthOutliers(docs, 3.0, Some(1000)))
    assert(exEx == apEx, "approx dial must not add/remove an exchange")
    assert(exAgg == apAgg && apAgg >= 2,
      "both percentile passes must stay ObjectHashAggregate in both modes")
  }

  test("quotaCap keeps the perSource longest docs, ties broken by doc_id") {
    val docs = mkDocs(
      0L -> "aa bb", 1L -> "cc dd", 2L -> "longest text here ok",
      3L -> "mid text ok", 4L -> "ee ff")
      .union(Seq((9L, "other", "en", "src1", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val kept = Sampling.quotaCap(docs, perSource = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")))
    // src0 lengths: doc2=20 > doc3=11 > {doc0,doc1,doc4}=5 (tie -> doc0)
    assert(kept.toSet == Set((2L, 1L), (3L, 2L), (0L, 3L), (9L, 1L)))
  }

  test("commonnessQuery scores docs by mean corpus token frequency") {
    val docs = mkDocs(0L -> "a a b", 1L -> "b c")
    // corpus: 5 tokens; counts a=2 b=2 c=1
    val r = TextAnalysis.commonnessQuery(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tok"), x.getAs[Long]("sum_cnt"),
          x.getAs[Double]("commonness")))).toMap
    assert(r(0L) == ((3L, 6L, 0.4)))  // (2+2+2) / (3*5)
    assert(r(1L) == ((2L, 3L, 0.3)))  // (2+1) / (2*5)
  }

  test("tfidfTopQuery ranks by tf * n_docs / df with term-asc tie-break") {
    val docs = mkDocs(
      0L -> "apple apple banana",
      1L -> "banana cherry",
      2L -> "cherry cherry cherry")
    val r = TextAnalysis.tfidfTopQuery(docs, k = 3)
      .orderBy("doc_id", "rk").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("rk"),
        x.getAs[String]("term"), x.getAs[Double]("score")))
    // doc 0: apple tf=2 df=1 -> 6.0 beats banana tf=1 df=2 -> 1.5
    assert(r.filter(_._1 == 0L).map(t => (t._2, t._3, t._4)).toList ==
      List((1L, "apple", 6.0), (2L, "banana", 1.5)))
    // doc 1: equal scores 1.5 -> banana before cherry (term asc)
    assert(r.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toList ==
      List((1L, "banana", 1.5), (2L, "cherry", 1.5)))
    // doc 2: cherry tf=3 df=2 -> 4.5
    assert(r.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).toList ==
      List((1L, "cherry", 4.5)))
  }

  test("lineDedup removes df>=minDf lines from EVERY doc (no canonical " +
    "owner), keeps order, and empties an all-boilerplate doc") {
    import org.apache.spark.sql.functions._
    val lined = Seq(
      (0L, "boiler\nu0a\nu0b"),      // boiler + two unique lines
      (1L, "u1a\nboiler\nu1b"),      // boiler mid-document
      (2L, "boiler\nother"),         // 3rd boiler occurrence -> df = 3
      (3L, "boiler"),                // all-boilerplate -> emptied
      (4L, "other\nu4a"))            // 'other' df = 2 < 3 -> kept
      .toDF("doc_id", "text")
    val r = Curation.lineDedup(lined, minDf = 3).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_lines"), x.getAs[Long]("n_removed"),
          x.getAs[String]("clean_text")))).toMap
    assert(r(0L) == ((3L, 1L, "u0a\nu0b")))
    assert(r(1L) == ((3L, 1L, "u1a\nu1b"))) // order preserved around cut
    assert(r(2L) == ((2L, 1L, "other")))
    assert(r(3L) == ((1L, 1L, "")))         // removed everywhere: no owner
    assert(r(4L) == ((2L, 0L, "other\nu4a")))
  }

  test("lineDedupIncremental cleans the batch against the STORED even-half " +
    "boilerplate: equals a fresh old-half df pass, and batch-internal " +
    "repeats are not counted") {
    import org.apache.spark.sql.functions.col
    val lined = Seq(
      (0L, "boiler\nu0"), (2L, "boiler\nu2"), (4L, "boiler\nu4"), // df=3 old
      (6L, "oldonly\nu6"), (8L, "oldonly\nu8"),                   // df=2 old
      (1L, "boiler\nnew1\nbatchrep"),
      (3L, "batchrep\nnew3"),
      (5L, "batchrep\nnew5")) // batchrep df=3 IN BATCH -> not in store
      .toDF("doc_id", "text")
    val src = new java.io.File(tmpDir("linesrc"))
    java.nio.file.Files.write(new java.io.File(src, "marker").toPath,
      "x".getBytes("UTF-8"))
    val root = new java.io.File(tmpDir("lineroot"))
      .toURI.toString
    val boiler = Curation.lineBoilerplateStore(spark,
      lined.where(col("doc_id") % 2 === 0), src.getPath, "t", 3, Some(root))
    // the store holds exactly the even-half over-threshold set
    assert(boiler.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set(("boiler", 3L)))
    val r = Curation.lineDedupIncremental(
      lined.where(col("doc_id") % 2 === 1), boiler).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_removed"), x.getAs[String]("clean_text")))).toMap
    assert(r(1L) == ((1L, "new1\nbatchrep"))) // boiler cut; batchrep kept
    assert(r(3L) == ((0L, "batchrep\nnew3"))) // store is the df authority
    assert(r(5L) == ((0L, "batchrep\nnew5")))
    // warm path: a second call reads the published store (same rows)
    assert(Curation.lineBoilerplateStore(spark,
      lined.where(col("doc_id") % 2 === 0), src.getPath, "t", 3, Some(root))
      .count() == 1L)
  }

  test("lineified injects the %3 header / %2 footer variants and chunks " +
    "the body into 12-token lines") {
    val toks = (1 to 25).map(i => s"w$i").mkString(" ") // 25 -> 3 chunks
    val lined = Curation.lineified(mkDocs(6L -> toks, 1L -> "solo"))
      .collect().map(x =>
        x.getAs[Long]("doc_id") -> x.getAs[String]("text")).toMap
    val body = Seq((1 to 12), (13 to 24)).map(_.map(i => s"w$i")
      .mkString(" ")) :+ "w25"
    // doc 6: %3 header (6%7=6) AND %2 footer (6%5=1)
    assert(lined(6L) ==
      ("nav home about contact menu b6" +: body :+
        "copyright footer terms privacy b1").mkString("\n"))
    // doc 1: neither header nor footer, one short body line
    assert(lined(1L) == "solo")
  }

  test("decontaminateCross equals the plain semi-join exactly (the Bloom " +
    "prefilter is pure topology) and its stats are hand-verifiable") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // odd docs are the probe, even the reference; doc 1 shares its A
    // shingles with ref doc 2, doc 3 is clean, doc 5 shares B with doc 4
    val docs = mkDocs(
      1L -> s"$A x y z", // A-grams hit ref doc 2
      2L -> A,
      3L -> C, // clean: no even doc carries C
      4L -> B,
      5L -> s"q r $B")
    val out = Curation.decontaminateCross(docs, expectedRefGrams = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: 12 distinct 3-grams ("a1..a10 x y z" -> 11 + ... ) — compute
    // relationally instead of by hand: the plain (bloom-free) reference
    val grams = docs
      .select(col("doc_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.array_distinct(
            TextAnalysis.shingles3(TextAnalysis.tokens(col("text")))))
          .as("sh"))
    val ref = grams.where(col("doc_id") % 2 === 0).select("sh").distinct()
    val plain = grams.where(col("doc_id") % 2 =!= 0)
      .join(ref, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_._1).toSet == plain.keySet) // same contaminated docs
    out.foreach { case (id, _, overlap) =>
      assert(overlap == plain(id), s"doc $id overlap differs from exact")
    }
    assert(!out.map(_._1).contains(3L), "clean doc leaked through")
  }
}
