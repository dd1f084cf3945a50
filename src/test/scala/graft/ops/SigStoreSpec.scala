package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Publish-protocol tests for the persistent band-bucket signature store —
  * the concurrency and crash-recovery contracts documented on
  * [[Dedup.bandBucketStore]]: exactly one complete store survives a
  * builder race, and a partial store (crashed publish) self-repairs
  * instead of poisoning every later call. */
class SigStoreSpec extends SparkSuite {

  import spark.implicits._

  // 3 docs × 4 bands = 12 band-bucket rows in a complete store
  private def corpus = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 45L),
    (2L, "one two three four five six seven eight nine", "en", "s", 44L),
    (4L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 45L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")
  private val ExpectedRows = 3L * Dedup.NumBands

  /** Fresh (sourcePath, storeRoot URI, root dir) triple per test. */
  private def freshKey(): (String, String, java.io.File) = {
    val src = new java.io.File(tmpDir("sigsrc"))
    java.nio.file.Files.write(new java.io.File(src, "marker").toPath,
      "x".getBytes("UTF-8"))
    val rootDir = new java.io.File(tmpDir("sigroot"))
    (src.getPath, rootDir.toURI.toString, rootDir)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f +: f.listFiles().toSeq.flatMap(walk) else Seq(f)

  test("two concurrent builders of the same fingerprint race to exactly " +
    "one complete store: no doubled rows, no leftover temp dirs, both " +
    "callers read the winner") {
    val (src, root, rootDir) = freshKey()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        try {
          gate.await()
          // both threads enter the build path together (neither can see a
          // published store yet), exercising the rename-loser eviction
          results.add(
            Dedup.bandBucketStore(spark, corpus, src, "race", Some(root))
              .count())
        } catch { case t: Throwable => errors.add(t) }
      })
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"builder threw: ${errors.peek()}")
    // both callers read a complete, single-copy store
    assert(results.toArray.toSeq == Seq(ExpectedRows, ExpectedRows))
    val storeDir = new java.io.File(
      Dedup.sigStorePath(spark, src, "race", root).toUri)
    assert(new java.io.File(storeDir, "_SUCCESS").exists())
    assert(spark.read.parquet(storeDir.getPath).count() == ExpectedRows)
    // the loser's temp dir is gone — from the root AND from inside the
    // store (a lost rename races the winner and lands as a subdir there)
    assert(!walk(rootDir).exists(_.getName.contains(".tmp-")),
      s"leftover temp under $rootDir")
  }

  test("a partial store (directory without _SUCCESS) is evicted and " +
    "rebuilt, not permanently poisoned") {
    val (src, root, _) = freshKey()
    val storeDir = new java.io.File(
      Dedup.sigStorePath(spark, src, "heal", root).toUri)
    // simulate a crashed / non-atomic publish: dir present, marker absent
    assert(storeDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(storeDir, "part-00000-junk.parquet").toPath,
      "not parquet".getBytes("UTF-8"))
    // pre-fix this threw bandBucketStore's completeness require — forever
    val healed = Dedup.bandBucketStore(spark, corpus, src, "heal", Some(root))
    assert(healed.count() == ExpectedRows)
    assert(new java.io.File(storeDir, "_SUCCESS").exists())
    assert(!new java.io.File(storeDir, "part-00000-junk.parquet").exists(),
      "partial-store junk survived the eviction")
    // and the healed store serves the next call unchanged
    assert(Dedup.bandBucketStore(spark, corpus, src, "heal", Some(root))
      .count() == ExpectedRows)
  }

  test("list parses (tag, version, fingerprint) back out of store names — " +
    "including tags containing underscores — and reports completeness") {
    val (src, root, _) = freshKey()
    Dedup.bandBucketStore(spark, corpus, src, "cat_a_b", Some(root))
    Dedup.bandBucketStore(spark, corpus, src, "plain", Some(root))
    val es = FingerprintStore.list(spark, Some(root))
    assert(es.map(_.tag).sorted == Seq("cat_a_b", "plain"))
    assert(es.forall(e => e.version == Dedup.SigStoreVersion && e.complete &&
      e.nFiles > 0 && e.bytes > 0 && e.fingerprint.length == 16))
    // name-level parse contract, incl. tmp-dir exclusion
    assert(FingerprintStore.parseName(
      "graft_sigstore_sswin_even_v1-sswin-k8_0123456789abcdef")
      .contains(("sswin_even", "v1-sswin-k8", "0123456789abcdef")))
    assert(FingerprintStore.parseName(
      "graft_sigstore_x_v1_abc.tmp-123").isEmpty)
    assert(FingerprintStore.parseName("unrelated_dir").isEmpty)
  }

  test("gc keeps stores whose fingerprint matches a live source and drops " +
    "stale ones (regenerated corpus) plus incomplete publishes") {
    val (src, root, rootDir) = freshKey()
    Dedup.bandBucketStore(spark, corpus, src, "keepme", Some(root))
    // regenerate the source: mtime+length fingerprint changes, stranding
    // the store built against the old snapshot
    Thread.sleep(1100) // local-FS mtime granularity can be 1 s
    java.nio.file.Files.write(
      new java.io.File(src, "marker").toPath, "xy".getBytes("UTF-8"))
    Dedup.bandBucketStore(spark, corpus, src, "fresh", Some(root))
    // an incomplete publish (no _SUCCESS) is a crashed builder
    val partial = new java.io.File(rootDir,
      "graft_sigstore_crashed_v1-x_00000000deadbeef")
    assert(partial.mkdirs())
    val (kept, dropped) = FingerprintStore.gc(spark, Some(root), Seq(src))
    assert(kept.map(_.tag) == Seq("fresh"), s"kept: $kept")
    assert(dropped.map(_.tag).sorted == Seq("crashed", "keepme"))
    assert(!partial.exists(), "incomplete store survived gc")
    assert(FingerprintStore.list(spark, Some(root)).map(_.tag) ==
      Seq("fresh"))
    // gc is idempotent and the survivor still serves warm
    assert(FingerprintStore.gc(spark, Some(root), Seq(src))._2.isEmpty)
    assert(Dedup.bandBucketStore(spark, corpus, src, "fresh", Some(root))
      .count() == ExpectedRows)
  }
}
