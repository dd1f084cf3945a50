package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Fingerprinted build-once/read-many parquet store — the shared machinery
  * behind [[Dedup.bandBucketStore]] (LSH band buckets for incremental
  * dedup) and [[Quantization.int8CodeStore]] (persisted int8 embedding
  * codes). A store directory is keyed by an algorithm-version tag plus an
  * md5 fingerprint of the SOURCE data's file listing, so neither a
  * regenerated corpus nor an algorithm change can be served stale content.
  *
  * Cluster-safe by construction: the store root is shared storage (an
  * s3a:// or hdfs:// URI on a real cluster; java.io.tmpdir only as the
  * local-mode fallback), and both the fingerprint and the build go through
  * the Hadoop FileSystem API, so executors read the same store the driver
  * keyed. Builds land in a unique temp directory and rename into the final
  * path (best-effort atomicity: a concurrent builder produces identical
  * content; the rename loser deletes its temp and reads the winner's
  * store). A store directory WITHOUT its `_SUCCESS` marker is a partial
  * publish (a builder that crashed mid-write, or a non-atomic rename — s3a
  * renames are copies) and is evicted and rebuilt on the next call rather
  * than poisoning every later read.
  *
  * Concurrency contract: publishes are idempotent (every builder of the
  * same fingerprint writes identical content), and concurrent BUILDERS are
  * safe — each returns a complete store (raced in SigStoreSpec). The
  * exists-check + rename pair is not atomic, though, so a third process
  * reading the store directory DURING a concurrent publish could
  * transiently list a losing builder's in-flight subdirectory before the
  * loser evicts it. Deployments that cannot tolerate that window should
  * serialize writers per store key (one builder job per corpus snapshot —
  * the natural batch topology) or gate readers on `_SUCCESS` plus an exact
  * file manifest instead of a directory listing. */
object FingerprintStore {

  /** Source-data fingerprint for the store key: md5 over the sorted
    * (relative path, mtime, length) tuple of every file under `src`, via
    * the Hadoop FileSystem API so it works identically on local files,
    * HDFS, and s3a object listings. Hashing tuples (rather than summing
    * per-file values) means no two changes can cancel out. */
  private[ops] def fingerprint(fs: FileSystem, src: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(p: Path): Unit = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).sortBy(_.getPath.getName).foreach(s => walk(s.getPath))
      else md.update(
        s"${st.getPath.getName}|${st.getModificationTime}|${st.getLen}\n"
          .getBytes("UTF-8"))
    }
    walk(src)
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** The fingerprinted store directory for (source, tag, version) under
    * `root` — exposed so callers (and tests) can locate a store without
    * globbing. */
  def storePath(spark: SparkSession, sourcePath: String, tag: String,
                version: String, storeRoot: String): Path = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new Path(sourcePath)
    val srcFs = src.getFileSystem(hconf)
    // a missing source must fail loudly — otherwise the fingerprint would
    // degenerate to a constant and staleness invalidation go silently inert
    require(srcFs.exists(src),
      s"FingerprintStore: source path $sourcePath does not exist; " +
        "the store key is derived from its mtime+length fingerprint")
    new Path(storeRoot,
      s"graft_sigstore_${tag}_${version}_" + fingerprint(srcFs, src))
  }

  /** Resolve the store root: explicit param, else the `graft.sigstore.dir`
    * Spark conf / system property, else java.io.tmpdir (local mode). */
  def resolveRoot(spark: SparkSession, storeRoot: Option[String]): String =
    storeRoot
      .orElse(spark.conf.getOption("graft.sigstore.dir"))
      .orElse(sys.props.get("graft.sigstore.dir"))
      .getOrElse(new java.io.File(sys.props("java.io.tmpdir")).toURI.toString)

  /** One catalog row per store directory under a root — the inspection
    * surface over the nine store families (sig, band-bucket,
    * substring-posting, pq, ivfPq, ivfPqResidual, ivfHamming, int8Code,
    * bpemerges). `complete` is the `_SUCCESS` publish marker; `bytes` /
    * `nFiles` / `mtime` come from the file listing (an index artifact is
    * itself big data at 100 TB — the catalog is how an operator finds
    * what is holding the space). */
  final case class StoreEntry(tag: String, version: String,
      fingerprint: String, complete: Boolean, nFiles: Long, bytes: Long,
      mtime: Long, path: String)

  private val DirPrefix = "graft_sigstore_"

  /** Parse a store directory name into (tag, version, fingerprint).
    * Name layout is `graft_sigstore_<tag>_<version>_<fp16>`; version
    * strings are dash-only by convention (every builder's are), so the
    * LAST two `_` segments are version and fingerprint and the rest is
    * the tag (tags MAY contain underscores — `sswin_even` does).
    * Returns None for foreign directories (including in-flight
    * `.tmp-` builder dirs, which GC must never touch). */
  private[ops] def parseName(name: String): Option[(String, String, String)] = {
    if (!name.startsWith(DirPrefix) || name.contains(".tmp-")) return None
    val parts = name.stripPrefix(DirPrefix).split('_')
    if (parts.length < 3) None
    else Some((parts.dropRight(2).mkString("_"),
      parts(parts.length - 2), parts.last))
  }

  /** Enumerate every store under the root (driver-side Hadoop-FS listing
    * — the catalog is dozens-of-directories-sized, never data-sized).
    * Foreign directories and in-flight `.tmp-` publishes are skipped. */
  def list(spark: SparkSession, storeRoot: Option[String] = None)
      : Seq[StoreEntry] = {
    val root = new Path(resolveRoot(spark, storeRoot))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      parseName(st.getPath.getName).map { case (tag, version, fp) =>
        val files = fs.listStatus(st.getPath).filter(_.isFile)
        StoreEntry(tag, version, fp,
          complete = files.exists(_.getPath.getName == "_SUCCESS"),
          nFiles = files.length.toLong,
          bytes = files.map(_.getLen).sum,
          mtime = st.getModificationTime,
          path = st.getPath.toString)
      }
    }.sortBy(e => (e.tag, e.version, e.fingerprint))
  }

  /** Catalog report as a DataFrame — (tag, version, n_rows) per COMPLETE
    * store whose tag starts with `tagPrefix`. Row counts
    * come from each store's parquet footers (a metadata-only count); the
    * driver-side loop is catalog-sized, never data-sized. */
  def report(spark: SparkSession, storeRoot: Option[String],
             tagPrefix: String): DataFrame = {
    import spark.implicits._
    list(spark, storeRoot)
      .filter(e => e.complete && e.tag.startsWith(tagPrefix))
      .map(e => (e.tag, e.version,
        spark.read.parquet(e.path).count()))
      .toDF("tag", "version", "n_rows")
  }

  /** Garbage-collect stale stores: an entry is LIVE iff its fingerprint
    * matches the CURRENT fingerprint of one of `liveSources` (the same
    * hash [[storePath]] keys with — a regenerated corpus changes its
    * listing fingerprint, stranding every store built against the old
    * snapshot; this is the reclaim path). Incomplete stores (no
    * `_SUCCESS`) are also dropped — they are crashed publishes that
    * would be evicted-and-rebuilt on next access anyway. In-flight
    * `.tmp-` builder directories are never touched; run GC from the
    * store's natural single-writer batch topology (or tolerate a
    * concurrent builder re-publishing — builds are idempotent).
    * Returns (kept, deleted) entries. */
  def gc(spark: SparkSession, storeRoot: Option[String],
         liveSources: Seq[String]): (Seq[StoreEntry], Seq[StoreEntry]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val liveFps = liveSources.flatMap { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) Some(fingerprint(fs, p)) else None
    }.toSet
    val (keep, drop) = list(spark, storeRoot)
      .partition(e => e.complete && liveFps.contains(e.fingerprint))
    drop.foreach { e =>
      val p = new Path(e.path)
      p.getFileSystem(hconf).delete(p, true)
    }
    (keep, drop)
  }

  /** Serve the store at (sourcePath, tag, version), building it with
    * `build` (written as parquet) on miss / partial publish. */
  def getOrBuild(spark: SparkSession, sourcePath: String, tag: String,
                 version: String, storeRoot: Option[String])
                (build: => DataFrame): DataFrame = {
    val store = storePath(spark, sourcePath, tag, version,
      resolveRoot(spark, storeRoot))
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(store, "_SUCCESS")
    if (!fs.exists(success)) {
      val tmp = new Path(store.getParent,
        store.getName + ".tmp-" + java.util.UUID.randomUUID().toString)
      build.write.mode("overwrite").parquet(tmp.toString)
      // self-repair: a store dir without _SUCCESS is a partial publish
      // (crashed builder / non-atomic s3a rename). Left in place it would
      // skip the rename below and fail the completeness check — on this
      // call and every later one — so evict it first; the freshly-built
      // tmp then lands a complete store.
      if (fs.exists(store) && !fs.exists(success)) fs.delete(store, true)
      // publish: rename wins or a concurrent builder already did —
      // either way a complete store exists at `store` afterwards.
      // (Hadoop rename onto an existing dir moves src INTO it — if a
      // concurrent builder won that race, evict the stray subdir so the
      // parquet listing never sees doubled data.)
      if (!fs.exists(store)) fs.rename(tmp, store)
      val stray = new Path(store, tmp.getName)
      if (fs.exists(stray)) fs.delete(stray, true)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      require(fs.exists(success),
        s"FingerprintStore: store publish failed for $store")
    }
    spark.read.parquet(store.toString)
  }
}
