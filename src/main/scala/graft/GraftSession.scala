package graft

import org.apache.spark.sql.SparkSession

import graft.config.SinkConfig

/** One-call session factory for library users: sane local/cluster defaults,
  * graft extensions (vec_dot, CollapseRedundantRound, AsOfJoinStrategy)
  * installed, and optionally a [[SinkConfig]]'s s3a/credential options
  * applied to the Hadoop configuration — the switch-over entry point for a
  * reference-connector user. The entry points (Bench, Verify, DumpPlans,
  * MakeTilings, SinkDemo) build their sessions here too, so they run what a
  * user gets; only Smoke keeps a vanilla session, on purpose (see Smoke).
  *
  * The builder turns off `spark.sql.artifact.isolation.enabled`. With it on
  * (Spark 4's default), every session gets its own executor class loader,
  * and each streaming query runs on a cloned session with a new id. Spark's
  * codegen cache is keyed by (class loader, code), so every query, such as
  * a restart from a checkpoint or a catch-up drain, would recompile its
  * whole plan on its first batch (perfbench `sink_stream` on 4 vCPUs: 23
  * classes, ~250 ms more than the query's other batches). With it off
  * there is one class loader per JVM and a plan compiles once. Isolation
  * serves only session artifacts (Spark Connect's `addArtifact`), which
  * graft never adds.
  */
object GraftSession {

  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)

  /** The entry points' session contract: `local[cpus]`
    * with one shuffle partition per core, `cpus` read from
    * `SPARK_GRAFT_CPUS` (default 4). */
  def fromEnv(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    builder(s"local[$cpus]", cpus)
  }

  /** Create a session and apply a sink config's s3a options (credentials,
    * endpoint, retry policy, multipart size — SURVEY.md §2 O18/O21/O22). */
  def create(config: Option[SinkConfig] = None,
             base: SparkSession.Builder = builder()): SparkSession = {
    val spark = base.getOrCreate()
    config.foreach(_.s3aOptions.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    })
    spark
  }
}
