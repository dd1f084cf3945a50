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

  /** Spill-aware sizing for a target dataset/cluster: shuffle partitions so
    * each post-shuffle partition is ~`targetPartitionBytes` (fits exec
    * memory with headroom), floor of 2 tasks per core for scheduling slack,
    * and scan split size aligned to the same target. AQE coalescing trims
    * the excess at runtime — oversizing here is cheap, undersizing spills.
    */
  def tuneFor(totalDataBytes: Long, executorCores: Int,
              targetPartitionBytes: Long = 128L * 1024 * 1024): Map[String, String] = {
    val byData = math.ceil(totalDataBytes.toDouble / targetPartitionBytes).toLong
    val byCores = executorCores.toLong * 2
    Map(
      "spark.sql.shuffle.partitions" -> math.max(byData, byCores).toString,
      "spark.sql.files.maxPartitionBytes" -> targetPartitionBytes.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
  }
}
