package graft

import java.time.{ZoneId, ZonedDateTime}

import graft.config.SinkConfig
import graft.connector.Records
import graft.streaming.S3SinkPipeline

/** Drives the full connector pipeline through its public surface: config
  * parse → events-as-records → writeBatch → exact-named compressed objects.
  * Usage: SinkDemo [sfDir] [outDir] [prop=value ...]
  */
object SinkDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("sink-demo").toString)
    val extraProps = args.drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap

    val props = Map(
      "aws.s3.bucket.name" -> "demo",
      "format.output.fields" -> "value,key,timestamp,offset",
      "file.compression.type" -> "gzip") ++ extraProps
    val config = SinkConfig.parse(props).fold(
      errs => { errs.foreach(System.err.println); sys.exit(2) }, identity)

    val spark = GraftSession.create(Some(config), GraftSession.fromEnv())
    spark.sparkContext.setLogLevel("WARN")

    val records = Records.fromEvents(spark, sfDir)
    S3SinkPipeline.writeBatch(records, config, outDir,
      ZonedDateTime.now(ZoneId.of("Z")))

    println(s"wrote to $outDir:")
    java.nio.file.Files.list(java.nio.file.Paths.get(outDir)).sorted()
      .forEach(p => if (!p.getFileName.toString.startsWith("."))
        println(s"  ${p.getFileName} (${java.nio.file.Files.size(p)} bytes)"))
    spark.stop()
  }
}
