package graft

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, stopped after).
  * Every [[tmpDir]] is deleted with its contents once the session stops. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmpDirs = mutable.ArrayBuffer.empty[java.io.File]

  override def afterAll(): Unit = {
    try spark.stop()
    finally {
      tmpDirs.synchronized(tmpDirs.foreach(FileUtils.deleteQuietly))
      super.afterAll()
    }
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.synchronized(tmpDirs += d)
    d.toString
  }
}
