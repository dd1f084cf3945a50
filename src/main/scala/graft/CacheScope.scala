package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame

/** The lifetime of the tables and broadcasts a lazily returned plan still
  * reads. An operator that caches an interior table registers its release
  * here ([[cached]], [[onRelease]]); the caller builds AND acts inside
  * [[run]], which releases everything registered while its body ran, so a
  * long-lived session (a `foreachBatch` body, one registry row in
  * [[Verify]]) ends each unit of work with nothing left cached. Outside a
  * `run`, registering does nothing: a run-once batch job keeps its caches
  * until the session ends. Scopes nest; the innermost one owns. */
object CacheScope {

  private val releases = new DynamicVariable[Option[ArrayBuffer[() => Unit]]](None)

  /** Evaluate `body`, then release, last registered first, what it
    * registered — also when it throws. */
  def run[T](body: => T): T = {
    val mine = ArrayBuffer.empty[() => Unit]
    try releases.withValue(Some(mine))(body)
    finally mine.reverseIterator.foreach(_())
  }

  /** Run `release` when the enclosing [[run]] ends. */
  def onRelease(release: => Unit): Unit =
    releases.value.foreach(_ += (() => release))

  /** `df.cache()`, unpersisted when the enclosing [[run]] ends. */
  def cached(df: DataFrame): DataFrame = {
    onRelease(df.unpersist())
    df.cache()
  }
}
