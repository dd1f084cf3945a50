package graft.formats

import java.io.{InputStream, OutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.xerial.snappy.{SnappyInputStream, SnappyOutputStream}

import graft.config.CompressionType

/** Whole-object compression (SURVEY.md §2 O15): the codec stream wraps the
  * format writer's output, mirroring the reference's
  * `CompressionType`-wrapped `S3OutputStream` (`S3SinkTask.java:135,139-140`;
  * all four codecs asserted in `S3SinkTaskTest.java:175-176,251-266`).
  * snappy-java and zstd-jni ship with Spark — the same libraries the
  * reference's commons dependency uses.
  */
object Compression {

  def wrap(out: OutputStream, t: CompressionType): OutputStream = t match {
    case CompressionType.None   => out
    case CompressionType.Gzip   => new GZIPOutputStream(out)
    case CompressionType.Snappy => new SnappyOutputStream(out)
    case CompressionType.Zstd   => new ZstdOutputStream(out)
  }

  /** The inverse of [[wrap]]: decode an object written under codec `t`. */
  def unwrap(in: InputStream, t: CompressionType): InputStream = t match {
    case CompressionType.None   => in
    case CompressionType.Gzip   => new GZIPInputStream(in)
    case CompressionType.Snappy => new SnappyInputStream(in)
    case CompressionType.Zstd   => new ZstdInputStream(in)
  }
}
