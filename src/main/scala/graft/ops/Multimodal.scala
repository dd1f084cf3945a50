package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata; decode / feature-extract runs as an
  * iterator-to-iterator `mapPartitions` (the Scala analog of a batched
  * Pandas UDF: no per-row task overhead, constant memory, codegen-friendly
  * boundaries on both sides).
  *
  * ALL THREE modalities decode for real, pure-JVM: images through
  * ImageIO ([[ImageCodec]] — BMP/PNG/JPEG), audio through a lock-free
  * RIFF/PCM chunk walk with the javax.sound codec as fallback
  * ([[AudioCodec]]), video through the same chunk walk one container
  * level deeper — AVI with uncompressed DIB or MJPEG frames
  * ([[VideoCodec]]). Each media job has one implementation, on decoded
  * payloads: [[resizeImages]], [[frameSampleReal]], [[extractFeaturesReal]]
  * and the three fingerprint dedups. A codec the JVM does not ship (e.g.
  * H.264) plugs in behind the same `mapPartitions` pass and changes no
  * plan topology. [[mediaFromEvents]] feeds only the passes that need no
  * decoder: [[metaQuery]] and [[dedupBinary]].
  */
object Multimodal {

  /** Typed media record: payload + metadata, the schema a 100 TB media lake
    * would partition by (modality, then format). */
  final case class MediaRecord(
      media_id: Long,
      modality: String, // image | audio | video
      format: String,   // sniffed container format
      payload: Array[Byte],
      byte_len: Long)

  /** Adapt the `events` table into a fake media lake: props bytes as the
    * payload, modality derived from event_type. Stand-in for a real
    * `binaryFile` / parquet-with-binary source. */
  def mediaFromEvents(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.connector.Records.readEvents(spark, sfDir)
      .select(
        col("event_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("event_id") % 3).cast(IntegerType) + 1).as("modality"),
        when(substring(col("props"), 1, 1) === "{", "json").otherwise("raw")
          .as("format"),
        col("props").cast(BinaryType).as("payload"),
        length(col("props")).cast(LongType).as("byte_len"))
      .as[MediaRecord]
  }

  // ------------------------------------------------------------------
  // Real image decode (pure JVM, javax.imageio). The sandbox has no
  // OpenCV/PIL, but the JDK ships a real BMP/PNG codec; these ops run
  // ACTUAL pixel decode + resample inside one iterator-to-iterator
  // mapPartitions pass.
  // ------------------------------------------------------------------

  /** A decoded grayscale image: pixel values 0..255, row-major top-down. */
  final case class DecodedImage(
      media_id: Long, width: Int, height: Int, gray: Array[Int], ok: Boolean)

  object ImageCodec {
    /** Deterministic 24-bit uncompressed BMP encoder (gray replicated to
      * r=g=b; bottom-up rows, 4-byte row padding — the classic
      * BITMAPINFOHEADER layout). Used to synthesize real image payloads
      * from data so the DECODE side is exercised against a format a real
      * lake contains, with pixel values the oracle can recompute
      * symbolically. */
    def encodeGrayBmp(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
      require(gray.length == w * h, s"need $w*$h pixels, got ${gray.length}")
      val pixels = dibPixels(w, h, gray)
      val fileSize = 54 + pixels.length
      val b = java.nio.ByteBuffer.allocate(fileSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24).putInt(0)
      b.putInt(pixels.length).putInt(2835).putInt(2835).putInt(0).putInt(0)
      b.put(pixels).array()
    }

    /** Gray pixels as a 24-bit DIB pixel array: r=g=b, bottom-up rows,
      * each row zero-padded to 4 bytes — the pixel data of a BMP file and
      * of an AVI DIB frame alike. */
    private[Multimodal] def dibPixels(w: Int, h: Int,
                                      gray: Array[Int]): Array[Byte] = {
      val rowSize = (w * 3 + 3) / 4 * 4
      val out = new Array[Byte](rowSize * h)
      var y = 0
      while (y < h) {
        val row = (h - 1 - y) * rowSize // bottom-up
        var x = 0
        while (x < w) {
          val v = gray(y * w + x).toByte
          out(row + 3 * x) = v; out(row + 3 * x + 1) = v
          out(row + 3 * x + 2) = v
          x += 1
        }
        y += 1
      }
      out
    }

    /** REAL decode via the JDK's ImageIO (BMP/PNG/GIF/JPEG as the JVM
      * provides): payload bytes → (width, height, gray pixels 0..255,
      * row-major top-down), gray = the blue channel (identical to r/g for
      * the grayscale BMPs the lake synthesizes). Returns None for null /
      * undecodable payloads — the caller maps that to ok=false rather
      * than failing the partition (one corrupt asset must not kill a
      * 100 TB scan). */
    // keep ImageIO's stream wrapper in-memory: the default disk-backed
    // cache writes a temp file per read — pure overhead for byte-array
    // payloads, and a nuisance on diskless executors
    javax.imageio.ImageIO.setUseCache(false)

    def decodeGray(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (payload == null) return None
      try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val g = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { g(y * w + x) = img.getRGB(x, y) & 0xff; x += 1 }
            y += 1
          }
          (w, h, g)
        }
      } catch { case _: java.io.IOException => None }
    }

    /** Nearest-neighbor resample (the deterministic baseline every image
      * pipeline starts from): out(x, y) = in(⌊x·W/w⌋, ⌊y·H/h⌋). Integer
      * arithmetic only — bit-reproducible anywhere, including in the SQL
      * oracle. */
    def resizeNearest(w0: Int, h0: Int, gray: Array[Int],
                      w: Int, h: Int): Array[Int] = {
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val sy = y * h0 / h
        var x = 0
        while (x < w) { out(y * w + x) = gray(sy * w0 + x * w0 / w); x += 1 }
        y += 1
      }
      out
    }
  }

  /** Synthesize a real-BMP image lake from the documents table: one
    * `ImageW`×`ImageH` grayscale BMP per doc, pixel (x, y) =
    * `(doc_id·31 + y·W + x) mod 256` — real image bytes (decodable by any
    * BMP reader) whose pixel values the oracle recomputes symbolically.
    * Payload construction is map-side (iterator in/out); at 100 TB the
    * analogous source is a parquet-with-binary or `binaryFile` scan. */
  val ImageW = 12
  val ImageH = 8
  def syntheticImageLake(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast(LongType).as("media_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val gray = Array.tabulate(ImageW * ImageH)(i => ((id * 31 + i) % 256).toInt)
          val payload = ImageCodec.encodeGrayBmp(ImageW, ImageH, gray)
          MediaRecord(id, "image", "bmp", payload, payload.length.toLong)
        }
      }
  }

  /** REAL image decode over a media dataset: ImageIO per payload inside
    * one iterator-to-iterator `mapPartitions` pass — same batch shape as
    * [[extractFeaturesReal]], genuine pixels out. Undecodable payloads yield
    * `ok = false` with an empty grid (partition survives). */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        ImageCodec.decodeGray(r.payload) match {
          case Some((w, h, g)) => DecodedImage(r.media_id, w, h, g, ok = true)
          case None => DecodedImage(r.media_id, 0, 0, Array.empty, ok = false)
        }
      }
    }
  }

  /** REAL resize: decode (ImageIO) then nearest-neighbor resample to
    * (w, h), one fused map-side pass — decode feeds the resampler
    * iterator-to-iterator, pixels never ride a shuffle. */
  def resizeImages(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        ImageCodec.decodeGray(r.payload) match {
          case Some((w0, h0, g)) =>
            DecodedImage(r.media_id, w, h,
              ImageCodec.resizeNearest(w0, h0, g, w, h), ok = true)
          case None => DecodedImage(r.media_id, 0, 0, Array.empty, ok = false)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // Perceptual near-dup: dHash over decoded pixels + banded Hamming
  // pairing — the duplication class exact byte digests cannot see
  // (re-encoded / resized copies of the same image).
  // ------------------------------------------------------------------

  /** dHash grid: resize every image to (PhashW+1) x PhashH and compare
    * horizontal neighbors — 8x8 comparisons = 64 bits in one long. */
  val PhashW = 8
  val PhashH = 8

  /** A media lake with REAL duplicate structure, synthesized from the
    * documents table: every doc renders one of `classMod` base 12x8
    * patterns, base = doc_id % classMod, pixel(i) = (lin·i + quad·i²)
    * mod 256 with lin = (base % 256)·37 and quad = 11 + base/256, as a
    * genuine BMP. The quadratic term gives every base a DISTINCT
    * gradient structure, so distinct bases land far apart in dHash
    * space (a linear pattern would give every base the same +1 gradient
    * and collapse all hashes to within a few bits). Two controlled
    * variations make it a perceptual-dedup fixture:
    *
    *   - docs with doc_id % 3 == 0 ship the 2x NEAREST-UPSCALED copy
    *     (24x16, U(x,y) = B(y/2, x/2)) — DIFFERENT bytes, different
    *     dimensions, same image content. `floor(floor(24x/9)/2) =
    *     floor(12x/9)` makes its 9x8 resample IDENTICAL to the base's,
    *     so the dHash collides at distance 0: exactly the resized-
    *     duplicate class [[dedupBinary]] is blind to;
    *   - docs with doc_id % 5 == 0 perturb ONE base pixel
    *     (slot (doc_id*7) % 96, +128 mod 256) BEFORE any upscale — a
    *     small visual edit that flips at most 2 dHash bits (or 0, when
    *     the perturbed column is one the 12->9 resample never samples —
    *     sub-sample noise vanishing is perceptual-hash semantics).
    *
    * With the default 64 classes the pairs grow ~n²/64 — output volume,
    * not operator cost; the auto-dial rows pass classMod = max(64, n/16)
    * so class size stays ~16 and the pair output linear. Base feeds BOTH
    * coefficients because everything is mod 256: a single-coefficient
    * family has at most 256 distinct images, while (lin, quad) stays
    * distinct for every base below 256·245 = 62 720 (quad mod 256 first
    * wraps to 0 at base/256 = 245). Two classes landing within Hamming 3 of
    * each other are expected output: the oracle runs the same arithmetic.
    *
    * Pixel values are pure integer arithmetic on doc_id, so the oracle
    * recomputes every hash symbolically (the [[syntheticImageLake]]
    * precedent); the Spark side goes through the REAL BMP encode +
    * ImageIO decode + resample. */
  def phashLake(spark: SparkSession, sfDir: String,
                classMod: Long = 64L): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast(LongType).as("media_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val base = id % classMod
          val lin = (base % 256) * 37
          val quad = 11 + base / 256
          val gray0 = Array.tabulate(ImageW * ImageH)(i =>
            ((lin * i + quad * i * i) % 256).toInt)
          if (id % 5 == 0) {
            val p = ((id * 7) % 96).toInt
            gray0(p) = (gray0(p) + 128) % 256
          }
          val payload =
            if (id % 3 == 0) {
              val up = Array.tabulate(ImageW * 2 * ImageH * 2) { j =>
                val x = j % (ImageW * 2); val y = j / (ImageW * 2)
                gray0((y / 2) * ImageW + x / 2)
              }
              ImageCodec.encodeGrayBmp(ImageW * 2, ImageH * 2, up)
            } else ImageCodec.encodeGrayBmp(ImageW, ImageH, gray0)
          MediaRecord(id, "image", "bmp", payload, payload.length.toLong)
        }
      }
  }

  /** 64-bit dHash over a (PhashW+1) x PhashH grayscale grid column: bit
    * j (x = j % 8, y = j / 8) is set iff pixel (x+1, y) > pixel (x, y).
    * Pure codegen'd integer comparisons folded with bit-or (the
    * [[graft.ops.Quantization.binarize]] shape — bit 63 rides as a mask
    * literal, no shift is evaluated at width 64). */
  private[ops] def dhash64(gray: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (0 until PhashW * PhashH).map { j =>
      val x = j % PhashW; val y = j / PhashW
      when(element_at(gray, y * (PhashW + 1) + x + 2) >
           element_at(gray, y * (PhashW + 1) + x + 1), lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Perceptual image near-dup: REAL decode (ImageIO) -> 9x8 nearest
    * resample -> dHash -> banded Hamming pairing at distance <=
    * `maxDist` ([[Dedup.hammingPairsFromSig]] — the 64-bit
    * [[Dedup.simhashPairs]] topology, pigeonhole-complete for maxDist <= 3). One row per
    * near-dup pair: (d1, d2, hamming), d1 < d2.
    *
    * Scale shape: decode + hash are one iterator-to-iterator map pass
    * (pixels never shuffle — only the 8-byte hash and ids leave the
    * scan); pairing runs at the distinct-signature level with every
    * corpus-derived join side pinned SHUFFLE_MERGE. This is the
    * multimodal twin of the exact-substring family: [[dedupBinary]]
    * catches byte-identical assets only — a re-encoded or resized
    * duplicate sails through it and is caught here. */
  def dedupPhash(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    val sig = imagePrints(media)
      .select(col("media_id").as("doc_id"), col("fp").as("simhash"))
    Dedup.hammingPairsFromSig(sig, 64, maxDist)
  }

  /** (media_id, fp) per decodable image: REAL decode → 9x8 resample →
    * 64-bit dHash — [[dedupPhash]]'s signature stage, factored out for
    * the mixed print table. */
  def imagePrints(media: Dataset[MediaRecord]): DataFrame =
    resizeImages(media, PhashW + 1, PhashH).toDF()
      .where(col("ok"))
      .select(col("media_id"), dhash64(col("gray")).as("fp"))

  // ------------------------------------------------------------------
  // Real audio decode (pure JVM, javax.sound.sampled) — no stub. The
  // JDK ships a real RIFF/WAVE PCM codec, so the audio path mirrors the
  // image one: synthesize genuine WAV files whose samples the oracle
  // recomputes symbolically, decode ACTUAL PCM back through the JDK
  // codec, fingerprint map-side, pair via the simhash64 banding.
  // ------------------------------------------------------------------

  /** A decoded PCM clip: 16-bit mono samples widened to Int. */
  final case class DecodedAudio(
      media_id: Long, sample_rate: Int, n_samples: Int,
      samples: Array[Int], ok: Boolean)

  /** Base sample rate of the synthetic lake (Hz). */
  val AudioRate = 8000
  /** Samples per energy frame of the fingerprint. */
  val FrameLen = 32
  /** Frames per clip: 65 energies → 64 delta bits → one 64-bit print. */
  val AudioFrames = 65
  /** Samples per base-rate clip. */
  val AudioLen: Int = FrameLen * AudioFrames

  object AudioCodec {
    /** Deterministic RIFF/WAVE encoder: 16-bit PCM, mono, little-endian —
      * the canonical-layout WAV any audio reader decodes. Used to
      * synthesize real audio payloads whose sample values the oracle can
      * recompute symbolically. */
    def encodePcmWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2) // block align
        .putShort(16) // bits per sample
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { b.putShort(samples(i)); i += 1 }
      b.array()
    }

    /** The JDK's audio-file readers, resolved ONCE per JVM.
      * `AudioSystem.getAudioInputStream` re-walks the provider registry
      * under a global lock on EVERY call — measured 6.2 ms/clip across
      * 32 threads vs 70 µs single-threaded (a ~90× concurrency collapse
      * that put the 100× fingerprint probe at 178 s). Loading the SPI
      * readers through the public ServiceLoader once and probing them
      * directly is the lock-free path to the SAME JDK codec. */
    private lazy val readers: Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .iterator().asScala.toSeq
    }

    private def audioStream(payload: Array[Byte])
        : Option[javax.sound.sampled.AudioInputStream] =
      readers.iterator.flatMap { r =>
        try Some(r.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload)))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case _: java.io.IOException => None
        }
      }.nextOption()

    /** Canonical-layout RIFF/PCM parser — the HOT path. The JDK codec
      * serializes internally under concurrency (measured: 10k decodes in
      * 0.69 s on one thread, 320k in 28 s on THIRTY-TWO — zero parallel
      * speedup, which put the 100× fingerprint probe at ~178 s), so the
      * standard chunk walk (RIFF → fmt PCM 16-bit mono → data) is decoded
      * by hand here, lock-free; anything non-canonical falls back to
      * [[decodePcm16Jdk]]. The spec cross-validates this parser against
      * the JDK codec on identical bytes. */
    private def parsePcmWav(b: Array[Byte]): Option[(Int, Array[Short])] = {
      if (b == null || b.length < 44) return None
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(0) != 0x46464952 || bb.getInt(8) != 0x45564157)
        return None // 'RIFF' … 'WAVE' little-endian tags
      var off = 12
      var rate = -1
      var pcm16Mono = false
      var dataOff = -1
      var dataLen = -1
      while (off + 8 <= b.length) {
        val id = bb.getInt(off)
        val size = bb.getInt(off + 4)
        // overflow-safe form (see parseAvi): a huge declared size must
        // fail the bound, not wrap the Int sum negative
        if (size < 0 || size > b.length - off - 8) return None
        if (id == 0x20746d66 && size >= 16) { // 'fmt '
          pcm16Mono = bb.getShort(off + 8) == 1 && // PCM
            bb.getShort(off + 10) == 1 && // mono
            bb.getShort(off + 22) == 16 // bits
          rate = bb.getInt(off + 12)
        } else if (id == 0x61746164) { // 'data'
          dataOff = off + 8
          dataLen = size
        }
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      if (!pcm16Mono || rate <= 0 || dataOff < 0) return None
      val out = new Array[Short](dataLen / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(dataOff + 2 * i); i += 1 }
      Some((rate, out))
    }

    /** Decode through the JDK's javax.sound codec (any format its SPI
      * readers accept) — the fallback for non-canonical layouts and the
      * cross-validation reference for [[parsePcmWav]]. */
    def decodePcm16Jdk(payload: Array[Byte]): Option[(Int, Array[Short])] = {
      if (payload == null) return None
      try {
        val ais = audioStream(payload).getOrElse(return None)
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val bytes = ais.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new Array[Short](bytes.length / 2)
          var i = 0
          while (i < out.length) { out(i) = bb.getShort(); i += 1 }
          Some((fmt.getSampleRate.toInt, out))
        }
      } catch { case _: Exception => None }
    }

    /** REAL decode: payload bytes → (sampleRate, 16-bit mono samples) —
      * the lock-free canonical parser first, the JDK codec for anything
      * it declines. Returns None for null / undecodable / non-16-bit-mono
      * payloads — the caller maps that to ok=false rather than failing
      * the partition (one corrupt asset must not kill a 100 TB scan). */
    def decodePcm16(payload: Array[Byte]): Option[(Int, Array[Short])] =
      parsePcmWav(payload).orElse(decodePcm16Jdk(payload))
  }

  /** Synthetic WAV lake with REAL duplicate structure (the [[phashLake]]
    * recipe in sample space): every doc renders one of `classMod` base
    * clips — base = doc_id % classMod, sample(i) = ((lin·i + quad·i²)
    * mod 4096) − 2048 with lin = (base % 4096)·7 + 3 and
    * quad = 13 + base / 4096 (base feeds BOTH coefficients: mod-4096
    * arithmetic caps any single-coefficient family at 4096 distinct
    * clips — the [[phashLake]] wrap argument, one level up). Two
    * controlled variations:
    *
    *   - docs with doc_id % 3 == 0 ship the 2× NEAREST-UPSAMPLED clip
    *     (sample rate 16 kHz, U(j) = s(j/2)) — different bytes,
    *     different rate, same audio content; the fingerprint's rate
    *     normalization decimates it back to s exactly, so the print
    *     collides at distance 0 (the re-encoded-duplicate class exact
    *     byte digests are blind to);
    *   - docs with doc_id % 5 == 0 bump ONE sample (+512 at position
    *     (doc_id·11) % AudioLen) BEFORE any upsample — a small audible
    *     edit that changes one frame energy and flips at most 2 delta
    *     bits.
    *
    * Sample values are pure integer arithmetic on doc_id, so the oracle
    * recomputes every clip symbolically; the Spark side goes through the
    * REAL WAV encode + javax.sound decode. */
  def audioLake(spark: SparkSession, sfDir: String,
                classMod: Long = 64L): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast(LongType).as("media_id"))
      .as[Long]
      // a real media lake arrives in many splits (TBs of payload); this
      // synthetic one derives 4 KB payloads from 8-byte ids, so a 500k-doc
      // documents file is ONE 128 MB-rule scan split and the CPU-heavy
      // decode downstream would run single-core (measured: 192 s for the
      // 100x fingerprint probe, 3x over linear). Spreading the IDs before
      // synthesis is one trivial shuffle of longs and restores the
      // parallelism the real source shape has (65 s, linear per decade).
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val base = id % classMod
          val lin = (base % 4096) * 7 + 3
          val quad = 13 + base / 4096
          val s = Array.tabulate(AudioLen)(i =>
            ((lin * i + quad * i.toLong * i) % 4096 - 2048).toShort)
          if (id % 5 == 0) {
            val p = ((id * 11) % AudioLen).toInt
            s(p) = (s(p) + 512).toShort
          }
          val payload =
            if (id % 3 == 0) {
              val up = Array.tabulate(AudioLen * 2)(j => s(j / 2))
              AudioCodec.encodePcmWav(AudioRate * 2, up)
            } else AudioCodec.encodePcmWav(AudioRate, s)
          MediaRecord(id, "audio", "wav", payload, payload.length.toLong)
        }
      }
  }

  /** REAL audio decode over a media dataset: javax.sound per payload in
    * one iterator-to-iterator `mapPartitions` pass — same batch shape as
    * [[decodeImages]], genuine PCM out. */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        AudioCodec.decodePcm16(r.payload) match {
          case Some((rate, s)) =>
            DecodedAudio(r.media_id, rate, s.length, s.map(_.toInt), ok = true)
          case None => DecodedAudio(r.media_id, 0, 0, Array.empty, ok = false)
        }
      }
    }
  }

  /** Acoustic near-dup: REAL WAV decode → rate normalization → frame-
    * energy fingerprint → banded Hamming pairing at distance ≤ `maxDist`
    * ([[Dedup.hammingPairsFromSig]] — the 64-bit simhashPairs topology). One
    * row per near-dup pair: (d1, d2, hamming), d1 < d2.
    *
    * Scale shape: decode + energies + print are one map pass (PCM never
    * shuffles — only the 8-byte print and ids leave the scan); pairing
    * runs at the distinct-signature level, corpus-derived join sides
    * pinned SHUFFLE_MERGE. The audio twin of [[dedupPhash]]: re-sampled
    * or re-encoded copies of the same clip sail through [[dedupBinary]]
    * and are caught here. */
  def dedupAudio(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    val sig = audioFingerprints(media)
      .select(col("media_id").as("doc_id"), col("fp").as("simhash"))
    Dedup.hammingPairsFromSig(sig, 64, maxDist)
  }

  /** REAL resample: decode (javax.sound) then nearest-neighbor decimate
    * to `targetRate` (out(i) = in(i·rate/targetRate) — the integer-exact
    * baseline every audio pipeline starts from; [[resizeImages]] one
    * modality over), one fused map-side pass. Clips whose rate is not a
    * multiple of the target survive as ok=false (a fractional-ratio
    * resampler is an interpolation-kernel choice, out of scope for the
    * exact-arithmetic baseline). */
  def resampleAudio(media: Dataset[MediaRecord],
                    targetRate: Int): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        AudioCodec.decodePcm16(r.payload) match {
          case Some((rate, s)) if rate % targetRate == 0 =>
            val step = rate / targetRate
            val out = Array.tabulate(s.length / step)(i => s(i * step).toInt)
            DecodedAudio(r.media_id, targetRate, out.length, out, ok = true)
          case _ => DecodedAudio(r.media_id, 0, 0, Array.empty, ok = false)
        }
      }
    }
  }

  /** (media_id, fp) per decodable clip: decode → rate-normalize →
    * frame energies → 64-bit energy-delta print, fused into ONE
    * iterator-to-iterator pass. The energy loop is imperative JVM code
    * in the same partition pass that decoded the PCM (the ImageIO
    * precedent): at 2080 samples/clip the HOF-expression formulation
    * (nested transform/aggregate — interpreted lambdas, no codegen)
    * measured ~40% slower at sf0.1 and the samples never need to exist
    * as a Catalyst array at all — only the 8-byte print and the id
    * leave the scan. */
  def audioFingerprints(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        AudioCodec.decodePcm16(r.payload).flatMap { case (rate, s) =>
          // fractional-ratio clips (e.g. 12 kHz over the 8 kHz base) are
          // OUT OF SCOPE, same as resampleAudio: truncating division
          // would silently fingerprint them un-normalized (step=1) and
          // break the documented rate-invariance
          val step = rate / AudioRate
          if (rate % AudioRate != 0 || step < 1 ||
            s.length < AudioLen * step) None
          else {
            val en = new Array[Long](AudioFrames)
            var f = 0
            while (f < AudioFrames) {
              var acc = 0L
              var k = 0
              while (k < FrameLen) {
                val v = s((f * FrameLen + k) * step).toLong
                acc += v * v
                k += 1
              }
              en(f) = acc
              f += 1
            }
            var fp = 0L
            var j = 0
            while (j < AudioFrames - 1) {
              if (en(j + 1) > en(j)) fp |= (1L << j)
              j += 1
            }
            Some((r.media_id, fp))
          }
        }
      }
    }.toDF("media_id", "fp")
  }

  // ------------------------------------------------------------------
  // Real video decode (pure JVM).
  // AVI is RIFF (the container family the audio path already walks):
  // LIST(hdrl){avih, LIST(strl){strh, strf}} then LIST(movi){00db...}.
  // The lake synthesizes genuine AVI files with uncompressed 24-bit DIB
  // frames (the BMP pixel layout per frame — bottom-up rows, 4-byte row
  // padding), the walker decodes ACTUAL frames back, and the oracle
  // recomputes every pixel symbolically. MJPEG ('00dc' chunks, JPEG
  // payloads) decodes through the JDK's ImageIO codec — real but lossy,
  // so it is spec-verified rather than oracle-hashed.
  // ------------------------------------------------------------------

  /** A decoded video: spatial dims, frame rate, and all frames' gray
    * pixels flattened frame-major (frame q occupies
    * `[q·width·height, (q+1)·width·height)`). */
  final case class DecodedVideo(
      media_id: Long, width: Int, height: Int, fps: Int, n_frames: Int,
      gray: Array[Int], ok: Boolean)

  /** One real sampled frame: row-major top-down gray pixels. */
  final case class RealFrame(media_id: Long, frame_no: Long, gray: Array[Int])

  /** Frames per base-rate clip (odd, so the majority fingerprint vote
    * can never tie). */
  val VideoFrames = 17
  /** Base frame rate of the synthetic lake (frames/s). */
  val VideoFps = 10

  object VideoCodec {
    private val FccRIFF = 0x46464952 // 'RIFF'
    private val FccAVI = 0x20495641 // 'AVI '
    private val FccLIST = 0x5453494c // 'LIST'
    private val FccAvih = 0x68697661 // 'avih'
    private val FccStrh = 0x68727473 // 'strh'
    private val FccStrf = 0x66727473 // 'strf'
    private val FccVids = 0x73646976 // 'vids'
    private val FccMjpg = 0x47504a4d // 'MJPG'

    /** The AVI container both frame encoders write into: one 'vids'
      * stream, frame rate as strh dwRate/dwScale, canonical chunk order
      * hdrl(avih, strl(strh, strf)) then movi(`chunkId`...), each frame
      * chunk word-aligned. `handler` is the strh fccHandler,
      * `compression` and `imageSize` the strf biCompression and
      * biSizeImage; the suggested buffer size is the largest frame. */
    private def encodeAvi(w: Int, h: Int, fps: Int, handler: String,
        compression: Int, imageSize: Int, chunkId: String,
        frames: Array[Array[Byte]]): Array[Byte] = {
      require(fps > 0, s"fps must be positive, got $fps")
      val n = frames.length
      val bufSize = (imageSize +: frames.map(_.length)).max
      val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
      val strlSize = 4 + 8 + 56 + 8 + 40
      val hdrlSize = 4 + 8 + 56 + 8 + strlSize
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      val b = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(s: String): Unit = b.put(s.getBytes("US-ASCII"))
      fcc("RIFF"); b.putInt(riffSize); fcc("AVI ")
      fcc("LIST"); b.putInt(hdrlSize); fcc("hdrl")
      fcc("avih"); b.putInt(56)
      b.putInt(1000000 / fps).putInt(bufSize * fps).putInt(0).putInt(0)
        .putInt(n).putInt(0).putInt(1).putInt(bufSize)
        .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      fcc("LIST"); b.putInt(strlSize); fcc("strl")
      fcc("strh"); b.putInt(56)
      fcc("vids"); fcc(handler)
      b.putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(fps) // dwScale, dwRate: fps = rate/scale
        .putInt(0).putInt(n).putInt(bufSize).putInt(0).putInt(0)
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      fcc("strf"); b.putInt(40)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(compression).putInt(imageSize).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      fcc("LIST"); b.putInt(moviSize); fcc("movi")
      frames.foreach { f =>
        fcc(chunkId); b.putInt(f.length); b.put(f)
        if ((f.length & 1) == 1) b.put(0.toByte)
      }
      b.array()
    }

    /** Deterministic AVI encoder: uncompressed 24-bit DIB frames in
      * '00db' chunks (gray replicated to b=g=r, bottom-up rows, 4-byte
      * row padding — the BITMAPINFOHEADER pixel layout of
      * [[ImageCodec.encodeGrayBmp]]). */
    def encodeAviDib(w: Int, h: Int, fps: Int,
                     frames: Array[Array[Int]]): Array[Byte] = {
      frames.foreach(f => require(f.length == w * h,
        s"need $w*$h pixels per frame, got ${f.length}"))
      encodeAvi(w, h, fps, "DIB ", 0, (w * 3 + 3) / 4 * 4 * h, "00db",
        frames.map(ImageCodec.dibPixels(w, h, _)))
    }

    /** MJPEG AVI encoder: '00dc' chunks holding real JPEG bytes (the
      * JDK's ImageIO JPEG codec). Lossy by nature — the fixture for the
      * spec's cross-codec test, not for oracle rows. */
    def encodeAviMjpeg(w: Int, h: Int, fps: Int,
                       frames: Array[Array[Int]]): Array[Byte] = {
      val jpegs = frames.map { g =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < g.length) {
          val v = g(i) & 0xff
          img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      encodeAvi(w, h, fps, "MJPG", FccMjpg, 0, "00dc", jpegs)
    }

    /** Lock-free AVI walk + frame decode — the audio path's canonical
      * RIFF chunk walk, one container level deeper (LIST chunks recurse).
      * Returns (width, height, fps, frames as gray row-major top-down) or
      * None for null / malformed / unsupported payloads — one corrupt
      * asset must not kill a 100 TB scan. Uncompressed 24-bit DIB frames
      * ('..db') decode by hand (bottom-up BGR rows, blue channel as gray
      * — the [[ImageCodec.decodeGray]] convention); MJPEG frames ('..dc'
      * under the MJPG fourcc) decode through the JDK's ImageIO JPEG
      * codec. */
    def parseAvi(payload: Array[Byte])
        : Option[(Int, Int, Int, Array[Array[Int]])] = {
      if (payload == null || payload.length < 24) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(0) != FccRIFF || bb.getInt(8) != FccAVI) return None
      var w = -1; var h = -1; var rate = -1; var scale = -1
      var compression = 0; var bitCount = 0
      var bad = false
      val frameChunks = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, Boolean)] // (offset, size, isCompressed)
      def walk(start: Int, end: Int): Unit = {
        var off = start
        while (!bad && off + 8 <= end) {
          val id = bb.getInt(off)
          val size = bb.getInt(off + 4)
          // `size > end - off - 8`, NOT `off + 8 + size > end`: a huge
          // declared size would overflow the Int sum to negative, pass
          // the guard, wrap `off` negative, and throw out of the buffer
          // — one corrupt asset must return None, never kill the task
          if (size < 0 || size > end - off - 8) { bad = true; return }
          if (id == FccLIST && size >= 4) {
            // descend into hdrl/strl/movi lists uniformly
            walk(off + 12, off + 8 + size)
          } else if (id == FccAvih && size >= 56) {
            w = bb.getInt(off + 8 + 32); h = bb.getInt(off + 8 + 36)
          } else if (id == FccStrh && size >= 56 &&
            bb.getInt(off + 8) == FccVids) {
            scale = bb.getInt(off + 8 + 20); rate = bb.getInt(off + 8 + 24)
          } else if (id == FccStrf && size >= 40) {
            bitCount = bb.getShort(off + 8 + 14)
            compression = bb.getInt(off + 8 + 16)
          } else if ((id >>> 16) == 0x6264) { // '..db': uncompressed DIB
            frameChunks += ((off + 8, size, false))
          } else if ((id >>> 16) == 0x6364) { // '..dc': compressed
            frameChunks += ((off + 8, size, true))
          }
          off += 8 + size + (size & 1) // chunks are word-aligned
        }
      }
      walk(12, payload.length)
      if (bad || w <= 0 || h <= 0 || scale <= 0 || rate <= 0) return None
      val fps = rate / scale
      if (fps <= 0) return None
      val rowSize = (w * 3 + 3) / 4 * 4
      val frames = new Array[Array[Int]](frameChunks.length)
      var q = 0
      while (q < frameChunks.length) {
        val (off, size, isDc) = frameChunks(q)
        if (!isDc) {
          if (bitCount != 24 || compression != 0 || size != rowSize * h)
            return None
          val g = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              g(y * w + x) =
                payload((h - 1 - y) * rowSize + x * 3 + off) & 0xff
              x += 1
            }
            y += 1
          }
          frames(q) = g
        } else {
          if (compression != FccMjpg) return None
          val chunk = java.util.Arrays.copyOfRange(payload, off, off + size)
          ImageCodec.decodeGray(chunk) match {
            case Some((fw, fh, g)) if fw == w && fh == h => frames(q) = g
            case _ => return None
          }
        }
        q += 1
      }
      Some((w, h, fps, frames))
    }
  }

  /** Synthetic AVI lake with REAL duplicate structure — the [[audioLake]]
    * recipe lifted to the time axis: every doc renders one of `classMod`
    * base 17-frame clips of 12x8 frames — base = doc_id % classMod,
    * pixel(f, i) = (lin·i + quad·i² + 29·f) mod 256 with
    * lin = (base % 256)·37 and quad = 11 + base/256 (base feeds BOTH
    * coefficients — the [[phashLake]] wrap argument). Two
    * controlled variations:
    *
    *   - docs with doc_id % 3 == 0 ship the 2× FRAME-RATE-upsampled copy
    *     (20 fps, every frame duplicated: U(q) = F(q/2)) — different
    *     bytes, different frame count, same video content; the
    *     fingerprint's rate normalization decimates it back onto the
    *     base frame sequence exactly, so the print collides at distance
    *     0 (the re-timed-duplicate class [[dedupBinary]] is blind to);
    *   - docs with doc_id % 5 == 0 bump ONE pixel (+128 mod 256 at slot
    *     (doc_id·7) % 96) in EVERY frame BEFORE any upsample — a
    *     watermark/logo-style edit that flips the same ≤ 2 dHash bits
    *     per frame and so stays within 2 bits of the majority print.
    *
    * Pixel values are pure integer arithmetic on doc_id, so the oracle
    * recomputes every frame symbolically; the Spark side goes through
    * the REAL AVI encode + chunk-walk decode. */
  def videoLake(spark: SparkSession, sfDir: String,
                classMod: Long = 64L): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast(LongType).as("media_id"))
      .as[Long]
      // spread the ids before the CPU-heavy synthesis/decode — the
      // audioLake lesson: a 100x id file is ONE scan split otherwise
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val base = id % classMod
          val lin = (base % 256) * 37
          val quad = 11 + base / 256
          val perturb = if (id % 5 == 0) ((id * 7) % 96).toInt else -1
          val baseFrames = Array.tabulate(VideoFrames) { f =>
            Array.tabulate(ImageW * ImageH) { i =>
              val v = ((lin * i + quad * i.toLong * i + 29L * f) % 256).toInt
              if (i == perturb) (v + 128) % 256 else v
            }
          }
          val payload =
            if (id % 3 == 0)
              VideoCodec.encodeAviDib(ImageW, ImageH, VideoFps * 2,
                Array.tabulate(VideoFrames * 2)(q => baseFrames(q / 2)))
            else
              VideoCodec.encodeAviDib(ImageW, ImageH, VideoFps, baseFrames)
          MediaRecord(id, "video", "avi", payload, payload.length.toLong)
        }
      }
  }

  /** REAL video decode over a media dataset: the AVI chunk walk per
    * payload in one iterator-to-iterator `mapPartitions` pass — same
    * batch shape as [[decodeImages]]/[[decodeAudio]], genuine frames
    * out (flattened frame-major). Undecodable payloads survive as
    * ok = false. */
  def decodeVideo(media: Dataset[MediaRecord]): Dataset[DecodedVideo] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        VideoCodec.parseAvi(r.payload) match {
          case Some((w, h, fps, frames)) =>
            val flat = new Array[Int](frames.length * w * h)
            var q = 0
            while (q < frames.length) {
              System.arraycopy(frames(q), 0, flat, q * w * h, w * h)
              q += 1
            }
            DecodedVideo(r.media_id, w, h, fps, frames.length, flat, ok = true)
          case None =>
            DecodedVideo(r.media_id, 0, 0, 0, 0, Array.empty, ok = false)
        }
      }
    }
  }

  /** REAL frame sampling on genuine decoded frames: every `stride`-th
    * frame of each decodable clip, as a 1→N flatMap over one decode pass
    * (pixels of skipped frames never leave the scan partition). Payloads
    * that are not AVI video yield no frames. */
  def frameSampleReal(media: Dataset[MediaRecord],
                      stride: Int): Dataset[RealFrame] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        VideoCodec.parseAvi(r.payload) match {
          case Some((_, _, _, frames)) =>
            Iterator.range(0, frames.length, stride)
              .map(q => RealFrame(r.media_id, q.toLong, frames(q)))
          case None => Iterator.empty
        }
      }
    }
  }

  /** (media_id, fp) per decodable clip: decode → frame-rate
    * normalization (take every `fps / VideoFps`-th frame — the audio
    * path's decimation on the time axis; non-multiple rates are skipped,
    * the documented fractional-ratio contract) → per-frame 64-bit dHash
    * (9x8 nearest resample + horizontal neighbor compares — the
    * [[dedupPhash]] hash, reused verbatim) → MAJORITY vote per bit over
    * the 17 normalized frames (odd count: no ties). A re-timed copy
    * votes on the identical frame multiset → distance 0; a per-frame
    * watermark flips the same ≤ 2 bits in every frame → within 2 bits.
    * One fused iterator pass: only the 8-byte print and ids leave the
    * scan. */
  def videoFingerprints(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        VideoCodec.parseAvi(r.payload).flatMap { case (w, h, fps, frames) =>
          val step = fps / VideoFps
          if (fps % VideoFps != 0 || step < 1 ||
            frames.length < VideoFrames * step) None
          else {
            val counts = new Array[Int](64)
            var k = 0
            while (k < VideoFrames) {
              val grid = ImageCodec.resizeNearest(
                w, h, frames(k * step), PhashW + 1, PhashH)
              var j = 0
              while (j < 64) {
                val x = j % PhashW; val y = j / PhashW
                if (grid(y * (PhashW + 1) + x + 1) >
                  grid(y * (PhashW + 1) + x)) counts(j) += 1
                j += 1
              }
              k += 1
            }
            var fp = 0L
            var j = 0
            while (j < 64) {
              if (counts(j) * 2 > VideoFrames) fp |= (1L << j)
              j += 1
            }
            Some((r.media_id, fp))
          }
        }
      }
    }.toDF("media_id", "fp")
  }

  /** Perceptual video near-dup: majority-of-frame-dHashes print →
    * banded Hamming pairing ([[Dedup.hammingPairsFromSig]] — the shared
    * simhash64 topology). The video twin of [[dedupAudio]]: re-timed or
    * re-containered copies of the same clip sail through [[dedupBinary]]
    * and are caught here. */
  def dedupVideo(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    val sig = videoFingerprints(media)
      .select(col("media_id").as("doc_id"), col("fp").as("simhash"))
    Dedup.hammingPairsFromSig(sig, 64, maxDist)
  }

  /** A mixed media lake: the three synthetic lakes (BMP images, WAV
    * audio, AVI video) unioned — the heterogeneous-asset shape a real
    * 100 TB media crawl has. ids repeat across modalities; rows key by
    * (modality, media_id). */
  def mixedLake(spark: SparkSession, sfDir: String): Dataset[MediaRecord] =
    syntheticImageLake(spark, sfDir)
      .unionByName(audioLake(spark, sfDir))
      .unionByName(videoLake(spark, sfDir))

  final case class RealFeatures(
      media_id: Long, modality: String, feature: Array[Long], ok: Boolean)

  /** REAL feature extraction over the mixed lake: genuine decoders,
    * one fixed-width integer feature vector (8 longs) per asset,
    * deterministic in the payload bytes, dispatched by payload sniffing
    * (RIFF/WAVE → PCM energies, RIFF/AVI → frame brightness, anything
    * ImageIO reads → gray histogram):
    *
    *   - image: 8-bin histogram of decoded gray values (bin = v / 32)
    *   - audio: first 8 frame energies (Σ s² over 32-sample frames) of
    *     the decoded stream at its native rate
    *   - video: per-frame brightness (Σ gray) of the first 8 payload
    *     frames
    *
    * Integer features end to end, so the oracle recomputes all three
    * modalities symbolically from the lake arithmetic. One
    * iterator-to-iterator pass; only the 64-byte vector leaves the
    * scan. Undecodable payloads survive as ok = false. */
  def extractFeaturesReal(media: Dataset[MediaRecord]): Dataset[RealFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val f = featuresOf(r.payload)
        RealFeatures(r.media_id, r.modality,
          f.getOrElse(Array.empty[Long]), ok = f.isDefined)
      }
    }
  }

  private def featuresOf(payload: Array[Byte]): Option[Array[Long]] = {
    if (payload == null || payload.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val isRiff = payload.length >= 12 && bb.getInt(0) == 0x46464952
    if (isRiff && bb.getInt(8) == 0x45564157) { // WAVE: frame energies
      AudioCodec.decodePcm16(payload).flatMap { case (_, s) =>
        if (s.length < 8 * FrameLen) None
        else Some(Array.tabulate(8) { f =>
          var acc = 0L
          var k = 0
          while (k < FrameLen) {
            val v = s(f * FrameLen + k).toLong; acc += v * v; k += 1
          }
          acc
        })
      }
    } else if (isRiff && bb.getInt(8) == 0x20495641) { // AVI : brightness
      VideoCodec.parseAvi(payload).flatMap { case (_, _, _, frames) =>
        if (frames.length < 8) None
        else Some(Array.tabulate(8) { f =>
          var acc = 0L
          var i = 0
          while (i < frames(f).length) { acc += frames(f)(i); i += 1 }
          acc
        })
      }
    } else { // image: gray histogram
      ImageCodec.decodeGray(payload).map { case (_, _, g) =>
        val h = new Array[Long](8)
        var i = 0
        while (i < g.length) { h(g(i) / 32) += 1; i += 1 }
        h
      }
    }
  }

  /** The 64-bit print table of a media batch over ALL THREE modalities:
    * (modality, media_id, fp) — image dHash prints, audio energy-delta
    * prints, video majority-dHash prints, each the fused map pass of
    * its fingerprint operator. */
  def mediaPrints(images: Dataset[MediaRecord],
                  audio: Dataset[MediaRecord],
                  video: Dataset[MediaRecord]): DataFrame =
    imagePrints(images)
      .select(lit("image").as("modality"), col("media_id"), col("fp"))
      .unionByName(audioFingerprints(audio)
        .select(lit("audio").as("modality"), col("media_id"), col("fp")))
      .unionByName(videoFingerprints(video)
        .select(lit("video").as("modality"), col("media_id"), col("fp")))

  /** [[mediaPrints]] over a HETEROGENEOUS batch, routed by the batch's
    * own modality metadata (the MIME-type column a real lake carries). */
  def mediaPrintsMixed(media: Dataset[MediaRecord]): DataFrame =
    // Column predicates, not typed lambdas: each modality's filter
    // reaches the scan (pushed into parquet on a persisted lake) instead
    // of deserializing every row to MediaRecord three times over
    mediaPrints(media.filter(col("modality") === "image"),
      media.filter(col("modality") === "audio"),
      media.filter(col("modality") === "video"))

  /** Pair a NEW media batch against an EXISTING print table
    * (modality, media_id, fp) — the micro-batch form of
    * [[dedupMediaIncremental]]: `foreachBatch` calls this per batch
    * against the stored prints and never re-decodes the old corpus.
    * Output (modality, d1 = old id, d2 = new id, hamming). */
  def dedupMediaAgainst(newMedia: Dataset[MediaRecord],
      oldPrints: DataFrame, maxDist: Int = 3): DataFrame =
    pairPrints(oldPrints, mediaPrintsMixed(newMedia), maxDist)

  private def pairPrints(oldPrints: DataFrame, newPrints: DataFrame,
                         maxDist: Int): DataFrame = {
    def asSig(df: DataFrame): DataFrame = df.select(col("modality"),
      col("media_id").as("doc_id"), col("fp").as("simhash"))
    Dedup.crossHammingPairs(asSig(oldPrints), asSig(newPrints),
      64, maxDist, Seq("modality"))
  }

  /** Incremental media near-dup — the [[Dedup.crossCorpusPairs]]
    * pattern on the perceptual axis: a NEW batch of assets pairs
    * against the EXISTING corpus, whose prints come from a persisted
    * [[FingerprintStore]] family (`mediafp`) — built on first run,
    * served from parquet after, so repeat batches never re-decode the
    * old corpus (at 100 TB: the daily-crawl shape — decode cost is paid
    * once per asset, ever). Orientation fixed d1 = old, d2 = new;
    * pairing is the cross-corpus banded Hamming join with modality
    * riding the join key ([[Dedup.crossHammingPairs]]), so one call
    * covers the heterogeneous lake. The parity filters run BEFORE
    * decode — only the new batch pays fingerprinting on a warm store. */
  def dedupMediaIncremental(spark: SparkSession, sfDir: String,
      classMod: Long = 63L, maxDist: Int = 3,
      storeRoot: Option[String] = None): DataFrame = {
    // the class dial must be ODD: with an even modulus every member of a
    // class shares the parity of its base (c, c+m, c+2m ... all ≡ c mod
    // 2), so the even/old–odd/new split would never place a copy of an
    // old asset in the new batch and the row would measure only
    // accidental cross-class collisions. An odd modulus alternates
    // parity down each class — the re-uploaded-asset structure the
    // incremental operator exists to catch.
    require(classMod % 2 == 1,
      s"dedupMediaIncremental: classMod must be odd, got $classMod")
    def prints(parity: Int): DataFrame = mediaPrints(
      phashLake(spark, sfDir, classMod)
        .filter(col("media_id") % 2 === parity),
      audioLake(spark, sfDir, classMod)
        .filter(col("media_id") % 2 === parity),
      videoLake(spark, sfDir, classMod)
        .filter(col("media_id") % 2 === parity))
    // the dial is part of the store key: the same corpus under a
    // different classMod synthesizes different payloads (the
    // CodeStoreVersion staleness contract)
    val oldPrints = FingerprintStore.getOrBuild(spark,
      s"$sfDir/documents.parquet", "mediafp", s"v2-iav-even-m$classMod",
      storeRoot)(prints(0))
    pairPrints(oldPrints, prints(1), maxDist)
  }

  /** One-row-per-modality inventory of the near-dup lakes — the media
    * twin of the text pipeline's `pipeline_report`: asset count, total
    * payload bytes, distinct perceptual prints, and the hamming-0
    * duplicate volume (assets sharing a print with another = count −
    * distinct). Pair-level detail lives in the `mm_dedup_*_auto` rows;
    * this is the cheap inventory pass a curation DAG runs first (print
    * stats need NO pair join — one aggregation over the print table). */
  def mediaReport(spark: SparkSession, sfDir: String,
                  classMod: Long = 64L): DataFrame = {
    val lakes: Seq[(String, Dataset[MediaRecord])] = Seq(
      "image" -> phashLake(spark, sfDir, classMod),
      "audio" -> audioLake(spark, sfDir, classMod),
      "video" -> videoLake(spark, sfDir, classMod))
    val assets = lakes.map { case (m, l) =>
      l.toDF().select(lit(m).as("modality"), col("byte_len"))
    }.reduce(_ unionByName _)
      .groupBy("modality")
      .agg(count(lit(1)).as("n_assets"), sum("byte_len").as("bytes_total"))
    val prints = mediaPrints(lakes(0)._2, lakes(1)._2, lakes(2)._2)
      .groupBy("modality")
      .agg(count(lit(1)).as("n_printed"),
        countDistinct(col("fp")).as("n_prints"))
      .select(col("modality"), col("n_prints"),
        (col("n_printed") - col("n_prints")).as("n_h0_dup_assets"))
    assets.join(prints, "modality")
      .select(col("modality"), col("n_assets"), col("bytes_total"),
        col("n_prints"), col("n_h0_dup_assets"))
  }

  /** Oracle-checkable metadata projection: byte length, md5 of the payload,
    * sniffed format — the plumbing the oracle can verify without a decoder. */
  def metaQuery(spark: SparkSession, sfDir: String): DataFrame =
    mediaFromEvents(spark, sfDir).toDF()
      .select(col("media_id"), col("modality"), col("format"), col("byte_len"),
        md5(col("payload")).as("payload_md5"))

  /** Asset-level exact dedup: one row per distinct payload, with the
    * canonical (lowest-id) copy and the copy count — the "same image
    * uploaded a million times" pass that runs BEFORE any decode in a media
    * pipeline, because dropping byte-identical assets is free and decoding
    * them is not.
    *
    * Scale: the md5 digest is computed map-side, so the shuffle carries
    * (16-byte digest, id) pairs and partial min/count aggregates — the
    * media bytes themselves never leave their scan partition. Same
    * one-shuffle shape as [[Dedup.exact]] on text. */
  def dedupBinary(media: Dataset[MediaRecord]): DataFrame =
    media.toDF()
      .groupBy(md5(col("payload")).as("asset_md5"))
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sum(col("byte_len")).as("bytes_total"))
}
