package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CacheScope
import graft.ops.{Dedup, Multimodal}

/** Multimodal rows: binary, image, audio and video feature extraction,
  * signatures and near-duplicate detection over the `media` table. */
object MultimodalRows {

  /** Frame-energy + 64-bit print CTEs over `asmp(doc_id, s)` (no leading
    * comma handled by callers): energies are 65 frame sums of squares,
    * print bit j = energy(j+1) > energy(j) with the signMasks literals. */
  private def audioSigCtes: String = {
    val masks = graft.ops.Quantization.signMasks(64)
      .map(m => s"($m)::BIGINT").mkString("[", ", ", "]")
    s"""aam AS (SELECT $masks AS ms),
       |aen AS (
       |  SELECT doc_id,
       |    list_transform(range(0, ${graft.ops.Multimodal.AudioFrames}), f ->
       |      list_aggregate(list_transform(range(0, ${graft.ops.Multimodal.FrameLen}),
       |        k -> s[f * ${graft.ops.Multimodal.FrameLen} + k + 1]
       |           * s[f * ${graft.ops.Multimodal.FrameLen} + k + 1]), 'sum')) AS en
       |  FROM asmp
       |), asig AS (
       |  SELECT doc_id,
       |    list_aggregate(list_transform(range(0, ${graft.ops.Multimodal.AudioFrames - 1}),
       |      j -> CASE WHEN en[j + 2] > en[j + 1] THEN ms[j + 1]
       |                ELSE 0::BIGINT END), 'bit_or') AS fp
       |  FROM aen, aam
       |)""".stripMargin
  }

  /** Image dHash print CTEs (no leading comma): the phashLake
    * arithmetic — spatial 2× upscale for doc_id % 3 = 0, watermark slot
    * for doc_id % 5 = 0, 9×8 nearest resample, neighbor-compare bits.
    * The class dial `cm` rides in from the audio branch's `aac` CTE, so
    * callers must have [[audioCtes]] in scope. Shared by
    * pipeline_media_report, mm_dedup_media_incremental, and
    * mm_dedup_recall. */
  private def imageSigCtes: String = {
    val masks = graft.ops.Quantization.signMasks(64)
      .map(m => s"($m)::BIGINT").mkString("[", ", ", "]")
    s"""pm AS (SELECT $masks AS ms),
       |pg AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_transform(range(0, 72), j ->
       |        (j // 9) * 12 +
       |        CASE WHEN doc_id % 3 = 0 THEN ((j % 9) * 24 // 9) // 2
       |             ELSE (j % 9) * 12 // 9 END),
       |      sl -> CASE WHEN doc_id % 5 = 0 AND sl = (doc_id * 7) % 96
       |                 THEN (((doc_id % cm) % 256) * 37 * sl
       |                       + (11 + (doc_id % cm) // 256) * sl * sl
       |                       + 128) % 256
       |                 ELSE (((doc_id % cm) % 256) * 37 * sl
       |                       + (11 + (doc_id % cm) // 256) * sl * sl)
       |                      % 256 END) AS g
       |  FROM documents, aac
       |),
       |psig AS (
       |  SELECT doc_id,
       |    list_aggregate(list_transform(range(0, 64),
       |      j -> CASE WHEN g[(j // 8) * 9 + (j % 8) + 2] >
       |                     g[(j // 8) * 9 + (j % 8) + 1]
       |           THEN ms[j + 1] ELSE 0::BIGINT END), 'bit_or') AS ph
       |  FROM pg, pm
       |)""".stripMargin
  }

  /** AVI-lake coefficient CTEs (no leading WITH): class dial `cm` from
    * `cmCte`, then the lin/quad pixel coefficients and the watermark
    * slot `pp` (−1 when absent) —
    * [[graft.ops.Multimodal.videoLake]] digit-for-digit. */
  private def videoCtes(cmCte: String): String =
    s"""vvc AS ($cmCte),
       |vvb AS (
       |  SELECT doc_id, ((doc_id % cm) % 256) * 37 AS lin,
       |         11 + (doc_id % cm) // 256 AS quad,
       |         CASE WHEN doc_id % 5 = 0 THEN (doc_id * 7) % 96
       |              ELSE -1 END AS pp
       |  FROM documents, vvc
       |)""".stripMargin

  /** The payload frame count / base-frame mapping as SQL fragments:
    * upsampled docs (doc_id % 3 = 0) carry 2× frames at 2× fps, payload
    * frame q showing base frame q/2. */
  private def videoNf: String =
    s"CASE WHEN doc_id % 3 = 0 THEN ${2 * graft.ops.Multimodal.VideoFrames}" +
      s" ELSE ${graft.ops.Multimodal.VideoFrames} END"
  private def videoBaseFrame(q: String): String =
    s"CASE WHEN doc_id % 3 = 0 THEN ($q) // 2 ELSE ($q) END"
  /** Pixel value of base frame `f`, slot `i` (both SQL fragments),
    * watermark applied. */
  private def videoPx(f: String, i: String): String =
    s"(lin * ($i) + quad * ($i) * ($i) + 29 * ($f)" +
      s" + CASE WHEN ($i) = pp THEN 128 ELSE 0 END) % 256"

  /** Majority-of-frame-dHashes print CTEs over `vvb` (no leading
    * comma): per base frame, the 9x8 nearest-resample grid (slot
    * (j//9)*12 + ((j%9)*12)//9 — the mm_dedup_phash resample one frame
    * at a time), dHash bit j = grid[x+1] > grid[x], then bit j of the
    * video print = majority over the 17 frames (odd: no ties). */
  private def videoSigCtes: String = {
    val masks = graft.ops.Quantization.signMasks(64)
      .map(m => s"($m)::BIGINT").mkString("[", ", ", "]")
    s"""vm AS (SELECT $masks AS ms),
       |vgrid AS (
       |  SELECT doc_id, ff.f AS f,
       |    list_transform(
       |      list_transform(range(0, 72), j ->
       |        (j // 9) * 12 + ((j % 9) * 12) // 9),
       |      sl -> ${videoPx("ff.f", "sl")}) AS g
       |  FROM vvb, LATERAL (SELECT unnest(range(0,
       |    ${graft.ops.Multimodal.VideoFrames})) AS f) ff
       |),
       |vbit AS (
       |  SELECT doc_id, jj.j AS j,
       |    CASE WHEN g[(jj.j // 8) * 9 + (jj.j % 8) + 2] >
       |              g[(jj.j // 8) * 9 + (jj.j % 8) + 1]
       |         THEN 1 ELSE 0 END AS b
       |  FROM vgrid, LATERAL (SELECT unnest(range(0, 64)) AS j) jj
       |),
       |vsig AS (
       |  SELECT doc_id,
       |    bit_or(CASE WHEN cnt * 2 > ${graft.ops.Multimodal.VideoFrames}
       |           THEN ms[j + 1] ELSE 0::BIGINT END) AS fp
       |  FROM (SELECT doc_id, j, sum(b) AS cnt FROM vbit
       |        GROUP BY doc_id, j), vm
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  /** WAV-lake sample CTEs (no leading WITH): class dial `cm` from
    * `cmCte`, then lin/quad coefficients and the perturbed base sample
    * list — [[graft.ops.Multimodal.audioLake]] digit-for-digit. */
  private def audioCtes(cmCte: String): String =
    s"""aac AS ($cmCte),
       |aab AS (
       |  SELECT doc_id, ((doc_id % cm) % 4096) * 7 + 3 AS lin,
       |         13 + (doc_id % cm) // 4096 AS quad
       |  FROM documents, aac
       |), asmp AS (
       |  SELECT doc_id,
       |    list_transform(range(0, ${graft.ops.Multimodal.AudioLen}), i ->
       |      ((lin * i + quad * i * i) % 4096) - 2048
       |      + CASE WHEN doc_id % 5 = 0
       |             AND i = (doc_id * 11) % ${graft.ops.Multimodal.AudioLen}
       |             THEN 512 ELSE 0 END) AS s
       |  FROM aab
       |)""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("mm_binary_meta", (s, dir) =>
      Multimodal.metaQuery(s, dir).orderBy("media_id"),
    """SELECT event_id AS media_id,
        |  CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  CASE WHEN substr(props, 1, 1) = '{' THEN 'json' ELSE 'raw' END AS format,
        |  CAST(length(props) AS BIGINT) AS byte_len,
        |  md5(props) AS payload_md5
        |FROM events ORDER BY media_id""".stripMargin),
    // Asset-level exact dedup BEFORE decode: only md5 digests shuffle,
    // never the media bytes.
    QueryDef("mm_dedup_binary", (s, dir) =>
      Multimodal.dedupBinary(Multimodal.mediaFromEvents(s, dir))
        .orderBy("keep_id"),
    """SELECT md5(props) AS asset_md5, min(event_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(sum(length(props)) AS BIGINT) AS bytes_total
        |FROM events GROUP BY asset_md5 ORDER BY keep_id""".stripMargin),

    // Perceptual near-dup — the class mm_dedup_binary is blind to: the
    // phash lake ships 2x-upscaled copies (different bytes, same image)
    // and one-pixel perturbations; REAL BMP decode -> 9x8 resample ->
    // dHash -> banded Hamming pairing. The oracle recomputes every hash
    // symbolically from the synthesis arithmetic, so a drift anywhere in
    // encode/decode/resample/hash/banding hash-mismatches the row.
    QueryDef("mm_dedup_phash", (s, dir) =>
      Multimodal.dedupPhash(Multimodal.phashLake(s, dir), 3)
        .orderBy("d1", "d2"),
    // Symbolic dHash replay of the phash lake: per doc, the 9x8 resample
    // reads base slot (y*12 + ((x*12*s)//9)//s) of pattern
    // (doc_id%64)*37*slot + slot^2*11 (mod 256, +128 at the perturbed
    // slot), bit j compares horizontal neighbors (mask literals + bit_or
    // — the binChain shape), pairs via the same 4x16-bit chunk banding.
    {
      val masks = graft.ops.Quantization.signMasks(64)
        .map(m => s"($m)::BIGINT").mkString("[", ", ", "]")
      s"""WITH pm AS (SELECT $masks AS ms),
         |pg AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_transform(range(0, 72), j ->
         |        (j // 9) * 12 +
         |        CASE WHEN doc_id % 3 = 0 THEN ((j % 9) * 24 // 9) // 2
         |             ELSE (j % 9) * 12 // 9 END),
         |      sl -> CASE WHEN doc_id % 5 = 0 AND sl = (doc_id * 7) % 96
         |                 THEN ((doc_id % 64) * 37 * sl + sl * sl * 11
         |                       + 128) % 256
         |                 ELSE ((doc_id % 64) * 37 * sl + sl * sl * 11)
         |                      % 256 END) AS g
         |  FROM documents
         |), psig AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, 64),
         |      j -> CASE WHEN g[(j // 8) * 9 + (j % 8) + 2] >
         |                     g[(j // 8) * 9 + (j % 8) + 1]
         |           THEN ms[j + 1] ELSE 0::BIGINT END), 'bit_or') AS ph
         |  FROM pg, pm
         |), pch AS (
         |  SELECT doc_id, ph, c, (ph >> (c * 16)) & 65535 AS ckey
         |  FROM psig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) cc
         |)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |FROM pch a JOIN pch b
         |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |ORDER BY d1, d2""".stripMargin
    }),

    // Auto-dialed lake: base-image class count = max(64, n/16), oracle-
    // recomputed from count(*). The fixed-64 lake's duplicate classes grow
    // with the corpus (pairs ~ n²/64 — output volume, not operator cost),
    // so THIS is the probe-valid row: class size stays ~16 at every scale
    // and the pair output stays linear.
    QueryDef("mm_dedup_phash_auto", (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      Multimodal.dedupPhash(
        Multimodal.phashLake(s, dir, math.max(64L, n / 16)), 3)
        .orderBy("d1", "d2")
    },
    // Same pipeline, auto-dialed lake: base = doc_id % cm with
    // cm = greatest(64, n/16) recomputed from count(*); pixel(i) =
    // ((base%256)*37*i + (11 + base//256)*i*i) % 256 — base feeds BOTH
    // coefficients because mod-256 arithmetic caps any single-coefficient
    // family at 256 distinct images (see Multimodal.phashLake).
    {
      val masks = graft.ops.Quantization.signMasks(64)
        .map(m => s"($m)::BIGINT").mkString("[", ", ", "]")
      s"""WITH pm AS (SELECT $masks AS ms),
         |cmv AS (SELECT greatest(64, count(*) // 16) AS cm FROM documents),
         |pg AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_transform(range(0, 72), j ->
         |        (j // 9) * 12 +
         |        CASE WHEN doc_id % 3 = 0 THEN ((j % 9) * 24 // 9) // 2
         |             ELSE (j % 9) * 12 // 9 END),
         |      sl -> CASE WHEN doc_id % 5 = 0 AND sl = (doc_id * 7) % 96
         |                 THEN (((doc_id % cm) % 256) * 37 * sl
         |                       + (11 + (doc_id % cm) // 256) * sl * sl
         |                       + 128) % 256
         |                 ELSE (((doc_id % cm) % 256) * 37 * sl
         |                       + (11 + (doc_id % cm) // 256) * sl * sl)
         |                      % 256 END) AS g
         |  FROM documents, cmv
         |), psig AS (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, 64),
         |      j -> CASE WHEN g[(j // 8) * 9 + (j % 8) + 2] >
         |                     g[(j // 8) * 9 + (j % 8) + 1]
         |           THEN ms[j + 1] ELSE 0::BIGINT END), 'bit_or') AS ph
         |  FROM pg, pm
         |), pch AS (
         |  SELECT doc_id, ph, c, (ph >> (c * 16)) & 65535 AS ckey
         |  FROM psig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) cc
         |)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |FROM pch a JOIN pch b
         |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |ORDER BY d1, d2""".stripMargin
    }),

    // REAL audio decode — the WAV twin of mm_decode: the lake synthesizes
    // genuine RIFF/WAVE PCM files (deterministic samples), javax.sound
    // decodes actual PCM back, the oracle recomputes the sample sequence
    // symbolically. A codec bug on either side (header layout, endianness,
    // the 2x-upsample rate tag) breaks the digest.
    QueryDef("mm_audio_decode", (s, dir) => {
      Multimodal.decodeAudio(Multimodal.audioLake(s, dir)).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("ok"),
          md5(concat_ws(",", col("samples").cast("array<string>")))
            .as("pcm_md5"))
        .orderBy("media_id")
    },
    // Symbolic replay of the WAV lake + JDK decode: %3 docs decode to the
    // 2x-upsampled sample stream (U(j) = s[j//2], rate 16 kHz); samples
    // ((lin*i + quad*i^2) % 4096) - 2048 (+512 at the %5 perturbation) —
    // the digest only matches a faithful RIFF encode -> javax.sound
    // decode round trip.
    "WITH " + audioCtes("SELECT 64 AS cm") +
      s"""
         |SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END AS sample_rate,
         |  CASE WHEN doc_id % 3 = 0 THEN ${2 * graft.ops.Multimodal.AudioLen}
         |       ELSE ${graft.ops.Multimodal.AudioLen} END AS n_samples,
         |  true AS ok,
         |  md5(array_to_string(
         |    CASE WHEN doc_id % 3 = 0
         |      THEN list_transform(range(0, ${2 * graft.ops.Multimodal.AudioLen}),
         |             j -> s[j // 2 + 1])
         |      ELSE s END, ',')) AS pcm_md5
         |FROM asmp ORDER BY media_id""".stripMargin),
    // REAL resample to the base rate: the 2x clips decimate back onto
    // their base samples exactly (nearest, integer arithmetic), the 1x
    // clips pass through — every doc lands on the SAME 8 kHz stream its
    // class defines, which is the property the fingerprint relies on.
    QueryDef("mm_audio_resample", (s, dir) => {
      Multimodal.resampleAudio(Multimodal.audioLake(s, dir),
        Multimodal.AudioRate).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("ok"),
          md5(concat_ws(",", col("samples").cast("array<string>")))
            .as("pcm_md5"))
        .orderBy("media_id")
    },
    // resample-to-base: every doc (1x passthrough or 2x decimated) lands
    // exactly on its class's base sample list
    "WITH " + audioCtes("SELECT 64 AS cm") +
      s"""
         |SELECT doc_id AS media_id,
         |  ${graft.ops.Multimodal.AudioRate} AS sample_rate,
         |  ${graft.ops.Multimodal.AudioLen} AS n_samples, true AS ok,
         |  md5(array_to_string(s, ',')) AS pcm_md5
         |FROM asmp ORDER BY media_id""".stripMargin),
    // 64-bit acoustic fingerprint: decode -> rate-normalizing decimation
    // -> 65 frame energies -> energy-delta bits. The 2x-upsampled clips
    // MUST print identically to their base (the oracle computes every
    // print from base samples only — a broken normalization mismatches).
    QueryDef("mm_audio_fingerprint", (s, dir) =>
      Multimodal.audioFingerprints(Multimodal.audioLake(s, dir))
        .orderBy("media_id"),
    // Energy-delta fingerprint from BASE samples only: the Spark side's
    // rate normalization must collapse the 2x clips back onto their base
    // for the prints to agree.
    "WITH " + audioCtes("SELECT 64 AS cm") +
      s""", ${audioSigCtes}
         |SELECT doc_id AS media_id, CAST(fp AS BIGINT) AS fp
         |FROM asig ORDER BY media_id""".stripMargin),
    // Acoustic near-dup, auto-dialed base-clip classes (the
    // mm_dedup_phash_auto convention: class size stays ~16, pair output
    // linear): re-sampled copies pair at distance 0, single-sample edits
    // within the Hamming budget.
    QueryDef("mm_dedup_audio_auto", (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      Multimodal.dedupAudio(
        Multimodal.audioLake(s, dir, math.max(64L, n / 16)), 3)
        .orderBy("d1", "d2")
    },
    // Same pipeline, auto-dialed class count, banded Hamming pairing (the
    // mm_dedup_phash_auto topology in sample space).
    "WITH " +
      audioCtes("SELECT greatest(64, count(*) // 16) AS cm FROM documents") +
      s""", ${audioSigCtes}
         |, ach AS (
         |  SELECT doc_id, CAST(fp AS BIGINT) AS ph, c,
         |         (CAST(fp AS BIGINT) >> (c * 16)) & 65535 AS ckey
         |  FROM asig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) cc
         |)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         |FROM ach a JOIN ach b
         |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |ORDER BY d1, d2""".stripMargin),

    // REAL video decode: the lake synthesizes genuine AVI containers
    // (uncompressed 24-bit DIB frames), the lock-free chunk walk decodes
    // actual frames back, and the oracle recomputes every pixel of every
    // frame symbolically. A
    // bug anywhere in container layout, row direction, channel order,
    // frame order, or the fps tag breaks the digest.
    QueryDef("mm_video_decode", (s, dir) => {
      Multimodal.decodeVideo(Multimodal.videoLake(s, dir)).toDF()
        .select(col("media_id"),
          col("width").cast(LongType).as("width"),
          col("height").cast(LongType).as("height"),
          col("fps").cast(LongType).as("fps"),
          col("n_frames").cast(LongType).as("n_frames"),
          col("ok"),
          md5(concat_ws(",", col("gray").cast("array<string>")))
            .as("gray_md5"))
        .orderBy("media_id")
    },
    // Symbolic replay of the AVI lake: every pixel of every payload
    // frame recomputed from the synthesis arithmetic (watermark slot,
    // upsampled base-frame mapping, the fps/frame-count tags), flattened
    // frame-major and digested — drift anywhere in AVI encode, the chunk
    // walk, DIB row order, or channel extraction hash-mismatches.
    "WITH " + videoCtes("SELECT 64 AS cm") +
      s""",
         |vflat AS (
         |  SELECT doc_id,
         |    flatten(list_transform(range(0, $videoNf), q ->
         |      list_transform(range(0, 96), i ->
         |        ${videoPx(videoBaseFrame("q"), "i")}))) AS g
         |  FROM vvb)
         |SELECT doc_id AS media_id,
         |  12::BIGINT AS width, 8::BIGINT AS height,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN 20 ELSE 10 END AS BIGINT)
         |    AS fps,
         |  CAST($videoNf AS BIGINT) AS n_frames,
         |  true AS ok,
         |  md5(array_to_string(g, ',')) AS gray_md5
         |FROM vflat ORDER BY media_id""".stripMargin),
    // REAL frame sampling: every 4th decoded frame of each video,
    // per-frame pixel digest — the 1->N flatMap rides the same decode
    // pass, skipped frames never leave the scan partition.
    QueryDef("mm_frame_sample_real", (s, dir) => {
      Multimodal.frameSampleReal(Multimodal.videoLake(s, dir), 4).toDF()
        .select(col("media_id"), col("frame_no"),
          md5(concat_ws(",", col("gray").cast("array<string>")))
            .as("frame_md5"))
        .orderBy("media_id", "frame_no")
    },
    // Every 4th payload frame, per-frame digest.
    "WITH " + videoCtes("SELECT 64 AS cm") +
      s"""
         |SELECT doc_id AS media_id, CAST(qq.q AS BIGINT) AS frame_no,
         |  md5(array_to_string(list_transform(range(0, 96), i ->
         |    ${videoPx(videoBaseFrame("qq.q"), "i")}), ',')) AS frame_md5
         |FROM vvb, LATERAL (SELECT unnest(range(0, $videoNf)) AS q) qq
         |WHERE qq.q % 4 = 0
         |ORDER BY media_id, frame_no""".stripMargin),
    // Perceptual video near-dup, auto-dialed base-clip classes (the
    // mm_dedup_phash_auto convention): per-frame dHash -> majority vote
    // -> banded Hamming pairing. Frame-rate-doubled copies pair at
    // distance 0, per-frame watermarks within the Hamming budget.
    QueryDef("mm_dedup_video_auto", (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      Multimodal.dedupVideo(
        Multimodal.videoLake(s, dir, math.max(64L, n / 16)), 3)
        .orderBy("d1", "d2")
    },
    // Majority-of-frame-dHashes print from BASE frames only (the Spark
    // side's fps normalization must collapse the 2x clips back onto
    // their base frame sequence), banded Hamming pairing.
    "WITH " +
      videoCtes("SELECT greatest(64, count(*) // 16) AS cm FROM documents") +
      s", $videoSigCtes" +
      """
        |, vch AS (
        |  SELECT doc_id, CAST(fp AS BIGINT) AS ph, c,
        |         (CAST(fp AS BIGINT) >> (c * 16)) & 65535 AS ckey
        |  FROM vsig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) cc
        |)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
        |FROM vch a JOIN vch b
        |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY d1, d2""".stripMargin),

    // REAL feature extraction over the MIXED lake (all three modalities
    // unioned, dispatch by payload sniffing): image gray histogram,
    // audio frame energies, video frame brightness — one fixed-width
    // integer vector per asset, every cell oracle-recomputed from the
    // lake arithmetic. The "one API over a heterogeneous media crawl"
    // shape.
    QueryDef("mm_feature_extract_real", (s, dir) =>
      Multimodal.extractFeaturesReal(Multimodal.mixedLake(s, dir)).toDF()
        .select(col("media_id"), col("modality"), col("ok"),
          md5(concat_ws(",", col("feature").cast("array<string>")))
            .as("feat_md5"))
        .orderBy("modality", "media_id"),
    // Mixed-lake real features: all three modalities' vectors
    // recomputed symbolically (image histogram over (id·31+i) mod 256,
    // audio energies over the asmp sample lists incl. the 2x-upsample
    // index map, video brightness over the frame pixel formula).
    "WITH " + audioCtes("SELECT 64 AS cm") +
      ", " + videoCtes("SELECT 64 AS cm") +
      s""",
         |fimg AS (
         |  SELECT doc_id AS media_id, 'image' AS modality, true AS ok,
         |    md5(array_to_string(list_transform(range(0, 8), b ->
         |      len(list_filter(range(0, 96), i ->
         |        ((doc_id * 31 + i) % 256) // 32 = b))), ',')) AS feat_md5
         |  FROM documents),
         |faud AS (
         |  SELECT doc_id AS media_id, 'audio' AS modality, true AS ok,
         |    md5(array_to_string(list_transform(range(0, 8), f ->
         |      list_aggregate(list_transform(range(0, 32), k ->
         |        CASE WHEN doc_id % 3 = 0
         |          THEN s[(f * 32 + k) // 2 + 1] * s[(f * 32 + k) // 2 + 1]
         |          ELSE s[f * 32 + k + 1] * s[f * 32 + k + 1]
         |        END), 'sum')), ',')) AS feat_md5
         |  FROM asmp),
         |fvid AS (
         |  SELECT doc_id AS media_id, 'video' AS modality, true AS ok,
         |    md5(array_to_string(list_transform(range(0, 8), q ->
         |      list_aggregate(list_transform(range(0, 96), i ->
         |        ${videoPx(videoBaseFrame("q"), "i")}), 'sum')), ','))
         |      AS feat_md5
         |  FROM vvb)
         |SELECT * FROM fimg UNION ALL SELECT * FROM faud
         |UNION ALL SELECT * FROM fvid
         |ORDER BY modality, media_id""".stripMargin),

    // Incremental media near-dup: odd-id assets (the "new batch") pair
    // against even-id assets (the "existing corpus") whose prints are
    // served from the persisted mediafp store — built on first run,
    // parquet after, so repeat batches never re-decode the old corpus.
    // One cross-corpus banded Hamming join with modality on the key
    // covers audio + video at once; auto-dialed classes.
    QueryDef("mm_dedup_media_incremental", (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      // odd dial: see dedupMediaIncremental's parity note
      Multimodal.dedupMediaIncremental(s, dir, math.max(63L, (n / 16) | 1L))
        .orderBy("modality", "d1", "d2")
    },
    // Incremental cross-corpus pairing: image + audio + video prints
    // recomputed symbolically for ALL docs, then every (even, odd) pair
    // within Hamming 3 per modality — the Spark side's store detour
    // must be invisible in the result (store build == fresh prints).
    "WITH " +
      audioCtes(
        "SELECT greatest(63, (count(*) // 16) | 1) AS cm FROM documents") +
      s", $audioSigCtes, " +
      videoCtes(
        "SELECT greatest(63, (count(*) // 16) | 1) AS cm FROM documents") +
      s", $videoSigCtes" +
      // image dHash under the same odd dial; cm rides in from the
      // audio branch's aac (see imageSigCtes)
      s", $imageSigCtes" +
      """
        |, mps AS (
        |  SELECT 'image' AS modality, doc_id, CAST(ph AS BIGINT) AS fp
        |  FROM psig
        |  UNION ALL
        |  SELECT 'audio' AS modality, doc_id, CAST(fp AS BIGINT) AS fp
        |  FROM asig
        |  UNION ALL
        |  SELECT 'video' AS modality, doc_id, CAST(fp AS BIGINT) AS fp
        |  FROM vsig),
        |mch AS (
        |  SELECT modality, doc_id, fp, cc.c,
        |         (fp >> (cc.c * 16)) & 65535 AS ckey
        |  FROM mps, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) cc)
        |SELECT DISTINCT a.modality AS modality, a.doc_id AS d1,
        |  b.doc_id AS d2,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM mch a JOIN mch b
        |  ON a.modality = b.modality AND a.c = b.c AND a.ckey = b.ckey
        |  AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY modality, d1, d2""".stripMargin),

    // Recall gate for the perceptual near-dup topology: per modality,
    // the banded Hamming pairing's pair count vs the EXACT
    // Hamming<=3 brute force over the same bounded sample (media_id <
    // 500 — all-pairs stays ~125k/modality at any sf). The banding is
    // pigeonhole-complete for maxDist <= 3, so the oracle DECLARES
    // recall 1.0 (n_banded = the brute-force count it computes): a
    // banding regression that drops any pair flips the committed
    // n_banded/recall_ok visibly. The ANN families' recall-row doctrine
    // applied to the media lakes.
    QueryDef("mm_dedup_recall", (s, dir) => {
      val bound = 500L
      val prints = CacheScope.cached(Multimodal.mediaPrints(
        Multimodal.phashLake(s, dir, 64)
          .filter(col("media_id") < bound),
        Multimodal.audioLake(s, dir, 64)
          .filter(col("media_id") < bound),
        Multimodal.videoLake(s, dir, 64)
          .filter(col("media_id") < bound)))
      // brute force: all pairs within a modality (bounded sample — the
      // quadratic side is the POINT of the row; never run unbounded)
      val exact = prints.as("a")
        .join(prints.as("b").hint("SHUFFLE_MERGE"),
          col("a.modality") === col("b.modality") &&
            col("a.media_id") < col("b.media_id"))
        .where(bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= 3)
        .groupBy(col("a.modality").as("modality"))
        .agg(count(lit(1)).as("n_exact"))
      // ONE keyed pairing over the heterogeneous print table (modality
      // rides every join) — three per-modality calls would rebuild the
      // distinct-signature level and its interior cache three times
      val banded = Dedup.hammingPairsFromSig(
        prints.select(col("modality"), col("media_id").as("doc_id"),
          col("fp").as("simhash")),
        64, 3, Seq("modality"))
        .groupBy("modality").agg(count(lit(1)).as("n_banded"))
      prints.groupBy("modality").agg(count(lit(1)).as("n_sampled"))
        .join(exact, Seq("modality"), "left")
        .join(banded, Seq("modality"), "left")
        .select(col("modality"), col("n_sampled"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_banded"), lit(0L)).as("n_banded"),
          when(coalesce(col("n_exact"), lit(0L)) > 0,
            graft.ops.TextAnalysis.round6(
              col("n_banded").cast("double") / col("n_exact")))
            .as("recall"),
          (coalesce(col("n_banded"), lit(0L)) >=
            coalesce(col("n_exact"), lit(0L))).as("recall_ok"))
        .orderBy("modality")
    },
    // Recall gate: the oracle computes the EXACT Hamming<=3 brute-force
    // pair count per modality over the bounded sample and DECLARES the
    // banded count equal (pigeonhole completeness for maxDist <= 3) —
    // recall 1.0. A Spark-side banding regression that drops a pair
    // mismatches n_banded/recall/recall_ok.
    "WITH " +
      audioCtes("SELECT 64 AS cm") +
      s", $audioSigCtes, " +
      videoCtes("SELECT 64 AS cm") +
      s", $videoSigCtes" +
      s", $imageSigCtes" +
      """
        |, mps AS (
        |  SELECT 'image' AS modality, doc_id, CAST(ph AS BIGINT) AS fp
        |  FROM psig WHERE doc_id < 500
        |  UNION ALL
        |  SELECT 'audio' AS modality, doc_id, CAST(fp AS BIGINT) AS fp
        |  FROM asig WHERE doc_id < 500
        |  UNION ALL
        |  SELECT 'video' AS modality, doc_id, CAST(fp AS BIGINT) AS fp
        |  FROM vsig WHERE doc_id < 500),
        |ex AS (
        |  SELECT a.modality, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM mps a JOIN mps b
        |    ON a.modality = b.modality AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |  GROUP BY a.modality),
        |ns AS (
        |  SELECT modality, CAST(count(*) AS BIGINT) AS n_sampled
        |  FROM mps GROUP BY modality)
        |SELECT ns.modality, ns.n_sampled,
        |  CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_banded,
        |  CASE WHEN coalesce(ex.n_exact, 0) > 0
        |       THEN floor(1.0 * 1000000 + 0.5) / 1000000 END AS recall,
        |  true AS recall_ok
        |FROM ns LEFT JOIN ex ON ns.modality = ex.modality
        |ORDER BY ns.modality""".stripMargin),

    // Media-lake inventory — the media twin of pipeline_report: one row
    // per modality with asset count, payload bytes (container sizes
    // recomputed symbolically by the oracle), distinct prints, and the
    // hamming-0 duplicate volume. Auto-dialed classes.
    QueryDef("pipeline_media_report", (s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      Multimodal.mediaReport(s, dir, math.max(64L, n / 16)).orderBy("modality")
    },
    // Inventory replay: container byte sizes are CLOSED-FORM from the
    // encoders' layouts (BMP 54 + rows, WAV 44 + 2·samples, AVI
    // 224 + 296·frames — a wrong header layout on the Spark side
    // mismatches bytes_total), prints from the three symbolic sig
    // chains at the same auto dial.
    "WITH " +
      audioCtes("SELECT greatest(64, count(*) // 16) AS cm FROM documents") +
      s", $audioSigCtes, " +
      videoCtes("SELECT greatest(64, count(*) // 16) AS cm FROM documents") +
      s", $videoSigCtes" +
      s", $imageSigCtes" +
      s""",
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
         |SELECT * FROM (
         |  SELECT 'audio' AS modality, nn.n AS n_assets,
         |    CAST((SELECT SUM(CASE WHEN doc_id % 3 = 0 THEN 8364
         |                          ELSE 4204 END) FROM documents)
         |      AS BIGINT) AS bytes_total,
         |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_prints,
         |    CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT)
         |      AS n_h0_dup_assets
         |  FROM asig, nn GROUP BY nn.n
         |  UNION ALL
         |  SELECT 'image', nn.n,
         |    CAST((SELECT SUM(CASE WHEN doc_id % 3 = 0 THEN 1206
         |                          ELSE 342 END) FROM documents)
         |      AS BIGINT),
         |    CAST(COUNT(DISTINCT ph) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT ph) AS BIGINT)
         |  FROM psig, nn GROUP BY nn.n
         |  UNION ALL
         |  SELECT 'video', nn.n,
         |    CAST((SELECT SUM(CASE WHEN doc_id % 3 = 0 THEN 10288
         |                          ELSE 5256 END) FROM documents)
         |      AS BIGINT),
         |    CAST(COUNT(DISTINCT fp) AS BIGINT),
         |    CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT)
         |  FROM vsig, nn GROUP BY nn.n
         |) ORDER BY modality""".stripMargin),

    // REAL decode: the lake synthesizes genuine BMP files
    // (deterministic pixels), ImageIO decodes actual pixels back, and the
    // oracle recomputes the expected pixel sequence symbolically. A codec
    // bug on either side (encoder layout, decoder channel order, row
    // direction) breaks the digest.
    QueryDef("mm_decode", (s, dir) => {
      Multimodal.decodeImages(Multimodal.syntheticImageLake(s, dir)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("ok"),
          md5(concat_ws(",", col("gray").cast("array<string>"))).as("gray_md5"))
        .orderBy("media_id")
    },
    // the synthesized 12x8 BMP's pixel i = (doc_id*31 + i) % 256 — the
    // Spark side goes through a REAL BMP encode + ImageIO decode; the
    // oracle regenerates the sequence directly, so only a faithful
    // encode→decode round trip matches
    """SELECT doc_id AS media_id, 12 AS width, 8 AS height, true AS ok,
        |  md5(array_to_string(list_transform(range(0, 96),
        |    i -> CAST((doc_id * 31 + i) % 256 AS INT)), ',')) AS gray_md5
        |FROM documents ORDER BY media_id""".stripMargin),
    // REAL resize: ImageIO decode + nearest-neighbor resample to 5x3 —
    // deliberately non-integer ratios (12/5, 8/3) so the floor arithmetic
    // is exercised; the oracle mirrors out(x,y) = in(y*H/h, x*W/w)
    // symbolically.
    QueryDef("mm_resize_real", (s, dir) => {
      Multimodal.resizeImages(Multimodal.syntheticImageLake(s, dir), 5, 3).toDF()
        .select(col("media_id"), col("width"), col("height"), col("ok"),
          md5(concat_ws(",", col("gray").cast("array<string>"))).as("gray_md5"))
        .orderBy("media_id")
    },
    // nearest-neighbor 12x8 -> 5x3: out j (x=j%5, y=j//5) samples source
    // index (y*8//3)*12 + x*12//5 of the same synthesized pixel sequence
    """SELECT doc_id AS media_id, 5 AS width, 3 AS height, true AS ok,
        |  md5(array_to_string(list_transform(range(0, 15),
        |    j -> CAST((doc_id * 31 +
        |      ((j // 5) * 8 // 3) * 12 + ((j % 5) * 12 // 5)) % 256 AS INT)),
        |    ',')) AS gray_md5
        |FROM documents ORDER BY media_id""".stripMargin)
  )
}
