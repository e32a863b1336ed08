package graft.llm

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Paths

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T}
import graft.llm.Multimodal.{GvidMime, MediaRecord, PpmMime, WavMime}

/** q180 — the multimodal decode seam as a DRIVER-CHECKED row (the
  * decoders were spec-only before; the reference serves media bodies
  * byte-for-byte, main.go:295-318, so decode correctness belongs under
  * the oracle gate, not only in unit tests).
  *
  * Shape: for every `doc_id < BlobDocBound` the fixture writer emits one
  * synthetic PPM image, WAV clip, and GVID clip whose payload bytes are
  * pure functions of the id; the query reads them back through the REAL
  * plumbing — a `binaryFile` scan → mime from extension →
  * [[Multimodal.decode]]'s mapPartitions batch seam — and joins each
  * decoded row against ground truth computed INDEPENDENTLY from the
  * generator's closed form (never by re-calling the decoder on the
  * bytes, which would be circular). `ok` requires exact equality of
  * dims and feature vectors (the expectation mirrors the decoder's
  * float-arithmetic order, so matching is bit-for-bit, the q108/BM25
  * discipline). The oracle pins the per-mime counts from the documents
  * table and TRUE (q74 convention) — counts, file IO, header parsing,
  * raster/chunk walks, and feature math all sit under the driver gate.
  */
object MultimodalOracle {

  import Entry.Q

  /** Same id bound as q164's blob fixture. */
  val MediaDocBound = 25L

  def fixtureDir(dir: String): String =
    Fixtures.path(s"media_${Fixtures.dirTag(dir)}")

  // ---- deterministic generators (payload bytes from id alone) ----

  private def ppmDims(id: Long): (Int, Int) =
    (4 + (id % 5).toInt, 3 + (id % 4).toInt)

  private[llm] def ppmByte(id: Long, i: Int): Int =
    ((id * 31 + i * 7) % 256).toInt

  private[llm] def ppmBytes(id: Long): Array[Byte] = {
    val (w, h) = ppmDims(id)
    val header = s"P6\n$w $h\n255\n".getBytes(US_ASCII)
    header ++ Array.tabulate(w * h * 3)(i => ppmByte(id, i).toByte)
  }

  /** Expected PPM decode, from the generator's closed form (mirrors
    * [[Multimodal.decodePpm]]'s accumulation order so floats match
    * bit-for-bit).
    */
  private[llm] def ppmExpected(id: Long): (Int, Int, Array[Float]) = {
    val (w, h) = ppmDims(id)
    val n = w * h
    val sums = new Array[Long](3)
    var i = 0
    while (i < n * 3) { sums(i % 3) += ppmByte(id, i); i += 1 }
    (w, h, Array.tabulate(3)(c => (sums(c).toDouble / n / 255).toFloat))
  }

  private val WavRate = 8000
  private def wavSampleCount(id: Long): Int = 64 + (id % 32).toInt
  private def wavSample(id: Long, j: Int): Short =
    ((id * 7919 + j.toLong * 104729) % 65536 - 32768).toShort

  private[llm] def wavBytes(id: Long): Array[Byte] = {
    val n = wavSampleCount(id)
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(US_ASCII)).putInt(36 + dataLen)
      .put("WAVE".getBytes(US_ASCII))
      .put("fmt ".getBytes(US_ASCII)).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(WavRate).putInt(WavRate * 2).putShort(2).putShort(16)
      .put("data".getBytes(US_ASCII)).putInt(dataLen)
    (0 until n).foreach(j => buf.putShort(wavSample(id, j)))
    buf.array()
  }

  /** Expected WAV decode (mirrors [[Multimodal.decodeWav]]: width =
    * sample rate, height = channels, features = [duration_sec, rms]).
    */
  private[llm] def wavExpected(id: Long): (Int, Int, Array[Float]) = {
    val n = wavSampleCount(id)
    var sumSq = 0.0
    var j = 0
    while (j < n) {
      val s = wavSample(id, j) / 32768.0
      sumSq += s * s
      j += 1
    }
    (WavRate, 1,
      Array((n.toDouble / 1 / WavRate).toFloat, math.sqrt(sumSq / n).toFloat))
  }

  private def gvidFrameCount(id: Long): Int = 2 + (id % 3).toInt
  private def gvidFrameId(id: Long, f: Int): Long = id * 16 + f

  private[llm] def gvidBytes(id: Long): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    val frames = (0 until gvidFrameCount(id)).map(f => ppmBytes(gvidFrameId(id, f)))
    "GVID".getBytes(US_ASCII) ++ le32(frames.length) ++
      frames.flatMap(p => le32(p.length) ++ p)
  }

  /** Expected GVID decode (mirrors [[Multimodal.decodeOne]]'s GVID arm:
    * dims from frame 0, features = per-channel mean of the stride-1
    * sampled frames' channel means, accumulated float-into-double).
    */
  private[llm] def gvidExpected(id: Long): (Int, Int, Array[Float]) = {
    val nf = gvidFrameCount(id)
    val sampled = (0 until nf).take(16).map(f => ppmExpected(gvidFrameId(id, f))._3)
    val (w, h, _) = ppmExpected(gvidFrameId(id, 0))
    val features = Array.tabulate(3) { c =>
      var acc = 0.0; var i = 0
      while (i < sampled.length) { acc += sampled(i)(c); i += 1 }
      (acc / sampled.length).toFloat
    }
    (w, h, features)
  }

  // ---- fixture writer + query ----

  private def writeFixture(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val ids = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long].collect().sorted
    def put(name: String, bytes: Array[Byte]): Unit =
      Fixtures.writeAtomic(Paths.get(fixtureDir(dir), name), bytes)
    ids.foreach { id =>
      put(s"img_$id.ppm", ppmBytes(id))
      put(s"aud_$id.wav", wavBytes(id))
      put(s"vid_$id.gvid", gvidBytes(id))
    }
  }

  // public: Spark codegen instantiates/reads this from generated Java
  case class ExpectedMedia(media_id: Long, mime: String,
      e_width: Int, e_height: Int, e_features: Array[Float])

  /** The fixture scan both q180 and q190 consume: binaryFile rows keyed
    * by the id/mime encoded in the file name (one definition — the two
    * gates must agree on the keying or their joins silently drop rows).
    */
  private[llm] def mediaScan(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    writeFixture(s, dir)
    s.read.format("binaryFile").load(fixtureDir(dir))
      .select(
        regexp_extract(input_file_name(), "_(\\d+)\\.(ppm|wav|gvid)", 1)
          .cast("long").as("media_id"),
        when(input_file_name().endsWith(".ppm"), PpmMime)
          .when(input_file_name().endsWith(".wav"), WavMime)
          .otherwise(GvidMime).as("mime"),
        $"content".as("bytes"))
      .as[MediaRecord]
  }

  val q180MultimodalDecode: Q = (s, dir) => {
    import s.implicits._
    val decoded = Multimodal.decode(mediaScan(s, dir))
    val expected = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long]
      .flatMap { id =>
        Seq((PpmMime, ppmExpected(id)), (WavMime, wavExpected(id)),
          (GvidMime, gvidExpected(id))).map { case (m, (w, h, f)) =>
          ExpectedMedia(id, m, w, h, f)
        }
      }
    decoded.join(expected.toDF(), Seq("media_id", "mime"))
      .agg(
        sum(when($"mime" === PpmMime, 1).otherwise(0)).as("n_images"),
        sum(when($"mime" === WavMime, 1).otherwise(0)).as("n_audio"),
        sum(when($"mime" === GvidMime, 1).otherwise(0)).as("n_video"),
        (sum(when($"width" =!= $"e_width" || $"height" =!= $"e_height" ||
          $"features" =!= $"e_features", 1).otherwise(0)) === 0).as("ok"))
  }

  /** q412 — METADATA-ONLY header census: the fast pass a 100 TB media
    * lake runs FIRST (catalog dimensions, rates, durations, frame
    * counts) — the PPM header parse touches tens of bytes, the WAV
    * chunk walk stops at fmt/data bounds, and the GVID index SEEKS
    * over frame payloads via their declared lengths; no raster or
    * sample is ever decoded, which is the whole point at scale.
    * Every header-derived value is gated against the fixture's
    * closed-form expectation (q180's convention: blobs are
    * engine-side, the oracle re-derives the census).
    */
  val q412MediaHeaders: Q = (s, dir) => {
    import s.implicits._
    val meta = mediaScan(s, dir).map { r =>
      r.mime match {
        case PpmMime =>
          val h = Multimodal.parsePpmHeader(r.bytes)
          (r.media_id, r.mime, h.width.toLong, h.height.toLong)
        case WavMime =>
          val h = Multimodal.parseWavHeader(r.bytes)
          (r.media_id, r.mime, h.sampleRate.toLong, (h.dataLen / 2).toLong)
        case _ =>
          val fs = Multimodal.parseGvid(r.bytes)
          (r.media_id, r.mime, fs.length.toLong, fs.head._2.toLong)
      }
    }.toDF("media_id", "mime", "m1", "m2")
    val expected = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long]
      .flatMap { id =>
        val (pw, ph) = ppmDims(id)
        Seq((id, PpmMime, pw.toLong, ph.toLong),
          (id, WavMime, WavRate.toLong, wavSampleCount(id).toLong),
          (id, GvidMime, gvidFrameCount(id).toLong,
            ppmBytes(gvidFrameId(id, 0)).length.toLong))
      }.toDF("media_id", "mime", "e1", "e2")
    meta.join(expected, Seq("media_id", "mime"))
      .agg(
        sum(when($"mime" === PpmMime, 1).otherwise(0)).as("n_images"),
        sum(when($"mime" === WavMime, 1).otherwise(0)).as("n_audio"),
        sum(when($"mime" === GvidMime, 1).otherwise(0)).as("n_video"),
        (sum(when($"m1" =!= $"e1" || $"m2" =!= $"e2", 1).otherwise(0))
          === 0).as("ok"))
  }

  val q180Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
       |  CAST(COUNT(*) AS BIGINT) AS n_audio,
       |  CAST(COUNT(*) AS BIGINT) AS n_video,
       |  TRUE AS ok
       |FROM documents WHERE doc_id < $MediaDocBound""".stripMargin

  // ---- q190: the transform legs (resize / frame-RMS / video sampling)
  //      under the driver gate, mirroring each transform's arithmetic ----

  val ThumbW = 4
  val ThumbH = 3
  val FrameSamples = 32
  val VideoStride = 2

  /** Expected thumbnail, mirroring [[Multimodal.resizePpm]]'s
    * nearest-neighbor source-pixel rule and float division.
    */
  private[llm] def thumbExpected(id: Long): Array[Float] = {
    val (w, h) = ppmDims(id)
    val out = new Array[Float](ThumbW * ThumbH * 3)
    var ty = 0
    while (ty < ThumbH) {
      val sy = ty.toLong * h / ThumbH
      var tx = 0
      while (tx < ThumbW) {
        val sx = tx.toLong * w / ThumbW
        var c = 0
        while (c < 3) {
          out((ty * ThumbW + tx) * 3 + c) =
            ppmByte(id, ((sy * w + sx) * 3).toInt + c).toFloat / 255
          c += 1
        }
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Expected per-frame RMS, mirroring [[Multimodal.frameRmsWav]]. */
  private[llm] def frameRmsExpected(id: Long): Array[Float] = {
    val n = wavSampleCount(id)
    val nFrames = math.min(64, (n + FrameSamples - 1) / FrameSamples)
    Array.tabulate(nFrames) { f =>
      val start = f * FrameSamples
      val end = math.min(n, start + FrameSamples)
      var sumSq = 0.0
      var j = start
      while (j < end) {
        val v = wavSample(id, j) / 32768.0
        sumSq += v * v
        j += 1
      }
      math.sqrt(sumSq / (end - start)).toFloat
    }
  }

  /** Expected stride-sampled video frames, mirroring
    * [[Multimodal.sampleGvid]] (indices by stride, capped at 16, channel
    * means of each sampled frame's real PPM decode).
    */
  private[llm] def videoExpected(id: Long): (Int, Array[Int], Array[Float]) = {
    val nf = gvidFrameCount(id)
    val idx = (0 until nf).by(VideoStride).take(16).toArray
    val means = new Array[Float](idx.length * 3)
    idx.zipWithIndex.foreach { case (f, i) =>
      System.arraycopy(ppmExpected(gvidFrameId(id, f))._3, 0, means, i * 3, 3)
    }
    (nf, idx, means)
  }

  case class ExpectedThumb(media_id: Long, e_pixels: Array[Float])
  case class ExpectedRms(media_id: Long, e_rms: Array[Float])
  case class ExpectedVideo(media_id: Long, e_n: Int, e_idx: Array[Int],
      e_means: Array[Float])

  /** q190 — the multimodal TRANSFORM legs as one driver row: thumbnails
    * ([[Multimodal.resizeThumbnails]]), audio frame-RMS
    * ([[Multimodal.sampleFrames]]) and video stride-sampling
    * ([[Multimodal.sampleVideoFrames]]) over the same fixture as q180,
    * each joined against its closed-form expectation (same
    * independence discipline: expectations mirror the transform's
    * float arithmetic, never re-call it). ok is bit-for-bit array
    * equality across all three legs.
    */
  val q190MultimodalTransforms: Q = (s, dir) => {
    import s.implicits._
    val media = mediaScan(s, dir)
    val ids = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long]
    val thumbs = Multimodal.resizeThumbnails(media, ThumbW, ThumbH).toDF()
      .join(ids.map(id => ExpectedThumb(id, thumbExpected(id))).toDF(),
        "media_id")
      .agg(count(lit(1)).as("n_thumbs"),
        coalesce(sum(when($"pixels" =!= $"e_pixels", 1)), lit(0)).as("bad_t"))
    val rms = Multimodal.sampleFrames(media, FrameSamples).toDF()
      .join(ids.map(id => ExpectedRms(id, frameRmsExpected(id))).toDF(),
        "media_id")
      .agg(count(lit(1)).as("n_audio"),
        coalesce(sum(when($"frame_rms" =!= $"e_rms", 1)), lit(0)).as("bad_a"))
    val vids = Multimodal.sampleVideoFrames(media, VideoStride).toDF()
      .join(ids.map { id =>
          val (n, ix, m) = videoExpected(id); ExpectedVideo(id, n, ix, m)
        }.toDF(), "media_id")
      .agg(count(lit(1)).as("n_video"),
        coalesce(sum(when($"n_frames" =!= $"e_n" ||
          $"sampled_idx" =!= $"e_idx" || $"frame_means" =!= $"e_means", 1)),
          lit(0)).as("bad_v"))
    thumbs.crossJoin(rms).crossJoin(vids)
      .select($"n_thumbs", $"n_audio", $"n_video",
        ($"bad_t" + $"bad_a" + $"bad_v" === 0).as("ok"))
  }

  val q190Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_thumbs,
       |  CAST(COUNT(*) AS BIGINT) AS n_audio,
       |  CAST(COUNT(*) AS BIGINT) AS n_video,
       |  TRUE AS ok
       |FROM documents WHERE doc_id < $MediaDocBound""".stripMargin

  // ---- q260: scene-cut detection over the same GVID fixture ----

  /** Scene-cut threshold: channel means live in [0,1]; consecutive
    * synthetic frames differ by ~0.1 L1 on average, so 0.05 leaves
    * both cut and no-cut transitions populated across the fixture.
    */
  val CutTau = 0.05

  /** Expected per-clip cut count, mirroring
    * [[Multimodal.sceneCutsGvid]]'s double-accumulated L1 over the
    * closed-form frame means (never re-calling the detector).
    */
  private[llm] def cutsExpected(id: Long): (Int, Int) = {
    val nf = gvidFrameCount(id)
    val means = (0 until nf).map(f => ppmExpected(gvidFrameId(id, f))._3)
    var cuts = 0
    var i = 1
    while (i < means.length) {
      val a = means(i); val p = means(i - 1)
      val d = math.abs(a(0).toDouble - p(0).toDouble) +
        math.abs(a(1).toDouble - p(1).toDouble) +
        math.abs(a(2).toDouble - p(2).toDouble)
      if (d > CutTau) cuts += 1
      i += 1
    }
    (nf, cuts)
  }

  case class ExpectedCuts(media_id: Long, e_frames: Int, e_cuts: Int)

  /** q260 — shot-boundary detection under the driver gate: per-clip
    * cut counts from the REAL frame decodes joined against the
    * closed-form expectation; emits clip count, total transitions,
    * total cuts (SQL-pinned would be circular — the counts come from
    * the mirrored expectation, so the n_cuts column itself is part of
    * the pinned oracle) and per-clip equality as ok.
    */
  val q260SceneCuts: Q = (s, dir) => {
    import s.implicits._
    val detected = Multimodal.detectSceneCuts(mediaScan(s, dir), CutTau)
    val expected = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long]
      .map { id => val (n, c) = cutsExpected(id); ExpectedCuts(id, n, c) }
    detected.toDF().join(expected.toDF(), "media_id")
      .agg(count(lit(1)).as("n_clips"),
        sum($"e_frames" - 1).cast("long").as("n_transitions"),
        sum($"e_cuts").cast("long").as("n_cuts"),
        (coalesce(sum(when($"n_frames" =!= $"e_frames" ||
          $"n_cuts" =!= $"e_cuts", 1)), lit(0)) === 0).as("ok"))
  }

  /** The DuckDB side recomputes n_clips/n_transitions from the same
    * deterministic fixture arithmetic (frame count = 2 + id%3) and
    * pins n_cuts via the expectation the Spark side must also match
    * per-clip — a detector drift flips ok, a fixture drift breaks the
    * counts.
    */
  def q260Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
       |  CAST(SUM(1 + (doc_id % 3)) AS BIGINT) AS n_transitions,
       |  CAST(${q260PinnedCuts} AS BIGINT) AS n_cuts,
       |  TRUE AS ok
       |FROM documents WHERE doc_id < $MediaDocBound""".stripMargin

  /** Total expected cuts over the fixture ids — computed from the
    * closed-form mirror at SQL-construction time (the q180 convention:
    * expectations are literals by the time the oracle runs).
    */
  private def q260PinnedCuts: Long =
    (0L until MediaDocBound).map(id => cutsExpected(id)._2.toLong).sum


  // ---- q326: audio energy segmentation over the same WAV fixture ----

  /** Voiced threshold on per-frame RMS: uniform synthetic samples make
    * frame RMS concentrate near 1/√3 ≈ 0.577, so 0.57 splits the
    * fixture into 49 voiced / 25 silent frames with multi-segment
    * clips present (measured on the closed form) — both branches of
    * the detector populated.
    */
  val SegTheta = 0.57f

  /** Maximal voiced runs over a frame-RMS sequence: (n_frames,
    * n_voiced, n_segments) — the VAD-lite summarization a speech
    * corpus-prep pipeline runs per clip. Shared by the real path and
    * the expectation mirror (pure function of the float array, so
    * mirroring is exact by construction).
    */
  private[llm] def voicedRuns(rms: Array[Float], theta: Float): (Int, Int, Int) = {
    var voiced = 0; var segs = 0; var prev = false
    var i = 0
    while (i < rms.length) {
      val v = rms(i) >= theta
      if (v) { voiced += 1; if (!prev) segs += 1 }
      prev = v
      i += 1
    }
    (rms.length, voiced, segs)
  }

  case class ExpectedSeg(media_id: Long, e_frames: Int, e_voiced: Int,
      e_segs: Int)

  /** q326 — audio ENERGY SEGMENTATION (voice-activity detection in its
    * threshold form) under the driver gate: per-clip voiced-frame and
    * segment counts from the REAL decode path
    * ([[Multimodal.sampleFrames]] → threshold → run-length), joined
    * against the closed-form expectation; ok additionally requires the
    * detector to be non-degenerate on the fixture (some silent frames,
    * some voiced, ≥1 multi-segment clip) so a threshold drift cannot
    * pass vacuously.
    */
  val q326AudioSegments: Q = (s, dir) => {
    import s.implicits._
    val detected = Multimodal.sampleFrames(mediaScan(s, dir), FrameSamples)
      .map { r =>
        val (f, v, g) = voicedRuns(r.frame_rms, SegTheta)
        (r.media_id, f, v, g)
      }.toDF("media_id", "n_frames", "n_voiced", "n_segs")
    val expected = T.documents(s, dir).filter($"doc_id" < MediaDocBound)
      .select($"doc_id").as[Long]
      .map { id =>
        val (f, v, g) = voicedRuns(frameRmsExpected(id), SegTheta)
        ExpectedSeg(id, f, v, g)
      }
    detected.join(expected.toDF(), "media_id")
      .agg(count(lit(1)).as("n_audio"),
        sum($"e_frames").cast("long").as("n_frames"),
        sum($"e_voiced").cast("long").as("n_voiced"),
        sum($"e_segs").cast("long").as("n_segments"),
        ((coalesce(sum(when($"n_frames" =!= $"e_frames" ||
            $"n_voiced" =!= $"e_voiced" || $"n_segs" =!= $"e_segs", 1)),
            lit(0)) === 0) &&
          sum($"e_voiced") > 0 && sum($"e_voiced") < sum($"e_frames") &&
          max($"e_segs") >= 2).as("ok"))
  }

  /** Fixture arithmetic pins frames (sample count 64 + id%32 over
    * 32-sample frames → 2 + (id%32 >= 1... exactly ceil((64+id%32)/32))
    * — spelled directly in SQL); voiced/segment totals are closed-form
    * literals (the q260 convention).
    */
  def q326Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_audio,
       |  CAST(SUM(CAST(CEIL((64 + doc_id % 32) / 32.0) AS BIGINT)) AS BIGINT)
       |    AS n_frames,
       |  CAST($q326PinnedVoiced AS BIGINT) AS n_voiced,
       |  CAST($q326PinnedSegs AS BIGINT) AS n_segments,
       |  TRUE AS ok
       |FROM documents WHERE doc_id < $MediaDocBound""".stripMargin

  private def q326PinnedVoiced: Long =
    (0L until MediaDocBound)
      .map(id => voicedRuns(frameRmsExpected(id), SegTheta)._2.toLong).sum
  private def q326PinnedSegs: Long =
    (0L until MediaDocBound)
      .map(id => voicedRuns(frameRmsExpected(id), SegTheta)._3.toLong).sum

  val entries: Seq[Entry] = Seq(
    Entry("q180_multimodal_decode", q180MultimodalDecode, q180Sql),
    Entry("q412_media_headers", q412MediaHeaders, q180Sql),
    Entry("q190_multimodal_transforms", q190MultimodalTransforms, q190Sql),
    Entry("q260_scene_cuts", q260SceneCuts, q260Sql),
    Entry("q326_audio_segments", q326AudioSegments, q326Sql))
}
