package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.llm.Multimodal.{parsePpmHeader, PpmMime}

/** SSIM — structural similarity between image pairs (Wang, Bovik,
  * Sheikh & Simoncelli TIP'04: THE perceptual image-similarity index —
  * the multimodal family can decode (q180), resize (q190), hash
  * (q219), cut scenes (q260) and equalize (q548), but had no PAIRWISE
  * quality/similarity score; SSIM is what an image dedup or
  * transcoding-QA stage ranks candidate pairs with, the visual
  * counterpart of the text family's Jaccard): global (single-window)
  * SSIM over the shared raster of same-dimension image pairs from the
  * q180 media fixture — ids 20 apart share dimensions by the
  * generator's closed form (dims cycle with period lcm(5,4) = 20), so
  * the 5 pairs (a, a+20), a < 5, are the fixture's like-for-like set.
  *
  * Exactness: the five raster moments n, Σx, Σy, Σx², Σy², Σxy are
  * EXACT BIGINTs accumulated over the byte raster (values 0..255 —
  * Σx² ≤ n·255² never near overflow), computed engine-side from the
  * REAL file bytes (binaryFile scan → P6 header parse → raster walk,
  * the q180 "file IO under the gate" discipline) and oracle-side from
  * the generator's closed form pixel = (id·31 + i·7) mod 256 — never
  * by re-calling the decoder, which would be circular. SSIM finishes
  * as ONE shared IEEE formula over the exact pieces (population
  * moments; C1 = (0.01·255)², C2 = (0.03·255)² inlined as identical
  * literals).
  *
  * Scale shape: one moment pass per pair, constant budget per row
  * (the multimodal-seam contract: no shuffle inside the decode);
  * pairing is one equi-join on the derived partner id.
  */
object Ssim {

  import Entry.Q

  /** dims(id) = dims(id + [[SsimStride]]) by the generator's closed
    * form (width cycle 5 × height cycle 4).
    */
  val SsimStride = 20L

  /** SSIM from the exact pieces — shared verbatim (both engines
    * compute μ/σ from (n, sx, sy, sxx, syy, sxy) in this exact
    * spelling; denominators are strictly positive with C1, C2 > 0).
    */
  val SsimFormula: String =
    """(2.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) + 6.5025)
      | * (2.0 * (CAST(sxy AS DOUBLE) / n
      |      - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
      |    + 58.5225)
      | / (((CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
      |      + (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) + 6.5025)
      |    * (CAST(sxx AS DOUBLE) / n
      |        - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
      |      + CAST(syy AS DOUBLE) / n
      |        - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
      |      + 58.5225))""".stripMargin.replace("\n", "")

  /** Exact joint raster moments of two equal-dimension P6 payloads. */
  def rasterMoments(xa: Array[Byte], xb: Array[Byte])
      : (Long, Long, Long, Long, Long, Long) = {
    val ha = parsePpmHeader(xa)
    val hb = parsePpmHeader(xb)
    require(ha.width == hb.width && ha.height == hb.height,
      s"SSIM needs equal dims, got ${ha.width}x${ha.height} vs " +
        s"${hb.width}x${hb.height}")
    val n = ha.width * ha.height * 3
    var sx = 0L; var sy = 0L; var sxx = 0L; var syy = 0L; var sxy = 0L
    var i = 0
    while (i < n) {
      val x = xa(ha.rasterOff + i) & 0xFF
      val y = xb(hb.rasterOff + i) & 0xFF
      sx += x; sy += y
      sxx += x.toLong * x; syy += y.toLong * y; sxy += x.toLong * y
      i += 1
    }
    (n.toLong, sx, sy, sxx, syy, sxy)
  }

  /** q565 — SSIM of the fixture's same-dimension image pairs. */
  val q565Ssim: Q = (s, dir) => {
    import s.implicits._
    val imgs = MultimodalOracle.mediaScan(s, dir)
      .filter(_.mime == PpmMime)
      .map(r => (r.media_id, r.bytes))
      .toDF("media_id", "bytes")
    val a = imgs.select($"media_id".as("id_a"), $"bytes".as("ba"))
    val b = imgs.select(($"media_id" - SsimStride).as("id_a"),
      $"bytes".as("bb"))
    a.join(b, "id_a")
      .as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions(_.map { case (idA, ba, bb) =>
        val (n, sx, sy, sxx, syy, sxy) = rasterMoments(ba, bb)
        (idA, idA + SsimStride, n, sx, sy, sxx, syy, sxy)
      })
      .toDF("id_a", "id_b", "n", "sx", "sy", "sxx", "syy", "sxy")
      .withColumn("ssim", expr(SsimFormula))
      .orderBy($"id_a")
  }

  val q565Sql: String = {
    // pixel(id, i) = (id*31 + i*7) % 256 — the q180 generator's closed
    // form; dims w = 4 + id%5, h = 3 + id%4; raster length w*h*3
    s"""WITH ids AS (
      |  SELECT doc_id AS id_a, doc_id + $SsimStride AS id_b,
      |    (4 + doc_id % 5) * (3 + doc_id % 4) * 3 AS n
      |  FROM documents
      |  WHERE doc_id < ${MultimodalOracle.MediaDocBound} - $SsimStride),
      |px AS (
      |  SELECT id_a, id_b, n,
      |    (id_a * 31 + i * 7) % 256 AS x,
      |    (id_b * 31 + i * 7) % 256 AS y
      |  FROM ids, (SELECT UNNEST(range(0, 144)) AS i) t
      |  WHERE i < n),
      |mom AS (
      |  SELECT id_a, id_b, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM px GROUP BY 1, 2)
      |SELECT id_a, id_b, n, sx, sy, sxx, syy, sxy,
      |  $SsimFormula AS ssim
      |FROM mom ORDER BY id_a""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q565_ssim", q565Ssim, q565Sql))
}
