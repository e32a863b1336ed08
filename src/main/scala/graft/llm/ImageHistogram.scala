package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** IMAGE LUMINANCE HISTOGRAM + HISTOGRAM EQUALIZATION (Gonzalez–Woods
  * ch. 3, the textbook contrast normalization — the FEATURE-EXTRACT
  * leg of the multimodal seam next to q180's decode, q190's
  * resize/frame-sample, q219's perceptual hash and q260's scene cuts:
  * a vision-data pipeline bins every image's luminance and remaps
  * through the CDF before training): per image, the
  * [[HistBins]]-bin histogram of integer luma = r+g+b (0..765) and
  * the CDF-equalized remap level per bin, eq(b) = ⌊(cdf(b) −
  * cdf_min)·255 / (n_pix − cdf_min)⌋.
  *
  * Everything integer: luma, bin = luma·[[HistBins]]/766, counts, the
  * remap floor — so the gate is EXACT equality (no float anywhere).
  * Gate = the q180 discipline: payloads decode through the REAL
  * binaryFile → header-parse → raster-walk seam and compare against
  * ground truth computed INDEPENDENTLY from the fixture generator's
  * closed form (never by re-calling the decoder); `ok` requires every
  * image's n_pixels, all bins and all remap levels to match; the
  * oracle pins the image count + TRUE (q74/q180 convention).
  *
  * Scale shape: one binaryFile scan, per-row bounded raster walk
  * inside mapPartitions (the multimodal batch seam), one 1-row agg.
  */
object ImageHistogram {

  import Entry.Q

  val HistBins = 16

  /** (n_pixels, hist(bins), eq(bins)) from PPM bytes — the seam side. */
  private[llm] def histEq(bytes: Array[Byte]): (Long, Array[Long], Array[Long]) = {
    val h = Multimodal.parsePpmHeader(bytes)
    val n = h.width * h.height
    val hist = new Array[Long](HistBins)
    var i = 0
    while (i < n) {
      val off = h.rasterOff + i * 3
      val luma = (bytes(off) & 0xff) + (bytes(off + 1) & 0xff) +
        (bytes(off + 2) & 0xff)
      hist(luma * HistBins / 766) += 1
      i += 1
    }
    (n.toLong, hist, equalize(n.toLong, hist))
  }

  /** CDF remap per bin; a constant image (cdf_min = n) maps to 0.
    * Public for the spec's hand cases.
    */
  def equalize(n: Long, hist: Array[Long]): Array[Long] = {
    // pass 1: cdf at the first OCCUPIED bin (the classic cdf_min)
    var cdfMin = 0L
    var seen = false
    var acc = 0L
    var i = 0
    while (i < HistBins) {
      acc += hist(i)
      if (!seen && hist(i) > 0) { cdfMin = acc; seen = true }
      i += 1
    }
    // pass 2: remap; unoccupied LEADING bins sit below cdf_min and
    // clamp to 0 (they carry no pixels — a fixed contract, kept
    // deterministic instead of negative)
    val eq = new Array[Long](HistBins)
    var cdf = 0L
    var b = 0
    while (b < HistBins) {
      cdf += hist(b)
      eq(b) =
        if (n == cdfMin || cdf <= cdfMin) 0L
        else (cdf - cdfMin) * 255 / (n - cdfMin)
      b += 1
    }
    eq
  }

  /** Ground truth from the generator's closed form (independent of the
    * decoder — the q180 anti-circularity rule).
    */
  private[llm] def expectedHistEq(id: Long): (Long, Array[Long], Array[Long]) = {
    // dims from the generator contract (header parse of generated
    // bytes), raster values DIRECTLY from the byte closed form — the
    // seam's raster walk is never re-used here
    val h = Multimodal.parsePpmHeader(MultimodalOracle.ppmBytes(id))
    val n = h.width * h.height
    val hist = new Array[Long](HistBins)
    var i = 0
    while (i < n) {
      val base = i * 3
      val luma = MultimodalOracle.ppmByte(id, base) +
        MultimodalOracle.ppmByte(id, base + 1) +
        MultimodalOracle.ppmByte(id, base + 2)
      hist(luma * HistBins / 766) += 1
      i += 1
    }
    (n.toLong, hist, equalize(n.toLong, hist))
  }

  val q548ImageHistogram: Q = (s, dir) => {
    import s.implicits._
    val rows = MultimodalOracle.mediaScan(s, dir)
      .filter($"mime" === Multimodal.PpmMime)
      .map { rec =>
        val (n, hist, eq) = histEq(rec.bytes)
        (rec.media_id, n, hist, eq)
      }
      .toDF("media_id", "n_pixels", "hist", "eq")
    val expected = T.documents(s, dir)
      .filter($"doc_id" < MultimodalOracle.MediaDocBound)
      .select($"doc_id").as[Long]
      .map { id =>
        val (n, hist, eq) = expectedHistEq(id)
        (id, n, hist, eq)
      }
      .toDF("media_id", "e_n_pixels", "e_hist", "e_eq")
    rows.join(expected, "media_id")
      .agg(count(lit(1)).as("n_images"),
        (sum(when($"n_pixels" =!= $"e_n_pixels" ||
          $"hist" =!= $"e_hist" || $"eq" =!= $"e_eq", 1).otherwise(0))
          === 0).as("ok"))
  }

  val q548Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_images, TRUE AS ok
       |FROM documents WHERE doc_id < ${MultimodalOracle.MediaDocBound}"""
      .stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q548_image_histogram", q548ImageHistogram, q548Sql))
}
