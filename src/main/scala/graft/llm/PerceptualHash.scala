package graft.llm

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Perceptual near-duplicate detection for IMAGES — the multimodal twin
  * of the text near-dup family (q41 MinHash, q42 SimHash): an 8×8
  * average-hash (aHash) per image, banded LSH over the 64-bit hash for
  * sub-quadratic candidate pairing, Hamming verification on candidates.
  * Exact dedup (q40) keys on payload bytes and misses the two classes
  * that dominate real image corpora — the SAME picture re-encoded
  * (different file bytes, identical pixels) and the same picture
  * re-exposed (brightness change); the perceptual hash catches both,
  * which is precisely what the two planted twin classes assert.
  *
  * aHash: nearest-neighbor resize to 8×8 ([[Multimodal.resizePpm]] —
  * the pipeline's existing thumbnail seam), per-cell gray = mean(RGB),
  * bit i = gray_i > frame mean. Brightness scaling multiplies every
  * gray AND the mean by the same factor, so the comparison is invariant
  * up to integer truncation of the raster bytes — a few cells whose
  * gray sits within the truncation band of the mean may flip, hence the
  * Hamming tolerance for the scaled class and the exact-0 requirement
  * only for the re-encoded class.
  */
object PerceptualHash {

  import Entry.Q

  /** Bounded media set (the q164/q180 fixture convention): one synthetic
    * 16×16 P6 image per doc_id below the bound, payload a pure function
    * of the id.
    */
  val MediaBound = 200L

  val ReencOff = 1000000L
  val ScaleOff = 2000000L

  /** Max Hamming distance for a verified near-dup pair. */
  val HammingMax = 6

  /** Recall floor for the brightness-scaled twins (truncation can flip
    * enough near-mean bits on a handful of images to break banding; the
    * re-encoded class has no such excuse and is gated at 100%).
    */
  val ScaledFloor = 0.9

  private val W = 16

  private[llm] def ppm16(id: Long): Array[Byte] = {
    val header = s"P6\n$W $W\n255\n".getBytes(US_ASCII)
    header ++ Array.tabulate(W * W * 3)(i => ((id * 31 + i * 7) % 256).toByte)
  }

  /** Same raster, different file bytes: a comment in the header. */
  private[llm] def reencoded(id: Long): Array[Byte] = {
    val header = s"P6\n# re-encoded copy\n$W $W\n255\n".getBytes(US_ASCII)
    header ++ Array.tabulate(W * W * 3)(i => ((id * 31 + i * 7) % 256).toByte)
  }

  /** Brightness-scaled copy: every byte × 230/256, integer-truncated. */
  private[llm] def scaled(id: Long): Array[Byte] = {
    val header = s"P6\n$W $W\n255\n".getBytes(US_ASCII)
    header ++ Array.tabulate(W * W * 3) { i =>
      val p = ((id * 31 + i * 7) % 256).toInt
      (p * 230 / 256).toByte
    }
  }

  /** 64-bit average hash of a P6 payload. */
  private[llm] def ahash(bytes: Array[Byte]): Long = {
    val px = Multimodal.resizePpm(bytes, 8, 8)
    val gray = new Array[Double](64)
    var sum = 0.0
    var i = 0
    while (i < 64) {
      val g = (px(i * 3) + px(i * 3 + 1) + px(i * 3 + 2)) / 3.0
      gray(i) = g
      sum += g
      i += 1
    }
    val mean = sum / 64
    var h = 0L
    i = 0
    while (i < 64) {
      if (gray(i) > mean) h |= (1L << i)
      i += 1
    }
    h
  }

  /** q219 — perceptual image near-dup gate, the (n, ok) convention:
    * per doc_id < [[MediaBound]] the corpus holds the original image, a
    * re-encoded copy, and a brightness-scaled copy; aHash every image
    * (mapPartitions decode seam, one 8-byte hash per image regardless
    * of resolution), band the hash into 4×16-bit LSH keys, pair within
    * buckets only, verify candidates by Hamming distance. `ok` requires
    * every re-encoded twin recalled at Hamming 0 and ≥ [[ScaledFloor]]
    * of scaled twins recalled within [[HammingMax]].
    *
    * Scale shape: candidate generation is an equi-join on (band, key) —
    * never an all-pairs cross join — with O(1) hash bytes per image
    * shuffled; the decode+hash pass is embarrassingly parallel and
    * touches each payload once. The banded-join discipline (and its
    * per-bucket cap need at pathological skew) is q41's; only the
    * feature extractor is new.
    */
  val q219PerceptualDedup: Q = (s, dir) => {
    import s.implicits._
    val nDocs = T.documents(s, dir).filter($"doc_id" < MediaBound)
      .agg(count(lit(1)).as("n_docs"))
    val hashed = T.documents(s, dir).filter($"doc_id" < MediaBound)
      .select($"doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        Iterator(
          (id, ahash(ppm16(id))),
          (id + ReencOff, ahash(reencoded(id))),
          (id + ScaleOff, ahash(scaled(id))))
      }).toDF("media_id", "hash")
    val bands = hashed.select($"media_id", $"hash",
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned($"hash", b * 16).bitwiseAND(lit(0xFFFFL))
          .as("key"))): _*)).as("bk"))
      .select($"media_id", $"hash", $"bk.band".as("band"), $"bk.key".as("key"))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.hash").as("ha"), col("y.hash").as("hb"))
      .distinct()
      .withColumn("ham", expr("bit_count(ha ^ hb)"))
      .filter($"ham" <= HammingMax)
    // `a < MediaBound` pins the left side to an ORIGINAL: without it the
    // (reenc, scaled) twin-twin pair (b−a = ReencOff, Hamming 0) would
    // double-count into reenc_hits
    val stats = pairs.agg(
      sum(when($"a" < MediaBound && $"b" - $"a" === ReencOff &&
        $"ham" === 0, 1).otherwise(0)).as("reenc_hits"),
      sum(when($"a" < MediaBound && $"b" - $"a" === ScaleOff, 1)
        .otherwise(0)).as("scaled_hits"))
    nDocs.crossJoin(stats).select(
      (lit(3) * $"n_docs").as("n_images"),
      (coalesce($"reenc_hits", lit(0L)) === $"n_docs" &&
        coalesce($"scaled_hits", lit(0L)) >=
          ceil(lit(ScaledFloor) * $"n_docs")).as("ok"))
  }

  val q219Sql: String =
    s"""SELECT CAST(3 * COUNT(*) AS BIGINT) AS n_images, TRUE AS ok
       |FROM documents WHERE doc_id < $MediaBound""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q219_perceptual_dedup", q219PerceptualDedup, q219Sql))
}
