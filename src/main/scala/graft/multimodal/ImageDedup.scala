package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.CappedIndex
import graft.multimodal.BinaryPipeline.{DecodeBatchSize, MediaRecord}

/** Image near-duplicate detection — the multimodal × dedup bridge
  * (VERDICT r5 #3): a perceptual hash computed from DECODED rasters in
  * the same partition-preserving batched decode stage as
  * [[BinaryPipeline]], feeding the EXISTING df-capped hamming band
  * machinery ([[graft.dedup.CappedIndex]]) and cluster
  * rule — no new join shapes, the image family rides the text family's
  * 100 TB path.
  *
  * The hash is a 60-BIT average hash (not the folkloric 64) so the
  * signature drops into the simhash band arithmetic unchanged: 4 bands
  * × 15 bits, progressive df-capped widening, intra-group expansion for
  * identical hashes. 60 cells = a 10×6 block-mean grayscale grid; each
  * bit is cell-mean luma > overall mean. Block means (not point
  * sampling) make the hash stable under re-encode noise and moderate
  * resize, which is exactly the near-dup signal wanted.
  */
object ImageDedup {

  val GridW = 10
  val GridH = 6

  /** 60-bit average hash over the 10×6 block-mean luma grid; bit
    * (cy·10 + cx) set iff the cell's mean luma exceeds the mean of cell
    * means. Cell means sample only the INTERIOR ~60% of each cell
    * (outer 20% per side skipped): a resampled copy assigns boundary
    * pixels to off-by-one source cells, and interior sampling keeps
    * that noise out of the mean — measured, it brings resized-twin
    * distances inside the band-join's pigeonhole guarantee (hamming ≤ 3
    * over 4 bands ⇒ at least one untouched band ⇒ the pair is FOUND,
    * not probabilistically bucketed). Deterministic fixed traversal;
    * a cell with no interior pixels (image smaller than ~2× the grid)
    * falls back to mean 0.
    */
  private[multimodal] def aHash60(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](GridW * GridH)
    val counts = new Array[Long](GridW * GridH)
    var y = 0
    while (y < h) {
      val ry = y.toLong * GridH % h // position within cell, scaled by h
      if (5 * ry >= h && 5 * ry <= 4L * h) {
        val cy = math.min(GridH - 1, y * GridH / h)
        var x = 0
        while (x < w) {
          val rx = x.toLong * GridW % w
          if (5 * rx >= w && 5 * rx <= 4L * w) {
            val cx = math.min(GridW - 1, x * GridW / w)
            val rgb = img.getRGB(x, y)
            val l = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            val k = cy * GridW + cx
            sums(k) += l
            counts(k) += 1
          }
          x += 1
        }
      }
      y += 1
    }
    val means = Array.tabulate(GridW * GridH)(k =>
      if (counts(k) > 0) sums(k) / counts(k) else 0.0)
    val overall = means.sum / means.length
    var bits = 0L
    var k = 0
    while (k < means.length) {
      if (means(k) > overall) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** (media_id, simhash) rows for every DECODABLE image payload — the
    * column is named `simhash` because the band machinery downstream is
    * literally the text simhash machinery. Same batched mapPartitions
    * shape as the feature decode; undecodable/non-image rows are
    * dropped (they carry no pixel evidence to pair on).
    */
  def imageHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(DecodeBatchSize).flatMap(_.flatMap { r =>
      if (r.kind != "image") None
      else BinaryPipeline.tryDecode(r.payload).map(img => (r.media_id, aHash60(img)))
    })).toDF("media_id", "simhash")
  }

  /** (x, y, hamming) near-duplicate image pairs via the df-capped band
    * join over distinct hashes — byte-identical plan family to
    * dedup_simhash_capped.
    */
  def phashPairs(spark: SparkSession, media: Dataset[MediaRecord],
                 maxHamming: Int, maxDf: Int): DataFrame =
    CappedIndex.pairs(CappedIndex.SimHash.within(maxHamming), imageHashes(media),
      "media_id", maxDf).orderBy(col("x"), col("y"))

  /** F34: image near-dup SEARCH — ranked hamming top-k of arriving
    * images against the standing corpus's perceptual-hash index
    * ([[graft.dedup.Dedup.hammingSearch]] over [[aHash60]]
    * signatures): "which corpus image does this new crawl image
    * duplicate", the lookup a crawl-ingest service runs before
    * admitting a payload. The query side is never paired against
    * itself — incoming-vs-incoming dups are the nightly
    * [[phashPairs]] batch job's business.
    */
  def phashSearch(spark: SparkSession, base: Dataset[MediaRecord],
                  queries: Dataset[MediaRecord], k: Int, maxHamming: Int,
                  maxDf: Int): DataFrame =
    graft.dedup.Dedup.hammingSearch(spark,
      imageHashes(base).select(col("media_id").as("match_id"), col("simhash")),
      imageHashes(queries).select(col("media_id").as("q_id"), col("simhash")),
      k, maxHamming, maxDf)

  /** The standing corpus's image-hash index (G15) — distinct aHash60
    * values + df-capped band buckets, the refreshable artifact an
    * image-ingest gate holds between micro-batches.
    */
  def phashIndex(spark: SparkSession, base: Dataset[MediaRecord],
                 maxDf: Int): (DataFrame, DataFrame) =
    graft.dedup.Dedup.hammingIndex(spark,
      imageHashes(base).select(col("simhash")), maxDf)

  /** G15: in-flight image gate — arriving images hashed and checked
    * against the standing index ([[graft.dedup.Dedup.hammingGateRows]]
    * semantics): exact_dup on an identical hash, near_dup within
    * `maxHamming` of a different stored hash, unique otherwise.
    * Verdicts are a pure function of (image, index) — per-micro-batch
    * evaluation needs zero streaming state.
    */
  def phashGateRows(spark: SparkSession, queries: Dataset[MediaRecord],
                    baseSigVals: DataFrame, baseKeyed: DataFrame,
                    maxHamming: Int): DataFrame =
    graft.dedup.Dedup.hammingGateRows(spark,
      imageHashes(queries).select(col("media_id").as("q_id"), col("simhash")),
      baseSigVals, baseKeyed, maxHamming)

  /** splitmix64 finalizer — decorrelates per-(id, cell) intensities. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-id block-texture synthetic image: each 10×6 grid cell filled
    * with a strongly mixed per-(id, cell) RGB value, PNG for even ids /
    * JPEG for odd (both JDK codecs on the decode path). Distinct ids
    * hash to near-independent 60-bit signatures (~30 expected hamming),
    * while re-encode/resize twins stay within the band-guaranteed ≤ 3 —
    * the margin the smooth gradient fixture lacks (measured there:
    * closest DISTINCT pair at hamming 2, resized twins up to 5, so no
    * separating threshold exists).
    */
  private[multimodal] def syntheticBlockImage(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      val cy = math.min(GridH - 1, y * GridH / h)
      var x = 0
      while (x < w) {
        val cx = math.min(GridW - 1, x * GridW / w)
        val v = mix(id * 60 + cy * GridW + cx)
        val rgb = (v & 0xffffff).toInt
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    BinaryPipeline.encodeImage(img, if (id % 2 == 0) "png" else "jpg")
  }

  // planted-twin id offsets (the fixture construction IS the oracle:
  // expected pairs derive from id arithmetic, not from hashing)
  val ReencOffset = 20000000L
  val ResizeOffset = 30000000L
  // fixture resize target: inside the synthetic size family (32-96 ×
  // 24-72) — a SLIGHT rescale, ~5 px per hash cell, so nearest-neighbor
  // block-boundary misalignment flips at most a bit or two (at 24×18
  // whole misaligned cell columns flipped up to 7 bits, past the ≤3
  // band guarantee)
  val ResizeW = 48
  val ResizeH = 36

  /** Planted near-duplicate image set over the synthetic media table:
    * every 5th image gains a cross-format re-encoded copy (JPEG source →
    * lossless PNG of the same raster; PNG source → lossy JPEG — both
    * the classic crawl duplicate), every 7th a [[ResizeW]]×[[ResizeH]]
    * resized copy. Copy ids are original + offset, so the EXPECTED pair
    * set is pure id arithmetic — the DuckDB oracle states it without
    * ever hashing a pixel.
    */
  def plantedImages(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    val images = BinaryPipeline.mediaTable(spark, docs)
      .filter(col("kind") === lit("image")).as[MediaRecord]
      // block-texture payloads (same ids/dims/codecs as the F12 media
      // table): per-id cell entropy gives the twin-vs-distinct margin
      .map(r => r.copy(payload = syntheticBlockImage(r.media_id, r.width, r.height)))
    val reenc = images.filter(_.media_id % 5 == 0).map { r =>
      val img = BinaryPipeline.tryDecode(r.payload).get
      val fmt = if (r.media_id % 2 == 0) "jpg" else "png"
      r.copy(media_id = r.media_id + ReencOffset,
        payload = BinaryPipeline.encodeImage(img, fmt))
    }
    val resized = BinaryPipeline.resize(
      images.filter(_.media_id % 7 == 0), ResizeW, ResizeH)
      .map(r => r.copy(media_id = r.media_id + ResizeOffset))
    images.unionByName(reenc).unionByName(resized)
  }
}
