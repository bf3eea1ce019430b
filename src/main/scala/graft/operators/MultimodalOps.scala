package graft.operators

import graft.Cached
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Dataset, Encoders}

/** Typed multimodal pipeline plumbing: opaque binary payloads +
  * metadata in, per-batch decoded features out, via `mapPartitions`
  * over case-class rows — the Scala shape of a batched decode stage
  * (a native decoder wants contiguous batches, not row-at-a-time
  * calls).
  *
  * Image payloads (PNG/JPEG/BMP/GIF — whatever the JDK's
  * `javax.imageio` service registry provides, zero external
  * dependencies) are decoded for REAL: dimensions from the actual
  * bitstream, an 8-bin luminance histogram as the feature vector, and
  * a real raster rescale for [[resize]]. Video payloads remain a
  * deterministic STUB (the JDK ships no video codec); undecodable
  * bytes degrade to the same stub rather than failing the batch
  * (poison-pill tolerance — one corrupt file must not kill a 100 TB
  * decode pass).
  */
object MultimodalOps {

  case class MediaRow(docId: Long, payload: Array[Byte], format: String)
  case class MediaFeatures(docId: Long, width: Int, height: Int,
      nFrames: Int, feature: Array[Float])

  /** Stub frame count shared by decodeBatch and frameSample so a real
    * codec binding replaces ONE formula, not two drifting copies.
    */
  private[operators] def frameCount(payload: Array[Byte], format: String): Int =
    if (format == "video") 1 + (payload.length % 16) else 1

  /** STUB features (video / undecodable payloads): deterministic in
    * the payload bytes.
    */
  private[operators] def stubFeatures(m: MediaRow): MediaFeatures = {
    val n = m.payload.length
    val sum = m.payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    MediaFeatures(m.docId,
      width = 320 + (n * 7) % 1600,
      height = 240 + (n * 13) % 840,
      nFrames = frameCount(m.payload, m.format),
      feature = Array.tabulate(8)(i => ((sum + i * 31) % 997).toFloat / 997f))
  }

  /** Pixel budget for a full decode: 32 Mpixel ≈ 128 MB of ARGB
    * raster. A decompression-bomb payload (tiny bytes, huge DECLARED
    * dimensions) would otherwise make `ImageIO.read` allocate the full
    * raster and OOM the executor — the one failure mode the
    * poison-pill catch cannot contain, because OutOfMemoryError is not
    * an Exception. The guard reads width/height from the header via
    * the `ImageReader` API (no raster allocation) and rejects
    * over-budget images to the stub path BEFORE decoding.
    */
  private[graft] val DefaultMaxPixels: Long = 32L * 1024 * 1024

  /** Header-first bounded read: dimensions come from the format header
    * (cheap); the full raster is decoded only when width×height fits
    * the pixel budget. None on unreadable bytes OR over-budget
    * dimensions — the caller degrades to the stub either way.
    */
  private[operators] def readImageBounded(payload: Array[Byte],
      maxPixels: Long): Option[java.awt.image.BufferedImage] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      if (iis == null) None
      else try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val w = r.getWidth(0); val h = r.getHeight(0)
            if (w.toLong * h > maxPixels) None
            else Option(r.read(0))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Real image decode via the JDK registry: None when the bytes are
    * not a readable image or declare over-budget dimensions (caller
    * falls back to the stub). Features = 8-bin luminance histogram
    * over a bounded probe grid (≤64×64 samples), so cost is constant
    * in the image size.
    */
  private def decodeImage(m: MediaRow, maxPixels: Long): Option[MediaFeatures] =
    decodeWithHistogram(m.payload, maxPixels).map { case (w, h, hist) =>
      MediaFeatures(m.docId, w, h, 1, hist)
    }

  /** Payload-level decode + histogram — shared by [[decodeImage]] and
    * [[graft.operators.VideoOps.videoKeyframes]]' per-frame deltas.
    */
  /** 8-bin luminance histogram of an already-decoded raster — split
    * out of [[decodeWithHistogram]] so [[imageProfile]] can derive
    * histogram AND dHash from ONE decode.
    */
  private[operators] def histogramOf(
      img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val hist = new Array[Float](8)
    // ceil division keeps the probe grid genuinely <= 64x64 (floor
    // would sample up to 127 per axis for sizes in [65, 127])
    val sx = math.max(1, (w + 63) / 64); val sy = math.max(1, (h + 63) / 64)
    var n = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum >> 5) += 1f
        n += 1; x += sx
      }
      y += sy
    }
    if (n > 0) { var i = 0; while (i < 8) { hist(i) /= n; i += 1 } }
    hist
  }

  private[operators] def decodeWithHistogram(payload: Array[Byte],
      maxPixels: Long = DefaultMaxPixels): Option[(Int, Int, Array[Float])] =
    try {
      val img = readImageBounded(payload, maxPixels).orNull
      if (img == null) None
      else Some((img.getWidth, img.getHeight, histogramOf(img)))
    } catch { case _: Exception => None }

  /** The 8-bin luminance histogram alone (pixel-budget-guarded). */
  private[operators] def decodeForHistogram(payload: Array[Byte],
      maxPixels: Long = DefaultMaxPixels): Option[Array[Float]] =
    decodeWithHistogram(payload, maxPixels).map(_._3)

  /** Decode one batch: real image decode (pixel-budget-guarded), stub
    * for video/undecodable/over-budget.
    */
  private[graft] def decodeBatch(batch: Seq[MediaRow],
      maxPixels: Long = DefaultMaxPixels): Seq[MediaFeatures] =
    batch.map { m =>
      if (m.format == "video") stubFeatures(m)
      else decodeImage(m, maxPixels).getOrElse(stubFeatures(m))
    }

  /** Batched feature extraction: payloads stream through the decoder
    * `batchSize` rows at a time, partition-local (no shuffle, no
    * driver involvement — the partitioning of the input is the
    * parallelism of the decode).
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64,
      maxPixels: Long = DefaultMaxPixels): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions(_.grouped(batchSize).flatMap(decodeBatch(_, maxPixels)))
  }

  case class ImageHash(docId: Long, dhash: Long, decoded: Boolean)

  /** dHash-64 over a decoded raster: mean luminance on a 9×8 cell
    * grid (each cell area-sampled at ≤8×8 probe positions — constant
    * cost in the image size, like the histogram probe), bit i set iff
    * cell(x) > cell(x+1) in its row. The classic difference hash:
    * stable under re-encoding, resizing and small local edits, with
    * hamming distance as the near-dup measure.
    */
  private[operators] def dhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val gw = 9; val gh = 8
    val means = Array.ofDim[Double](gh, gw)
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw; val x1 = math.max(x0 + 1, (cx + 1) * w / gw)
        val y0 = cy * h / gh; val y1 = math.max(y0 + 1, (cy + 1) * h / gh)
        val sx = math.max(1, (x1 - x0 + 7) / 8)
        val sy = math.max(1, (y1 - y0 + 7) / 8)
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            n += 1; x += sx
          }
          y += sy
        }
        means(cy)(cx) = sum.toDouble / n
        cx += 1
      }
      cy += 1
    }
    var bits = 0L; var i = 0
    cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < 8) {
        if (means(cy)(cx) > means(cy)(cx + 1)) bits |= 1L << i
        i += 1; cx += 1
      }
      cy += 1
    }
    bits
  }

  /** Decode + dHash in one call for row-local consumers (the
    * streaming image gate): None when the payload is not a decodable
    * within-budget image.
    */
  private[graft] def decodeForHash(payload: Array[Byte],
      maxPixels: Long = DefaultMaxPixels): Option[Long] =
    readImageBounded(payload, maxPixels).map(dhash64)

  /** Perceptual hash per media row: REAL decode (pixel-budget-guarded
    * like every decode here) → [[dhash64]]. Undecodable / video /
    * over-budget payloads return `decoded = false` with dhash 0 —
    * consumers (the dedup band join) must exclude them rather than
    * pair unrelated garbage on a stub hash. Partition-local map, no
    * shuffle: the input partitioning is the decode parallelism.
    */
  def imageHashes(media: Dataset[MediaRow],
      maxPixels: Long = DefaultMaxPixels): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions(_.map { m =>
      val img =
        if (m.format == "video") None
        else readImageBounded(m.payload, maxPixels)
      img match {
        case Some(i) => ImageHash(m.docId, dhash64(i), decoded = true)
        case None => ImageHash(m.docId, 0L, decoded = false)
      }
    })
  }

  /** Deterministic token-block image per document — the registry /
    * fixture bridge: the driver's testdata carries no binary column,
    * so `q_image_dedup` renders one synthetic PNG per doc and runs the
    * REAL decode + dHash + band-join machinery over it. Block
    * (i mod blocks²) folds token i's murmur hash (XOR), so
    * exact-duplicate texts render identical images and near-duplicate
    * texts (few changed tokens) render images differing in few
    * blocks — exactly the hamming-neighborhood structure a perceptual
    * dedup detects.
    * Real corpora replace this one method with their binary column.
    */
  def syntheticImages(documents: org.apache.spark.sql.DataFrame,
      blocks: Int = 8, blockPx: Int = 4): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    implicit val enc = Encoders.product[MediaRow]
    documents.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // null text = poison row (the sibling operators' tolerance
        // policy): render the empty-document background image rather
        // than NPE-ing the whole job
        val toks = if (text == null) Array.empty[String] else text.split(" ")
        val img = renderTokenBlocks(toks, blocks, blockPx,
          seed = scala.util.hashing.MurmurHash3.stringSeed)
        val bos = new ByteArrayOutputStream()
        ImageIO.write(img, "png", bos)
        MediaRow(id, bos.toByteArray, "image")
      })
  }

  /** The token-block raster behind [[syntheticImages]] and
    * [[graft.operators.VideoOps.syntheticVideos]] (which varies
    * `seed` per frame). Per-block color = XOR of murmur over the
    * tokens at positions ≡ b (mod blocks²) — EVERY token influences a
    * pixel, so texts differing only past token blocks² still render
    * apart (r9 review: the first cut ignored the tail, and two docs
    * sharing a 64-token header rendered byte-identical).
    * murmur, not String.hashCode: the polynomial hash of short
    * similar tokens varies mostly in its LOW bits, leaving the
    * luminance (dominated by the red/green channels) nearly constant
    * across blocks — a degenerate dHash where unrelated images land
    * within a few hamming bits. Murmur's avalanche decorrelates block
    * luminance per token. The murmur SEED distinguishes frames: the
    * same text renders a different (but equally token-determined)
    * raster per seed.
    */
  private[operators] def renderTokenBlocks(toks: Array[String],
      blocks: Int, blockPx: Int,
      seed: Int): java.awt.image.BufferedImage = {
    val side = blocks * blockPx
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val nBlocks = blocks * blocks
    val colors = Array.fill(nBlocks)(0x202020)
    var i = 0
    while (i < toks.length) {
      val b = i % nBlocks
      colors(b) = (colors(b) ^
        scala.util.hashing.MurmurHash3.stringHash(toks(i), seed)) & 0xffffff
      i += 1
    }
    var b = 0
    while (b < nBlocks) {
      val bx = (b % blocks) * blockPx; val by = (b / blocks) * blockPx
      var y = by
      while (y < by + blockPx) {
        var x = bx
        while (x < bx + blockPx) { img.setRGB(x, y, colors(b)); x += 1 }
        y += 1
      }
      b += 1
    }
    img
  }

  /** Top-k similar images by decoded luminance-feature cosine (r9) —
    * the multimodal → ANN bridge: REAL decode → 8-bin luminance
    * histogram ([[extractFeatures]]) → the embedding family's own
    * [[graft.operators.Similarity.annTopK]] machinery, unchanged
    * (broadcast queries, codegen cosine kernel, rank through
    * WindowGroupLimit). [[graft.operators.Dedup.imageDedupPairs]] is
    * the NEAR-DUPLICATE view (hamming on structure); this is the
    * SIMILARITY view (cosine on tone distribution) — a histogram is
    * resolution-invariant, so re-rendered/rescaled variants rank
    * together even when their dHashes drift. The scale paths
    * (LSH/IVF/PQ) accept the same (vec_id, embedding) frame.
    */
  def imageAnnTopK(media: Dataset[MediaRow], nQueries: Long = 10,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    // pinned: annTopK reads the 8-float feature frame from BOTH the
    // query and the corpus subtree, and Catalyst does not reuse an
    // un-exchanged MapPartitions decode — unpinned, every raster
    // decodes twice
    val feats = Cached.pin(extractFeatures(media).toDF()
      .select(org.apache.spark.sql.functions.col("docId").as("vec_id"),
        org.apache.spark.sql.functions.col("feature").as("embedding")))
    Similarity.annTopK(feats, nQueries, k)
  }

  case class ImageGate(docId: Long, width: Int, height: Int,
      entropy: Double, keep: Boolean, failReasons: String)

  /** Image quality gate with NAMED failure reasons — the multimodal
    * pillar's [[TextOps.gopherGate]]: a 100 TB image-text corpus pass
    * drops thumbnails/trackers (`too_small`), banner strips
    * (`extreme_aspect`), flat placeholders (`low_entropy` — Shannon
    * entropy in nats over the decoded 8-bin luminance histogram; a
    * solid color scores 0) and bytes no decoder accepts
    * (`undecodable`; video payloads gate as `not_image` — this pass
    * judges stills only). Real decode, same pixel-budget guard as
    * every decode here; partition-local map, no shuffle — the named
    * reasons make the drop AUDITABLE per source, which is the point:
    * a one-bit gate can't tell a crawl that ships banners from one
    * that ships placeholders.
    */
  def imageFilter(media: Dataset[MediaRow], minSide: Int = 64,
      maxAspect: Double = 4.0, minEntropy: Double = 0.5,
      maxPixels: Long = DefaultMaxPixels): Dataset[ImageGate] = {
    implicit val enc = Encoders.product[ImageGate]
    // one source of truth: the gate is a projection of the fused
    // profile (the dHash it also computes costs ≤72 grid cells × ≤64
    // probes next to the decode it shares)
    imageProfile(media, minSide, maxAspect, minEntropy, maxPixels)
      .map(p => ImageGate(p.docId, p.width, p.height, p.entropy, p.keep,
        p.failReasons))
  }

  /** One row per image from ONE decode: the gate fields of
    * [[imageFilter]] AND the perceptual dHash of [[imageHashes]] —
    * the "decode once, derive everything, never re-touch payloads"
    * shape a 100 TB media pass needs (running gate and hash as
    * separate operators decodes every raster twice; measured on
    * [[MediaPipeline.curateMedia]]). `decoded` mirrors imageHashes'
    * exclusion flag; gate thresholds and emitted columns are
    * byte-identical to imageFilter's (which is now a projection of
    * this).
    */
  case class ImageProfile(docId: Long, decoded: Boolean, width: Int,
      height: Int, entropy: Double, dhash: Long, keep: Boolean,
      failReasons: String, feature: Array[Float])

  def imageProfile(media: Dataset[MediaRow], minSide: Int = 64,
      maxAspect: Double = 4.0, minEntropy: Double = 0.5,
      maxPixels: Long = DefaultMaxPixels): Dataset[ImageProfile] = {
    implicit val enc = Encoders.product[ImageProfile]
    media.mapPartitions(_.map { m =>
      if (m.format == "video")
        ImageProfile(m.docId, decoded = false, 0, 0, 0.0, 0L,
          keep = false, "not_image", stubFeatures(m).feature)
      else {
        val img =
          try readImageBounded(m.payload, maxPixels).orNull
          catch { case _: Exception => null }
        if (img == null)
          ImageProfile(m.docId, decoded = false, 0, 0, 0.0, 0L,
            keep = false, "undecodable", stubFeatures(m).feature)
        else {
          val hist = histogramOf(img)
          var ent = 0.0
          hist.foreach(p => if (p > 0f) ent -= p * math.log(p.toDouble))
          // the entropy is EMITTED (4dp), not just thresholded —
          // consumers re-cut the gate without re-decoding 100 TB
          val entR = math.rint(ent * 1e4) / 1e4
          val w = img.getWidth; val h = img.getHeight
          val side = math.min(w, h)
          val reasons = Seq(
            if (side < minSide) "too_small" else "",
            if (math.max(w, h).toDouble / side > maxAspect)
              "extreme_aspect" else "",
            if (ent < minEntropy) "low_entropy" else "").filter(_.nonEmpty)
          ImageProfile(m.docId, decoded = true, w, h, entR, dhash64(img),
            reasons.isEmpty, reasons.mkString(","), hist)
        }
      }
    })
  }

  /** [[imageFilter]]'s gate as a projection of an ALREADY-computed
    * profile frame — the decode-once door for a registry that shares
    * ONE profile pass across the gate / ANN / hash consumers (three
    * separate full-corpus decodes before; the 10× sweep measured the
    * per-op decode at ~8 s each).
    */
  def gateFromProfiles(profiles: Dataset[ImageProfile]): Dataset[ImageGate] = {
    implicit val enc = Encoders.product[ImageGate]
    profiles.map(p =>
      ImageGate(p.docId, p.width, p.height, p.entropy, p.keep, p.failReasons))
  }

  /** [[imageHashes]] as a projection of the profile frame — identical
    * rows (decoded ⇒ its dHash, else (0, false)), zero decode.
    */
  def imageHashesFromProfiles(
      profiles: Dataset[ImageProfile]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    profiles.map(p =>
      ImageHash(p.docId, if (p.decoded) p.dhash else 0L, p.decoded))
  }

  /** [[imageAnnTopK]] over the profile frame's features — identical
    * ranking (the profile carries [[extractFeatures]]' histogram for
    * decoded rasters and its deterministic stub otherwise), zero
    * decode. The caller pins `profiles` (a registry memo pins one
    * shared instance; annTopK reads the feature frame from both the
    * query and corpus subtrees).
    */
  def imageAnnFromProfiles(profiles: Dataset[ImageProfile],
      nQueries: Long = 10, k: Int = 5): org.apache.spark.sql.DataFrame =
    Similarity.annTopK(
      profiles.toDF().select(
        org.apache.spark.sql.functions.col("docId").as("vec_id"),
        org.apache.spark.sql.functions.col("feature").as("embedding")),
      nQueries, k)

  case class ResizedMedia(docId: Long, width: Int, height: Int,
      payload: Array[Byte])

  /** Resize: REAL raster rescale for decodable images (area-style via
    * `getScaledInstance(SCALE_SMOOTH)` drawn into a fresh RGB raster,
    * re-encoded as PNG — deterministic for a given JDK); the old
    * deterministic byte-stub for video/undecodable payloads. Plumbing
    * (typed schema, partition-local map) unchanged.
    */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[ResizedMedia] = {
    implicit val enc = Encoders.product[ResizedMedia]
    media.mapPartitions(_.map { m =>
      if (m.payload.isEmpty) ResizedMedia(m.docId, w, h, Array.emptyByteArray)
      else resizeImage(m, w, h).getOrElse {
        val outLen = math.max(1, math.min(m.payload.length, w * h / 64))
        ResizedMedia(m.docId, w, h,
          Array.tabulate(outLen)(i => (m.payload(i % m.payload.length) ^ (w + h)).toByte))
      }
    })
  }

  private def resizeImage(m: MediaRow, w: Int, h: Int): Option[ResizedMedia] =
    if (m.format == "video") None
    else try {
      val img = readImageBounded(m.payload, DefaultMaxPixels).orNull
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img.getScaledInstance(w, h,
          java.awt.Image.SCALE_SMOOTH), 0, 0, null)
        finally g.dispose()
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        Some(ResizedMedia(m.docId, w, h, bos.toByteArray))
      }
    } catch { case _: Exception => None }

  case class Frame(docId: Long, frameIdx: Int, payload: Array[Byte])

  /** STUB frame sampling for video payloads: emit every `everyN`-th
    * frame index of the (stub-decoded) frame count. Partition-local
    * flatMap — output cardinality scales with frames, input stays
    * opaque bytes until here.
    */
  def frameSample(media: Dataset[MediaRow], everyN: Int = 4): Dataset[Frame] = {
    implicit val enc = Encoders.product[Frame]
    media.mapPartitions(_.flatMap { m =>
      if (m.payload.isEmpty) Iterator.empty // nothing to decode
      else (0 until frameCount(m.payload, m.format) by everyN).iterator.map(i =>
        Frame(m.docId, i, Array(m.payload(i % m.payload.length), i.toByte)))
    })
  }
}
