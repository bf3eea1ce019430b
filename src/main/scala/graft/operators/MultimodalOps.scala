package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Dataset, Encoders}

/** Typed image pipeline plumbing: opaque binary payloads + metadata
  * in, one decoded profile row per image out ([[imageProfile]]), via
  * `mapPartitions` over case-class rows. The gate, hash and ANN doors
  * read that profile; none of them touches a payload.
  *
  * Image payloads (PNG/JPEG/BMP/GIF — whatever the JDK's
  * `javax.imageio` service registry provides, zero external
  * dependencies) are decoded for REAL: dimensions from the actual
  * bitstream, an 8-bin luminance histogram as the feature vector, a
  * dHash-64 as the perceptual hash, and a real raster rescale for
  * [[resize]]. Undecodable bytes degrade to a `decoded = false` row
  * rather than failing the batch (poison-pill tolerance — one corrupt
  * file must not kill a 100 TB decode pass).
  */
object MultimodalOps {

  case class MediaRow(docId: Long, payload: Array[Byte], format: String)

  /** STUB feature vector (video / undecodable payloads): deterministic
    * in the payload bytes, so a profile row always carries 8 floats.
    */
  private[graft] def stubFeature(payload: Array[Byte]): Array[Float] = {
    val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    Array.tabulate(8)(i => ((sum + i * 31) % 997).toFloat / 997f)
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

  /** 8-bin luminance histogram of an already-decoded raster, over a
    * bounded probe grid (≤64×64 samples), so cost is constant in the
    * image size.
    */
  private[graft] def histogramOf(
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

  case class ImageHash(docId: Long, dhash: Long, decoded: Boolean)

  /** dHash-64 over a decoded raster: mean luminance on a 9×8 cell
    * grid (each cell area-sampled at ≤8×8 probe positions — constant
    * cost in the image size, like the histogram probe), bit i set iff
    * cell(x) > cell(x+1) in its row. The classic difference hash:
    * stable under re-encoding, resizing and small local edits, with
    * hamming distance as the near-dup measure.
    */
  private[graft] def dhash64(img: java.awt.image.BufferedImage): Long = {
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

  case class ImageGate(docId: Long, width: Int, height: Int,
      entropy: Double, keep: Boolean, failReasons: String)

  /** One row per image from ONE decode: the gate fields of
    * [[imageFilter]], the perceptual dHash of [[imageHashes]] and the
    * histogram feature of [[imageAnnTopK]] — the "decode once, derive
    * everything, never re-touch payloads" shape a 100 TB media pass
    * needs: every consumer reads these rows, so each raster decodes
    * once. Undecodable / video / over-budget payloads come
    * out `decoded = false` with dhash 0 and the deterministic
    * [[stubFeature]]; their gate reason is `undecodable` (`not_image`
    * for video — this pass judges stills only).
    */
  case class ImageProfile(docId: Long, decoded: Boolean, width: Int,
      height: Int, entropy: Double, dhash: Long, keep: Boolean,
      failReasons: String, feature: Array[Float])

  /** [[imageProfile]] for one payload — the only code that turns an
    * image payload into decoded values, shared with the streaming gate
    * ([[graft.streaming.StreamingOps.imageDupDocStream]]). A null
    * payload profiles like an empty one.
    */
  private[graft] def imageProfileRow(m: MediaRow, minSide: Int = 64,
      maxAspect: Double = 4.0, minEntropy: Double = 0.5,
      maxPixels: Long = DefaultMaxPixels): ImageProfile = {
    val bytes = if (m.payload == null) Array.emptyByteArray else m.payload
    val img =
      if (m.format == "video") null
      else readImageBounded(bytes, maxPixels).orNull
    if (img == null)
      ImageProfile(m.docId, decoded = false, 0, 0, 0.0, 0L, keep = false,
        if (m.format == "video") "not_image" else "undecodable",
        stubFeature(bytes))
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

  def imageProfile(media: Dataset[MediaRow], minSide: Int = 64,
      maxAspect: Double = 4.0, minEntropy: Double = 0.5,
      maxPixels: Long = DefaultMaxPixels): Dataset[ImageProfile] = {
    implicit val enc = Encoders.product[ImageProfile]
    media.mapPartitions(_.map(
      imageProfileRow(_, minSide, maxAspect, minEntropy, maxPixels)))
  }

  /** Image quality gate with NAMED failure reasons, projected from the
    * profile frame — the multimodal pillar's [[TextOps.gopherGate]]: a
    * 100 TB image-text corpus pass drops thumbnails/trackers
    * (`too_small`), banner strips (`extreme_aspect`), flat
    * placeholders (`low_entropy` — Shannon entropy in nats over the
    * decoded 8-bin luminance histogram; a solid color scores 0) and
    * bytes no decoder accepts (`undecodable`; video payloads gate as
    * `not_image`). The thresholds are [[imageProfile]]'s arguments.
    * The named reasons make the drop AUDITABLE per source: a one-bit
    * gate can't tell a crawl that ships banners from one that ships
    * placeholders.
    */
  def imageFilter(profiles: Dataset[ImageProfile]): Dataset[ImageGate] = {
    implicit val enc = Encoders.product[ImageGate]
    profiles.map(p =>
      ImageGate(p.docId, p.width, p.height, p.entropy, p.keep, p.failReasons))
  }

  /** Perceptual hash per image, projected from the profile frame:
    * decoded ⇒ its dHash-64 ([[dhash64]]), else (0, `decoded =
    * false`). Consumers (the dedup band join) must exclude the
    * undecodable rows rather than pair unrelated garbage on a stub
    * hash.
    */
  def imageHashes(profiles: Dataset[ImageProfile]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    profiles.map(p =>
      ImageHash(p.docId, if (p.decoded) p.dhash else 0L, p.decoded))
  }

  /** Top-k similar images by luminance-feature cosine — the
    * multimodal → ANN bridge: the profile's 8-bin luminance histogram
    * (the stub feature for undecodable payloads) → the embedding
    * family's own [[graft.operators.Similarity.annTopK]] machinery,
    * unchanged (broadcast queries, codegen cosine kernel, rank through
    * WindowGroupLimit). The dHash pair join
    * ([[graft.operators.Dedup.perceptualPairsFrom]] over
    * [[imageHashes]]) is the NEAR-DUPLICATE view (hamming on
    * structure); this is the SIMILARITY view (cosine on tone
    * distribution) — a histogram is resolution-invariant, so
    * re-rendered/rescaled variants rank together even when their
    * dHashes drift. The scale paths (LSH/IVF/PQ) accept the same
    * (vec_id, embedding) frame. The caller pins `profiles` (annTopK
    * reads the feature frame from both the query and corpus subtrees).
    */
  def imageAnnTopK(profiles: Dataset[ImageProfile],
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
      else (if (m.format == "video") None
            else readImageBounded(m.payload, DefaultMaxPixels))
        .flatMap(rescaled(_, w, h)) match {
        case Some(png) => ResizedMedia(m.docId, w, h, png)
        case None =>
          val outLen = math.max(1, math.min(m.payload.length, w * h / 64))
          ResizedMedia(m.docId, w, h, Array.tabulate(outLen)(i =>
            (m.payload(i % m.payload.length) ^ (w + h)).toByte))
      }
    })
  }

  /** `img` rescaled to w×h and re-encoded as PNG; None if drawing or
    * encoding throws.
    */
  private def rescaled(img: java.awt.image.BufferedImage, w: Int,
      h: Int): Option[Array[Byte]] =
    try {
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img.getScaledInstance(w, h,
        java.awt.Image.SCALE_SMOOTH), 0, 0, null)
      finally g.dispose()
      val bos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case _: Exception => None }
}
