package graft

import org.apache.spark.sql.Encoders

import graft.operators.{MultimodalOps, Similarity}
import graft.operators.MultimodalOps.MediaRow

class MultimodalOpsSpec extends SparkSuite {

  private lazy val media = {
    implicit val enc = Encoders.product[MediaRow]
    spark.createDataset(
      (0L until 100L).map(i =>
        MediaRow(i, s"payload-$i-${"x" * (i % 17).toInt}".getBytes("UTF-8"),
          if (i % 3 == 0) "video" else "image")))
      .repartition(4)
  }

  test("resize: typed output carries target dims, deterministic payload") {
    val r1 = MultimodalOps.resize(media, 64, 64).collect().sortBy(_.docId)
    val r2 = MultimodalOps.resize(media, 64, 64).collect().sortBy(_.docId)
    assert(r1.length == 100)
    assert(r1.forall(m => m.width == 64 && m.height == 64 && m.payload.nonEmpty))
    assert(r1.map(_.payload.toSeq).toSeq == r2.map(_.payload.toSeq).toSeq)
  }

  private def testImage(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 37 + y * 91 + 123) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real PNG/JPEG payloads decode to their true dimensions") {
    implicit val enc = Encoders.product[MediaRow]
    val m = spark.createDataset(Seq(
      MediaRow(0L, testImage(5, 7, "png"), "image"),
      MediaRow(1L, testImage(6, 4, "jpg"), "image"),
      MediaRow(2L, "definitely not an image".getBytes("UTF-8"), "image"),
      MediaRow(3L, null, "image"))) // a nullable binary column's null
    val f = MultimodalOps.imageProfile(m).collect().sortBy(_.docId)
    assert(f(0).decoded && f(0).width == 5 && f(0).height == 7)
    assert(f(1).decoded && f(1).width == 6 && f(1).height == 4)
    // undecodable bytes degrade to a flagged row carrying the
    // deterministic stub feature, not an error
    assert(!f(2).decoded && f(2).failReasons == "undecodable")
    assert(f(2).feature.toSeq == MultimodalOps.stubFeature(m.collect()(2).payload).toSeq)
    assert(!f(3).decoded && f(3).failReasons == "undecodable")
    // luminance histogram is a probability distribution over 8 bins
    assert(math.abs(f(0).feature.sum - 1f) < 1e-3)
    assert(f(0).feature.forall(v => v >= 0f && v <= 1f))
  }

  test("resize re-rasters decodable images to the target dimensions") {
    implicit val enc = Encoders.product[MediaRow]
    val m = spark.createDataset(Seq(MediaRow(0L, testImage(10, 8, "png"), "image")))
    val r = MultimodalOps.resize(m, 4, 3).collect().head
    assert(r.width == 4 && r.height == 3)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    assert(back != null, "resize output must itself be a decodable image")
    assert(back.getWidth == 4 && back.getHeight == 3)
  }

  test("empty payloads do not crash resize/imageProfile/videoFrameProfiles") {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val m = spark.createDataset(Seq(
      MediaRow(0L, Array.emptyByteArray, "image"),
      MediaRow(1L, Array.emptyByteArray, "video"),
      MediaRow(2L, "x".getBytes, "image")))
    assert(MultimodalOps.resize(m, 32, 32).collect().length == 3)
    assert(MultimodalOps.imageProfile(m).collect().length == 3)
    assert(graft.operators.VideoOps.videoFrameProfiles(m).count() == 0L)
  }

  test("pixel budget: over-budget declared dimensions degrade to the stub") {
    implicit val enc = Encoders.product[MediaRow]
    val png = testImage(8, 8, "png") // 64 pixels, decodes fine normally
    val rows = spark.createDataset(Seq(MediaRow(0L, png, "image")))
    val real = MultimodalOps.imageProfile(rows).collect().head
    assert(real.decoded && real.width == 8 && real.height == 8)
    // with a 32-pixel budget the SAME payload is rejected at the
    // header read (no raster allocation) and falls back to the stub —
    // the mechanism that keeps a decompression-bomb header from
    // OOM-ing an executor
    val guarded = MultimodalOps.imageProfile(rows, maxPixels = 32L)
      .collect().head
    assert(!guarded.decoded && guarded.failReasons == "undecodable",
      "over-budget image must take the stub path")
    assert(guarded.feature.toSeq == MultimodalOps.stubFeature(png).toSeq)
    // at the default budget the cap is far above any legitimate image
    assert(MultimodalOps.DefaultMaxPixels == 32L * 1024 * 1024)
  }

  /** Gray-gradient PNG: v = (x·53 + y·97) mod 256 in all channels —
    * luminance spreads across the full 8-bin histogram (high entropy),
    * deterministically.
    */
  private def grayImage(w: Int, h: Int, flat: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val v = if (flat) 128 else (x * 53 + y * 97) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "no png writer")
    bos.toByteArray
  }

  test("imageFilter: one named reason per failure mode, entropy emitted for re-cutting") {
    implicit val enc = Encoders.product[MediaRow]
    val m = spark.createDataset(Seq(
      MediaRow(0L, grayImage(128, 128), "image"),              // keep
      MediaRow(1L, grayImage(8, 8), "image"),                  // too_small
      MediaRow(2L, grayImage(512, 64), "image"),               // extreme_aspect
      MediaRow(3L, grayImage(128, 128, flat = true), "image"), // low_entropy
      MediaRow(4L, "not an image".getBytes("UTF-8"), "image"), // undecodable
      MediaRow(5L, grayImage(128, 128), "video")))             // not_image
    val g = MultimodalOps.imageFilter(MultimodalOps.imageProfile(m))
      .collect().sortBy(_.docId)
    assert(g.map(_.failReasons).toSeq == Seq("", "too_small", "extreme_aspect",
      "low_entropy", "undecodable", "not_image"))
    assert(g.map(_.keep).toSeq == Seq(true, false, false, false, false, false))
    // the keep image's dimensions come from the real bitstream
    assert(g(0).width == 128 && g(0).height == 128)
    // entropy is the audit column: gradient near ln(8), flat exactly 0
    assert(g(0).entropy > 1.8 && g(3).entropy == 0.0)
    // thresholds are knobs: lowering minEntropy re-admits the flat image
    val relaxed = MultimodalOps.imageFilter(
      MultimodalOps.imageProfile(m, minEntropy = 0.0)).collect().sortBy(_.docId)
    assert(relaxed(3).keep)
  }

  /** The row kernels run on the driver over one payload: what every
    * profile column must equal — (decoded, width, height, entropy at
    * 4 dp, dhash, feature). An undecodable or video payload is
    * (false, 0, 0, 0.0, 0, stub feature).
    */
  private def kernelRow(m: MediaRow) = {
    val img =
      if (m.format == "video") null
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
    if (img == null)
      (false, 0, 0, 0.0, 0L, MultimodalOps.stubFeature(m.payload).toSeq)
    else {
      val hist = MultimodalOps.histogramOf(img)
      val ent = -hist.filter(_ > 0f).map(p => p * math.log(p.toDouble)).sum
      (true, img.getWidth, img.getHeight, math.rint(ent * 1e4) / 1e4,
        MultimodalOps.dhash64(img), hist.toSeq)
    }
  }

  test("imageProfile: one decode yields exactly imageFilter's gate AND " +
      "imageHashes' dhash") {
    implicit val enc = Encoders.product[MediaRow]
    val rows = Seq(
      MediaRow(0L, grayImage(128, 128), "image"),
      MediaRow(1L, grayImage(8, 8), "image"),
      MediaRow(2L, grayImage(128, 128, flat = true), "image"),
      MediaRow(3L, "not an image".getBytes("UTF-8"), "image"),
      MediaRow(4L, grayImage(64, 64), "video"))
    val p = MultimodalOps.imageProfile(spark.createDataset(rows)).collect()
      .map(r => r.docId -> r).toMap
    rows.foreach { m =>
      val r = p(m.docId)
      assert((r.decoded, r.width, r.height, r.entropy, r.dhash,
        r.feature.toSeq) == kernelRow(m), s"profile drift at ${m.docId}")
    }
    // the gate is cut from those columns with the default thresholds
    assert(p.toSeq.sortBy(_._1).map(_._2.failReasons) == Seq("",
      "too_small", "low_entropy", "undecodable", "not_image"))
    assert(p.values.forall(r => r.keep == r.failReasons.isEmpty))
  }

  test("profile projections: gateFromProfiles / imageHashesFromProfiles " +
      "/ imageAnnFromProfiles equal the standalone decode ops " +
      "(incl. the stub features of undecodable payloads)") {
    implicit val enc = Encoders.product[MediaRow]
    val rows = Seq(
      MediaRow(0L, grayImage(128, 128), "image"),
      MediaRow(1L, grayImage(8, 8), "image"),
      MediaRow(2L, grayImage(128, 128, flat = true), "image"),
      MediaRow(3L, "not an image".getBytes("UTF-8"), "image"),
      MediaRow(4L, grayImage(64, 64), "video"),
      MediaRow(5L, grayImage(96, 48), "image"))
    val profiles = MultimodalOps.imageProfile(spark.createDataset(rows))
    val byId = profiles.collect().map(p => p.docId -> p).toMap
    val kernels = rows.map(m => m.docId -> kernelRow(m)).toMap
    assert(MultimodalOps.imageFilter(profiles).collect()
      .map(g => (g.docId, g.width, g.height, g.entropy, g.keep,
        g.failReasons)).sortBy(_._1).toSeq ==
      rows.map { m =>
        val p = byId(m.docId); val k = kernels(m.docId)
        (m.docId, k._2, k._3, k._4, p.keep, p.failReasons)
      })
    assert(MultimodalOps.imageHashes(profiles).collect()
      .map(x => (x.docId, x.dhash, x.decoded)).sortBy(_._1).toSeq ==
      rows.map(m => (m.docId, kernels(m.docId)._5, kernels(m.docId)._1)))
    // the ANN ranks the kernels' features (stub included) exactly as
    // annTopK ranks them when handed the driver-built frame
    import spark.implicits._
    val kernelFeatures = rows.map(m =>
      (m.docId, kernels(m.docId)._6.toArray)).toDF("vec_id", "embedding")
    def annRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Long]("rnk"))).sortBy(t => (t._1, t._3)).toSeq
    assert(annRows(MultimodalOps.imageAnnTopK(profiles,
        nQueries = 3, k = 2)) ==
      annRows(Similarity.annTopK(kernelFeatures, 3, 2)))
  }
}
