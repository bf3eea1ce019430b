package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

import graft.operators.{AudioOps, MediaPipeline, MultimodalOps, VideoOps}
import graft.operators.AudioOps.AudioRow
import graft.operators.MultimodalOps.MediaRow

/** The composed multimodal capstone: per-modality gate → dedup
  * keep-first, one inventory row per (doc, modality) with named drop
  * reasons — checked against hand-built fixtures in all three
  * modalities at once.
  */
class MediaPipelineSpec extends SparkSuite {

  private def png(seed: Int, side: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(seed)
    for (bx <- 0 until 8; by <- 0 until 8) {
      val c = rnd.nextInt(0xffffff)
      for (x <- bx * side / 8 until (bx + 1) * side / 8;
           y <- by * side / 8 until (by + 1) * side / 8)
        img.setRGB(x, y, c)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def clipBytes(seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val pcm = Array.ofDim[Short](6400)
    for (s <- 0 until 64) {
      val amp = 3000 + rnd.nextInt(12000)
      for (j <- 0 until 100)
        pcm(s * 100 + j) = (rnd.nextInt(2 * amp + 1) - amp).toShort
    }
    AudioOps.writeWav(pcm, 8000)
  }

  private def jpegFill(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var st = seed
    for (y <- 0 until 32; x <- 0 until 32) {
      st = st * 1103515245 + 12345; img.setRGB(x, y, st >>> 8 & 0xffffff)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** The capstone over the fixtures' decode-once frames: image and
    * audio profiles, the container-parse gate and the per-frame hash
    * projection of the video frame profile.
    */
  private def curate(images: Dataset[MediaRow], audio: Dataset[AudioRow],
      videos: Dataset[MediaRow], imgMinSide: Int, imgMinEntropy: Double,
      canonical: Boolean = false): DataFrame =
    MediaPipeline.curateMedia(
      MultimodalOps.imageProfile(images, minSide = imgMinSide,
        minEntropy = imgMinEntropy).toDF(),
      AudioOps.audioProfile(audio).toDF(),
      VideoOps.videoMeta(videos).toDF(),
      VideoOps.frameHashes(VideoOps.videoFrameProfiles(videos)).toDF()
        .select(col("docId").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("fhash")),
      canonical = canonical)

  test("curateMedia: gates name their reasons, dedup keeps first, survivors pass") {
    implicit val mEnc = Encoders.product[MediaRow]
    implicit val aEnc = Encoders.product[AudioRow]
    val images = spark.createDataset(Seq(
      MediaRow(0L, png(1), "image"), // keep
      MediaRow(1L, png(1), "image"), // byte-clone -> dup_of:0
      MediaRow(2L, png(2, side = 8), "image"), // too_small
      MediaRow(3L, "junk".getBytes("UTF-8"), "image"))) // undecodable
    val audio = spark.createDataset(Seq(
      AudioRow(0L, clipBytes(5), "audio"), // keep
      AudioRow(1L, clipBytes(5), "audio"), // clone -> dup_of:0
      AudioRow(2L, AudioOps.writeWav(Array.fill[Short](4000)(0), 8000),
        "audio"), // silent
      AudioRow(3L, "junk".getBytes("UTF-8"), "audio"))) // undecodable
    val fa = jpegFill(7); val fb = jpegFill(8); val fc = jpegFill(9)
    val avi = VideoOps.writeAviMjpeg(Seq(fa, fb, fc), 32, 32, 10)
    val videos = spark.createDataset(Seq(
      MediaRow(0L, avi, "video"), // keep
      MediaRow(1L, avi, "video"), // clone -> dup_of:0
      MediaRow(2L, "junk".getBytes("UTF-8"), "video"))) // undecodable
    val inv = curate(images, audio, videos,
        imgMinSide = 16, imgMinEntropy = 0.5)
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) ->
        (r.getBoolean(2), r.getString(3))).toMap
    assert(inv(("image", 0L)) == (true, ""))
    assert(inv(("image", 1L)) == (false, "dup_of:0"))
    assert(inv(("image", 2L))._2.contains("too_small"))
    assert(inv(("image", 3L)) == (false, "undecodable"))
    assert(inv(("audio", 0L)) == (true, ""))
    assert(inv(("audio", 1L)) == (false, "dup_of:0"))
    assert(inv(("audio", 2L))._2.contains("silent"))
    assert(inv(("audio", 3L)) == (false, "undecodable"))
    assert(inv(("video", 0L)) == (true, ""))
    assert(inv(("video", 1L)) == (false, "dup_of:0"))
    assert(inv(("video", 2L)) == (false, "undecodable"))
    // inventory is total: one row per (doc, modality)
    assert(inv.size == 11)
  }

  test("inventory drop rules: keep-first keeps both arms of a variant " +
      "star, canonical collapses the component; clone cliques agree") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val gate = ids.withColumn("keep", lit(true))
      .withColumn("fail_reasons", lit(""))
    // the star: variants 0 and 1 each near-dup the common 2, but not
    // each other; 3 is unrelated
    val star = Seq((0L, 2L), (1L, 2L)).toDF("a_id", "b_id")
    def inv(pairs: org.apache.spark.sql.DataFrame, canonical: Boolean) =
      graft.operators.MediaPipeline.inventory(ids, gate, pairs, "image",
        canonical).collect()
        .map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
    val greedy = inv(star, canonical = false)
    assert(greedy == Map(0L -> (true, ""), 1L -> (true, ""),
      2L -> (false, "dup_of:0"), 3L -> (true, "")), s"got $greedy")
    val canon = inv(star, canonical = true)
    assert(canon == Map(0L -> (true, ""), 1L -> (false, "dup_of:0"),
      2L -> (false, "dup_of:0"), 3L -> (true, "")), s"got $canon")
    // a clone CLIQUE (all pairs present): the two rules agree exactly
    val clique = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("a_id", "b_id")
    assert(inv(clique, canonical = false) == inv(clique, canonical = true))
    // a CHAIN 0~2~3: both rules keep only 0; labels differ by design
    // (greedy names the nearest smaller partner, canonical the rep)
    val chain = Seq((0L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val gChain = inv(chain, canonical = false)
    val cChain = inv(chain, canonical = true)
    assert(gChain.view.mapValues(_._1).toMap ==
      cChain.view.mapValues(_._1).toMap)
    assert(gChain(3L) == (false, "dup_of:2") && cChain(3L) == (false, "dup_of:0"))
  }

  test("curateMedia canonical: same gates and keep-set on the clone " +
      "fixture as keep-first (clones are cliques)") {
    implicit val mEnc = Encoders.product[MediaRow]
    implicit val aEnc = Encoders.product[AudioRow]
    val images = spark.createDataset(Seq(
      MediaRow(0L, png(1), "image"), MediaRow(1L, png(1), "image"),
      MediaRow(2L, png(1), "image"), // three byte-clones: one clique
      MediaRow(3L, "junk".getBytes("UTF-8"), "image")))
    val audio = spark.emptyDataset[AudioRow]
    val videos = spark.emptyDataset[MediaRow]
    def run(canonical: Boolean) = curate(
        images, audio, videos, imgMinSide = 16, imgMinEntropy = 0.5,
        canonical = canonical)
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) ->
        (r.getBoolean(2), r.getString(3))).toSet
    assert(run(canonical = false) == run(canonical = true))
  }

  test("curateMedia: gate rejects never reach the dedup stage") {
    implicit val mEnc = Encoders.product[MediaRow]
    implicit val aEnc = Encoders.product[AudioRow]
    // two byte-identical TINY images: both gate-fail; without the
    // survivors-only join the dedup would pair them and overwrite the
    // gate reason with dup_of
    val images = spark.createDataset(Seq(
      MediaRow(0L, png(3, side = 8), "image"),
      MediaRow(1L, png(3, side = 8), "image")))
    val audio = spark.emptyDataset[AudioRow]
    val videos = spark.emptyDataset[MediaRow]
    val inv = curate(images, audio, videos,
        imgMinSide = 16, imgMinEntropy = 0.5)
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) ->
        (r.getBoolean(2), r.getString(3))).toMap
    assert(inv.size == 2)
    assert(inv(("image", 0L))._2.contains("too_small"))
    assert(inv(("image", 1L))._2.contains("too_small"),
      s"gate reject must keep its gate reason: ${inv(("image", 1L))}")
  }
}
