package graft

import org.apache.spark.sql.Encoders

import graft.operators.{Dedup, MultimodalOps, Similarity, VideoOps}
import graft.operators.MultimodalOps.MediaRow

/** Real AVI/MJPEG video decode: container round trip, metadata,
  * frame sampling into the image family, keyframe (scene-change)
  * selection, the temporal perceptual dedup, and the bomb-clamp /
  * degrade contracts the other modalities established.
  */
class VideoOpsSpec extends SparkSuite {

  private def jpeg(fill: Int, w: Int = 32, h: Int = 32,
      noiseSeed: Int = -1): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var st = noiseSeed
    for (y <- 0 until h; x <- 0 until w) {
      val c = if (noiseSeed < 0) fill
      else { st = st * 1103515245 + 12345; st >>> 8 & 0xffffff }
      img.setRGB(x, y, c)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpg writer")
    bos.toByteArray
  }

  private def rows(rs: (Long, Array[Byte], String)*) = {
    implicit val enc = Encoders.product[MediaRow]
    spark.createDataset(rs.map { case (id, p, f) => MediaRow(id, p, f) })
  }

  /** The (doc_id, frame_idx, fhash) frame the dedup doors read,
    * projected from the decode-once frame profile.
    */
  private def frameHashFrame(m: org.apache.spark.sql.Dataset[MediaRow]) = {
    import org.apache.spark.sql.functions.col
    VideoOps.frameHashes(VideoOps.videoFrameProfiles(m)).toDF()
      .select(col("docId").as("doc_id"), col("frameIdx").as("frame_idx"),
        col("fhash"))
  }

  test("writeAviMjpeg -> decodeAvi round trip preserves header and frames") {
    val frames = Seq(jpeg(0x336699), jpeg(0x996633), jpeg(0x119922))
    val avi = VideoOps.writeAviMjpeg(frames, 32, 32, fps = 10)
    val a = VideoOps.decodeAvi(avi).get
    assert(a.width == 32 && a.height == 32 && a.usPerFrame == 100000)
    assert(a.frames.length == 3)
    assert(a.frames.map(_.toSeq) == frames.map(_.toSeq))
  }

  test("videoMeta: real parse for videos, degrade for everything else") {
    val avi = VideoOps.writeAviMjpeg(Seq(jpeg(0x112233), jpeg(0x445566)),
      32, 32, fps = 5)
    val m = rows((0L, avi, "video"),
      (1L, "not a container".getBytes("UTF-8"), "video"),
      (2L, avi, "image"), // format says image: the AVI path must not run
      (3L, Array.emptyByteArray, "video"))
    val meta = VideoOps.videoMeta(m).collect().sortBy(_.docId)
    assert(meta(0).decoded && meta(0).nFrames == 2 &&
      meta(0).width == 32 && meta(0).height == 32 &&
      math.abs(meta(0).fps - 5.0) < 1e-9)
    // r10: the AVI leg now also carries duration (2 frames at 5 fps =
    // 400 ms) and the stream's fccHandler
    assert(math.abs(meta(0).durationMs - 400.0) < 1e-9 &&
      meta(0).codec == "MJPG")
    assert(!meta(1).decoded && !meta(2).decoded && !meta(3).decoded)
  }

  // ── minimal ISO-BMFF packer (spec-local: main only PARSES mp4) ──
  private def mp4box(typ: String, body: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + body.length)
    bb.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
    bb.array()
  }
  private def beBytes(parts: (Int, Int)*): Array[Byte] = {
    // (value, byteLen) pairs, big-endian
    val bb = java.nio.ByteBuffer.allocate(parts.map(_._2).sum)
    parts.foreach {
      case (v, 4) => bb.putInt(v)
      case (v, 2) => bb.putShort(v.toShort)
      case (v, 1) => bb.put(v.toByte)
      case (v, n) => (0 until n).foreach(_ => bb.put(0.toByte))
    }
    bb.array()
  }
  private def packMp4(w: Int = 640, h: Int = 360, timescale: Int = 1000,
      duration: Int = 2500, samples: Int = 75,
      codec: String = "avc1"): Array[Byte] = {
    val ftyp = mp4box("ftyp",
      "isom".getBytes("US-ASCII") ++ beBytes((0, 4)) ++
        "isom".getBytes("US-ASCII"))
    val mvhd = mp4box("mvhd", beBytes((0, 4), (0, 4), (0, 4),
      (timescale, 4), (duration, 4)))
    // tkhd v0: width/height as 16.16 fixed at body offsets 76/80
    val tkhdBody = new Array[Byte](84)
    System.arraycopy(beBytes((w << 16, 4), (h << 16, 4)), 0, tkhdBody, 76, 8)
    val tkhd = mp4box("tkhd", tkhdBody)
    val hdlr = mp4box("hdlr", beBytes((0, 4), (0, 4)) ++
      "vide".getBytes("US-ASCII"))
    val stsd = mp4box("stsd", beBytes((0, 4), (1, 4), (16, 4)) ++
      codec.getBytes("US-ASCII"))
    val stsz = mp4box("stsz", beBytes((0, 4), (0, 4), (samples, 4)))
    val stbl = mp4box("stbl", stsd ++ stsz)
    val minf = mp4box("minf", stbl)
    val mdia = mp4box("mdia", hdlr ++ minf)
    val trak = mp4box("trak", tkhd ++ mdia)
    val moov = mp4box("moov", mvhd ++ trak)
    ftyp ++ moov
  }

  test("videoMeta: mp4 atom walk emits dims/duration/codec; frame decode " +
      "stays out of scope") {
    val mp4 = packMp4()
    val m = rows((0L, mp4, "video"))
    val v = VideoOps.videoMeta(m).collect().head
    assert(v.decoded, "a well-formed mp4 must parse")
    assert(v.width == 640 && v.height == 360, s"${v.width}x${v.height}")
    assert(math.abs(v.durationMs - 2500.0) < 1e-9, s"${v.durationMs}")
    assert(v.nFrames == 75 && math.abs(v.fps - 30.0) < 1e-9,
      s"${v.nFrames} @ ${v.fps}")
    assert(v.codec == "avc1")
    // no JDK h264 decoder: the frame family yields ZERO rows for mp4
    assert(VideoOps.frameSample(m).count() == 0L)
    assert(VideoOps.frameHashes(VideoOps.videoFrameProfiles(m)).count() == 0L)
  }

  test("decodeMp4Meta: truncated / garbage / bomb atoms degrade, never crash") {
    val mp4 = packMp4()
    // truncation anywhere inside moov: clamped walk, None (or a
    // partial parse that still refuses without a video trak)
    for (cut <- Seq(10, 40, mp4.length / 2, mp4.length - 4)) {
      val t = java.util.Arrays.copyOfRange(mp4, 0, cut)
      VideoOps.decodeMp4Meta(t) // must not throw
    }
    // garbage that merely LOOKS like a box stream
    assert(VideoOps.decodeMp4Meta("not a container at all".getBytes).isEmpty)
    assert(VideoOps.decodeMp4Meta(Array.emptyByteArray).isEmpty)
    // declared size beyond the payload clamps (bomb guard) — a moov
    // whose size field claims 2 GB parses what is present
    val bomb = packMp4()
    // overwrite moov's 4-byte size field (right before its tag) with MAX
    val moovOff = bomb.indexOfSlice("moov".getBytes("US-ASCII")) - 4
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(moovOff, Int.MaxValue)
    val v = VideoOps.decodeMp4Meta(bomb)
    assert(v.nonEmpty && v.get.width == 640,
      "clamped oversize moov must still yield the metadata present")
    // an mp4 with no video track (hdlr = soun) is refused
    val audioOnly = {
      val s = packMp4()
      val idx = s.indexOfSlice("vide".getBytes("US-ASCII"))
      val c = s.clone(); System.arraycopy("soun".getBytes, 0, c, idx, 4); c
    }
    assert(VideoOps.decodeMp4Meta(audioOnly).isEmpty)
  }

  test("frameSample: every-Nth real frame, decodable by the image family") {
    val frames = (0 until 7).map(i => jpeg(0x101010 * (i + 1)))
    val avi = VideoOps.writeAviMjpeg(frames, 32, 32, fps = 10)
    val out = VideoOps.frameSample(rows((0L, avi, "video"),
      (1L, "junk".getBytes("UTF-8"), "video")), everyN = 3)
      .collect().sortBy(_.frameIdx)
    assert(out.map(_.frameIdx).toSeq == Seq(0, 3, 6))
    assert(out.forall(_.docId == 0L), "undecodable contributed frames")
    out.foreach { f =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f.payload))
      assert(img != null && img.getWidth == 32 && img.getHeight == 32)
    }
  }

  test("videoKeyframes: scene changes emit, still runs collapse") {
    val black = jpeg(0x000000)
    val white = jpeg(0xffffff)
    val avi = VideoOps.writeAviMjpeg(
      Seq(black, black, black, white, white, black), 32, 32, fps = 10)
    val kf = VideoOps.videoKeyframes(
      VideoOps.videoFrameProfiles(rows((0L, avi, "video"))),
      threshold = 0.5).collect().sortBy(_.frameIdx)
    assert(kf.map(_.frameIdx).toSeq == Seq(0, 3, 5), s"got ${kf.toSeq}")
    assert(kf(0).delta == 2.0) // sentinel: first frame always emits
    assert(kf(1).delta > 1.5 && kf(2).delta > 1.5)
  }

  test("decodeAvi bomb clamp: forged chunk sizes cannot read past the payload") {
    val avi = VideoOps.writeAviMjpeg(Seq(jpeg(0x223344)), 32, 32, 10)
    // forge the movi LIST size field to 2 GB: locate "movi" and patch
    // the size 4 bytes before it
    val idx = avi.indexOfSlice("movi".getBytes("US-ASCII"))
    val forged = avi.clone()
    java.nio.ByteBuffer.wrap(forged).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(idx - 4, Int.MaxValue)
    val a = VideoOps.decodeAvi(forged)
    assert(a.isDefined && a.get.frames.length == 1, "clamped parse")
    // frame-count cap: a 100-frame clip hashes only the leading budget
    val many = VideoOps.writeAviMjpeg(
      (0 until 20).map(_ => jpeg(0x554433)), 32, 32, 10)
    assert(VideoOps.decodeAvi(many, maxFrames = 8).get.frames.length == 8)
  }

  test("decodeAvi fuzz: byte mutations and truncations never throw") {
    val base = VideoOps.writeAviMjpeg(
      Seq(jpeg(0x123456), jpeg(0x654321)), 32, 32, 10)
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { i =>
      val mutated = base.clone()
      i % 3 match {
        case 0 =>
          (0 until 8).foreach(_ =>
            mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte)
          VideoOps.decodeAvi(mutated).foreach(a => assert(a.frames != null))
        case 1 =>
          val cut = java.util.Arrays.copyOf(mutated, rnd.nextInt(mutated.length))
          VideoOps.decodeAvi(cut).foreach(a => assert(a.frames != null))
        case 2 =>
          val bb = java.nio.ByteBuffer.wrap(mutated)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.putInt(4 * rnd.nextInt(20), rnd.nextInt())
          VideoOps.decodeAvi(mutated).foreach(a => assert(a.frames != null))
      }
    }
  }

  test("decodeMp4Meta fuzz: byte mutations and truncations never throw") {
    val base = packMp4()
    val rnd = new scala.util.Random(4242)
    (0 until 300).foreach { i =>
      val mutated = base.clone()
      i % 3 match {
        case 0 => // random byte flips anywhere
          (0 until 8).foreach(_ =>
            mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte)
          VideoOps.decodeMp4Meta(mutated).foreach(m => assert(m.width >= 0))
        case 1 => // truncation at a random offset
          val cut = java.util.Arrays.copyOf(mutated, rnd.nextInt(mutated.length))
          VideoOps.decodeMp4Meta(cut).foreach(m => assert(m.width >= 0))
        case 2 => // corrupt a 4-byte big-endian size field in the header
          val bb = java.nio.ByteBuffer.wrap(mutated)
          bb.putInt(4 * rnd.nextInt(mutated.length / 4), rnd.nextInt())
          VideoOps.decodeMp4Meta(mutated).foreach(m => assert(m.width >= 0))
      }
    }
  }

  test("videoDedupPairs: re-encode-identical clips pair, shared-still clips do not") {
    val a1 = jpeg(0, noiseSeed = 7); val a2 = jpeg(0, noiseSeed = 8)
    val a3 = jpeg(0, noiseSeed = 9)
    val b1 = jpeg(0, noiseSeed = 107); val b2 = jpeg(0, noiseSeed = 108)
    val b3 = jpeg(0, noiseSeed = 109)
    val cloneA = VideoOps.writeAviMjpeg(Seq(a1, a2, a3), 32, 32, 10)
    val unrelated = VideoOps.writeAviMjpeg(Seq(b1, b2, b3), 32, 32, 10)
    // shares ONE aligned still with A but nothing else: candidate via
    // the band join, must die on the mean/coverage gates
    val sharedStill = VideoOps.writeAviMjpeg(Seq(a1, b2, b3), 32, 32, 10)
    val m = rows((0L, cloneA, "video"), (1L, cloneA, "video"),
      (2L, unrelated, "video"), (3L, sharedStill, "video"),
      (4L, "garbage".getBytes("UTF-8"), "video"),
      (5L, "garbage".getBytes("UTF-8"), "video"))
    val out = Dedup.videoDedupPairs(frameHashFrame(m), maxHamming = 5,
      minFrac = 0.6)
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(pairs.get((0L, 1L)).exists { case (avg, n) =>
      avg == 0.0 && n == 3 }, s"clone pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L), "unrelated")
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)),
      "one shared still must not suffice")
    assert(!pairs.contains((4L, 5L)), "undecodable paired")
    assert(!out.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("videoDedupPairsWarp: trimmed copy aligns at its shift; aligned op misses it") {
    // six distinct frames; the copy is trimmed from the front by 2
    val fs = (0 until 6).map(i => jpeg(0, noiseSeed = 20 + i))
    val full = VideoOps.writeAviMjpeg(fs, 32, 32, 10)
    val trimmed = VideoOps.writeAviMjpeg(fs.drop(2), 32, 32, 10)
    val unrelated = VideoOps.writeAviMjpeg(
      (0 until 6).map(i => jpeg(0, noiseSeed = 120 + i)), 32, 32, 10)
    val m = rows((0L, full, "video"), (1L, trimmed, "video"),
      (2L, unrelated, "video"))
    // aligned verification: frame i of the trim is frame i+2 of the
    // original — no index ever matches, the stated limitation
    val aligned = Dedup.videoDedupPairs(frameHashFrame(m), maxHamming = 5,
      minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!aligned.contains((0L, 1L)),
      s"aligned op unexpectedly caught the trimmed copy: $aligned")
    val warp = Dedup.videoDedupPairsWarp(frameHashFrame(m), maxHamming = 5,
      minFrac = 0.5)
    val pairs = warp.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getInt(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(pairs.get((0L, 1L)).exists { case (shift, avg, n) =>
      shift == 2 && avg == 0.0 && n == 4 },
      s"warp op must align the trim at shift 2 over its 4 frames: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated clip paired: $pairs")
    assert(!warp.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("videoDedupPairsWarp: star members inherit the rep shift with correct orientation") {
    val fs = (0 until 5).map(i => jpeg(0, noiseSeed = 40 + i))
    val full = VideoOps.writeAviMjpeg(fs, 32, 32, 10)
    val trimmed = VideoOps.writeAviMjpeg(fs.drop(1), 32, 32, 10)
    // 0 and 3 are byte-identical (one star); 1 is the trim. The star
    // rep is 0, so the (1, 3) pair composes across the star with the
    // orientation SWAPPED relative to the rep pair (0, 1).
    val m = rows((0L, full, "video"), (1L, trimmed, "video"),
      (3L, full, "video"))
    val pairs = Dedup.videoDedupPairsWarp(frameHashFrame(m), maxHamming = 5,
      minFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 3L)).contains(0), s"within-star shift 0: $pairs")
    assert(pairs.get((0L, 1L)).contains(1),
      s"full leads the trim by 1: $pairs")
    assert(pairs.get((1L, 3L)).contains(-1),
      s"swapped orientation must negate the shift: $pairs")
  }

  test("videoDedupPairsWarp: one shared still is a candidate but dies on the gates") {
    val a = (0 until 4).map(i => jpeg(0, noiseSeed = 60 + i))
    val b = (0 until 4).map(i => jpeg(0, noiseSeed = 80 + i))
    val clipA = VideoOps.writeAviMjpeg(a, 32, 32, 10)
    // shares exactly a(0) at position 2 — a single frame is one
    // shift vote, below minVotes, so the pair never even reaches
    // verification (and would die on the mean-hamming gate if it did:
    // noise dHashes differ by ~32 bits)
    val clipB = VideoOps.writeAviMjpeg(Seq(b(0), b(1), a(0), b(3)), 32, 32, 10)
    val m = rows((0L, clipA, "video"), (1L, clipB, "video"))
    val pairs = Dedup.videoDedupPairsWarp(frameHashFrame(m), maxHamming = 5,
      minFrac = 0.75).collect()
    assert(pairs.isEmpty, s"one still must not pair clips: ${pairs.toSeq}")
  }

  test("videoAnnTopK: a trimmed tonal variant ranks first; tonally opposite clips rank behind") {
    // tone-distinct fixtures (noise frames would all share a flat
    // histogram): dark clip, its front-trimmed variant, bright clip
    val dark = (0 until 4).map(_ => jpeg(0x101010))
    val clipA = VideoOps.writeAviMjpeg(dark, 32, 32, 10)
    val clipATrim = VideoOps.writeAviMjpeg(dark.drop(1), 32, 32, 10)
    val bright = VideoOps.writeAviMjpeg(
      (0 until 4).map(_ => jpeg(0xF0F0F0)), 32, 32, 10)
    val m = rows((0L, clipA, "video"), (1L, clipATrim, "video"),
      (2L, bright, "video"))
    val out = VideoOps.videoAnnTopK(VideoOps.videoFrameProfiles(m),
        nQueries = 1, k = 2, everyN = 1)
      .collect().sortBy(_.getAs[Long]("rnk"))
      .map(r => r.getAs[Long]("n_id"))
    assert(out.head == 1L,
      s"the trimmed variant must be clip 0's nearest neighbor: ${out.toSeq}")
    assert(!out.headOption.contains(2L))
  }

  test("videoFrameProfiles projections: frameHashes / keyframes / " +
      "videoAnn derived from ONE decode equal the standalone ops " +
      "(undecodable frames: stub hist for ANN, skipped elsewhere)") {
    // three clips: scene cuts, a near-still run, and one with a
    // poison frame (undecodable bytes inside a valid container)
    val cutClip = VideoOps.writeAviMjpeg(Seq(jpeg(0x000000),
      jpeg(0x000000), jpeg(0xffffff), jpeg(0xffffff), jpeg(0x777777)),
      32, 32, fps = 10)
    val noisy = VideoOps.writeAviMjpeg(Seq(jpeg(0, noiseSeed = 7),
      jpeg(0, noiseSeed = 7), jpeg(0, noiseSeed = 99)), 32, 32, fps = 10)
    val poison = VideoOps.writeAviMjpeg(Seq(jpeg(0x224466),
      "definitely not a jpeg frame".getBytes("UTF-8"), jpeg(0x664422)),
      32, 32, fps = 10)
    val m = rows((1L, cutClip, "video"), (2L, noisy, "video"),
      (3L, poison, "video"), (4L, jpeg(0x123456), "image"))
    val profiles = VideoOps.videoFrameProfiles(m)
    // the row kernels on the driver: decodeAvi, then per-frame decode
    // (decodeForHash for the dHash, ImageIO + histogramOf for the
    // histogram; a frame neither accepts carries the stub histogram)
    val frames = m.collect().toSeq.flatMap { row =>
      (if (row.format == "video") VideoOps.decodeAvi(row.payload) else None)
        .toSeq.flatMap(_.frames.zipWithIndex.map { case (f, i) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(f))
          (row.docId, i, MultimodalOps.decodeForHash(f),
            if (img == null) MultimodalOps.stubFeature(f)
            else MultimodalOps.histogramOf(img))
        })
    }.sortBy(t => (t._1, t._2))
    assert(VideoOps.frameHashes(profiles).collect()
      .map(x => (x.docId, x.frameIdx, x.fhash))
      .sortBy(t => (t._1, t._2)).toSeq ==
      frames.flatMap { case (d, i, h, _) => h.map((d, i, _)) })
    // keyframes: the sequential last-emitted fold over decoded frames
    val expectKf = frames.filter(_._3.isDefined).groupBy(_._1).toSeq
      .flatMap { case (d, fs) =>
        var last: Array[Float] = null
        fs.flatMap { case (_, i, _, hist) =>
          val delta =
            if (last == null) 2.0
            else hist.indices.map(j => math.abs(hist(j) - last(j)).toDouble).sum
          if (last == null || delta >= 0.2) {
            last = hist; Some((d, i, math.rint(delta * 1e4) / 1e4))
          } else None
        }
      }.sortBy(t => (t._1, t._2))
    assert(VideoOps.videoKeyframes(profiles).collect()
      .map(x => (x.docId, x.frameIdx, x.delta))
      .sortBy(t => (t._1, t._2)).toSeq == expectKf)
    // the poison frame is SKIPPED by hashes/keyframes but contributes
    // its deterministic stub to the profile (ANN-mean semantics)
    val p3 = profiles.collect().filter(_.docId == 3L).sortBy(_.frameIdx)
    assert(p3.length == 3 && !p3(1).decoded && p3(1).hist.nonEmpty)
    assert(p3(1).hist.toSeq == frames.find(t => t._1 == 3L && t._2 == 1)
      .get._4.toSeq)
    // ANN: the driver's mean of every frame's histogram per clip, ranked
    // by annTopK, equals the door's ranking
    import spark.implicits._
    val clipVecs = frames.groupBy(_._1).toSeq.map { case (d, fs) =>
      (d, Array.tabulate(8)(b => (fs.map(_._4(b).toDouble).sum / fs.length).toFloat))
    }.filter(_._2.sum > 0).toDF("vec_id", "embedding")
    def annRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Long]("rnk"))).sortBy(t => (t._1, t._3)).toSeq
    assert(annRows(VideoOps.videoAnnTopK(profiles,
        nQueries = 3, k = 2, everyN = 1)) ==
      annRows(Similarity.annTopK(clipVecs, 3, 2)))
  }

  test("syntheticVideos: dup texts pack identical containers; near-dups pair in dedup") {
    import spark.implicits._
    val a = (0 until 80).map(i => s"tok$i").mkString(" ")
    val aEdit = (0 until 80).map(i =>
      if (i == 11) "EDITED" else s"tok$i").mkString(" ")
    val b = (0 until 80).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, a, "en", "s"), (1L, a, "en", "s"),
      (2L, aEdit, "en", "s"), (3L, b, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val vids = VideoOps.syntheticVideos(docs).collect().sortBy(_.docId)
    assert(vids(0).payload.toSeq == vids(1).payload.toSeq)
    assert(vids(0).payload.toSeq != vids(2).payload.toSeq)
    val meta = VideoOps.videoMeta(VideoOps.syntheticVideos(docs))
      .collect().sortBy(_.docId)
    assert(meta.forall(v => v.decoded && v.nFrames == 6))
    val pairs = Dedup.videoDedupPairs(
      frameHashFrame(VideoOps.syntheticVideos(docs)), maxHamming = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "dup-text clips must pair")
    assert(pairs.contains((0L, 2L)), s"near-dup-text clips must pair: $pairs")
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((2L, 3L)),
      "unrelated texts paired")
  }
}
