package graft

import org.apache.spark.sql.Encoders

import graft.operators.{Dedup, MultimodalOps}
import graft.operators.MultimodalOps.MediaRow

/** Perceptual-hash image dedup (q_image_dedup): real decode → dHash →
  * pigeonhole band join. Known fixtures: near-identical generated
  * images must pair up, distinct ones must not, undecodable payloads
  * must be excluded (never paired on the stub hash), and the plan must
  * stay an equi-join (no cartesian).
  */
class ImageDedupSpec extends SparkSuite {

  /** Gradient image with an optional small square edit — near-dup
    * fixture: the edit changes a few dHash cells, not the whole hash.
    */
  private def gradient(w: Int, h: Int, editAt: Option[(Int, Int)] = None,
      fmt: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val v = (x * 255 / math.max(1, w - 1)) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    editAt.foreach { case (ex, ey) =>
      for (x <- ex until math.min(w, ex + w / 8);
           y <- ey until math.min(h, ey + h / 8))
        img.setRGB(x, y, 0xffffff)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  /** Block-noise image deterministic in `seed` — structurally distinct
    * from the gradient family.
    */
  private def noise(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(seed)
    for (bx <- 0 until 8; by <- 0 until 8) {
      val c = rnd.nextInt(0xffffff)
      for (x <- bx * 8 until bx * 8 + 8; y <- by * 8 until by * 8 + 8)
        img.setRGB(x, y, c)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def media(rows: (Long, Array[Byte], String)*) = {
    implicit val enc = Encoders.product[MediaRow]
    spark.createDataset(rows.map { case (id, p, f) => MediaRow(id, p, f) })
  }

  /** The decoded rows' dHashes, projected from the decode-once
    * profile — the frame both dedup doors read.
    */
  private def hashes(ds: org.apache.spark.sql.Dataset[MediaRow]) = {
    import org.apache.spark.sql.functions.col
    MultimodalOps.imageHashes(MultimodalOps.imageProfile(ds))
      .where(col("decoded")).select(col("docId"), col("dhash"))
  }

  private def pairs(ds: org.apache.spark.sql.Dataset[MediaRow],
      maxHamming: Int = 5) =
    Dedup.perceptualPairsFrom(hashes(ds), maxHamming).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("hamming")).toMap

  test("identical and near-identical images pair; distinct images do not") {
    val m = media(
      (0L, gradient(64, 64), "image"),
      (1L, gradient(64, 64), "image"), // exact re-encode: hamming 0
      (2L, gradient(64, 64, editAt = Some(4, 4)), "image"), // small edit
      (3L, noise(99), "image"), // structurally different
      (4L, gradient(64, 64, fmt = "bmp"), "image")) // same pixels, other codec
    val p = pairs(m)
    assert(p.get((0L, 1L)).contains(0L),
      s"identical rasters must pair at hamming 0, got $p")
    assert(p.contains((0L, 2L)),
      s"a small square edit must stay within the hamming budget, got $p")
    assert(p.get((0L, 4L)).contains(0L),
      "the perceptual hash must survive re-encoding to another format")
    assert(!p.keySet.exists { case (a, b) => a == 3L || b == 3L },
      s"the noise image pairs with nothing, got $p")
  }

  test("undecodable payloads are excluded, never paired on the stub hash") {
    val junk = "definitely not an image at all".getBytes("UTF-8")
    val m = media(
      (0L, junk, "image"),
      (1L, junk, "image"), // identical junk must STILL not pair
      (2L, gradient(32, 32), "image"),
      (3L, Array.emptyByteArray, "image"),
      (4L, gradient(32, 32), "video")) // video: no decode, excluded
    val p = pairs(m)
    assert(p.isEmpty, s"only doc 2 is a decodable image; got pairs $p")
  }

  test("imageDedupGroups: equals a local union-find over the pair view; " +
      "chains collapse to one group") {
    val m = media(
      (0L, gradient(64, 64), "image"),
      (1L, gradient(64, 64), "image"), // clone of 0
      (2L, gradient(64, 64, editAt = Some(4, 4)), "image"), // near 0
      (3L, noise(99), "image"), // unrelated singleton
      (4L, noise(7), "image"),
      (5L, noise(7), "image"), // clone of 4
      (6L, "junk".getBytes("UTF-8"), "image")) // excluded entirely
    val p = pairs(m).keySet
    val groups = Dedup.perceptualGroups(hashes(m)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_id"))).toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val v = parent.getOrElse(x, x)
      if (v == x) x else { val r = find(v); parent(x) = r; r }
    }
    p.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = (0L to 5L).map(i => i -> find(i)).toMap
    assert(groups == expect, s"got $groups expect $expect")
    assert(groups(1L) == 0L && groups(2L) == 0L, "family collapses to rep 0")
    assert(groups(5L) == 4L && groups(3L) == 3L)
    assert(!groups.contains(6L), "excluded payloads emit no group row")
  }

  test("syntheticImages: exact-dup texts render hamming-0 pairs, near-dups small-hamming") {
    import spark.implicits._
    val toks = (1 to 64).map(i => s"tok$i")
    val docs = Seq(
      (0L, toks.mkString(" ")),
      (1L, toks.mkString(" ")), // exact duplicate text
      (2L, toks.updated(10, "CHANGED").mkString(" ")), // one-token edit
      (3L, (1 to 64).map(i => s"other$i").mkString(" ")) // disjoint text
    ).toDF("doc_id", "text")
    val p = pairs(MultimodalOps.syntheticImages(docs), maxHamming = 8)
    assert(p.get((0L, 1L)).contains(0L),
      s"exact-duplicate texts must render identical images, got $p")
    // a one-token edit stays WITHIN the hamming budget — possibly at
    // 0: absorbing small local edits is what a perceptual hash is FOR
    assert(p.contains((0L, 2L)) && p((0L, 2L)) <= 8L,
      s"a one-token edit must land within the hamming budget, got $p")
    assert(!p.keySet.exists { case (a, b) => a == 3L || b == 3L },
      s"disjoint text renders an unrelated image, got $p")
    // the r9 review fix made the tail count: texts sharing their first
    // 64 tokens but diverging afterwards must NOT render identically
    import spark.implicits._
    val tail = Seq(
      (0L, (1 to 80).map(i => s"tok$i").mkString(" ")),
      (1L, ((1 to 64).map(i => s"tok$i") ++
        (65 to 80).map(i => s"DIFF$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val th = pairs(MultimodalOps.syntheticImages(tail), maxHamming = 8)
    assert(th.get((0L, 1L)).forall(_ > 0L),
      s"a tail edit past blocks^2 must change the rendered image, got $th")
  }

  test("plan: band equi-join, never cartesian") {
    val m = media((0L, gradient(16, 16), "image"), (1L, noise(7), "image"))
    val p = Dedup.perceptualPairsFrom(hashes(m))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"image dedup must stay a band equi-join:\n$p")
  }

  test("imageAnnTopK: a rescaled variant outranks an unrelated image") {
    // histograms are resolution-invariant: the same gradient at
    // another size shares tone distribution; block noise does not
    val m = media(
      (0L, gradient(64, 64), "image"), // the query (vec_id < nQueries)
      (10L, gradient(128, 96), "image"), // rescaled sibling
      (11L, noise(42), "image"))
    val top = MultimodalOps.imageAnnTopK(MultimodalOps.imageProfile(m),
        nQueries = 1, k = 1).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_id"), r.getAs[Double]("cos_sim"))).toMap
    assert(top(0L)._1 == 10L,
      s"the rescaled sibling must rank first, got $top")
    assert(top(0L)._2 > 0.9,
      s"same tone distribution scores near 1, got $top")
  }

  test("dhash64 is deterministic and resize-stable") {
    val big = gradient(128, 96)
    val small = gradient(32, 24)
    implicit val enc = Encoders.product[MediaRow]
    val hs = MultimodalOps.imageHashes(MultimodalOps.imageProfile(media(
      (0L, big, "image"), (1L, big, "image"), (2L, small, "image"))))
      .collect().sortBy(_.docId)
    assert(hs.forall(_.decoded))
    assert(hs(0).dhash == hs(1).dhash, "same bytes, same hash")
    val dist = java.lang.Long.bitCount(hs(0).dhash ^ hs(2).dhash)
    assert(dist <= 5,
      s"the same gradient at another resolution must stay close, distance $dist")
  }
}
