package graft

import graft.operators.Dedup

/** Randomized model-based verification of the warp video dedup
  * machinery ([[Dedup.videoDedupPairsWarp]]) against an
  * independent in-memory reference: over synthetic frame-hash corpora
  * with planted trims, noisy copies, exact clones and strangers, the
  * operator's (pair → shift, avg_hamming, n_matched) map must equal
  * the model's bit-for-bit on every trial. Corpora stay under the
  * saturation floor (≤100 rows per bucket by construction) and the
  * bucket cap, so the model is the PURE semantics: pigeonhole
  * candidates → shift votes (≥ minVotes) → modal shift (ties to the
  * smallest signed shift) → aligned verification gates; bit-identical
  * frame sequences pair unconditionally at shift 0 (the exact-dup
  * star composition — certainty needs no anti-noise gate).
  */
class WarpModelSpec extends SparkSuite {
  import spark.implicits._

  private val maxHamming = 5
  private val minFrac = 0.5
  private val minVotes = 2

  private def segEq(a: Long, b: Long): Boolean = a == b

  /** Independent reference: raw-clip semantics, no rep-graph. */
  private def model(clips: Map[Long, Map[Int, Long]])
      : Map[(Long, Long), (Int, Double, Long)] = {
    val (nBands, width, mask) = Dedup.pigeonholeBands(maxHamming)
    def seg(h: Long, b: Int): Long = (h >>> (b * width)) & mask
    val ids = clips.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      fa = clips(a); fb = clips(b)
      if fa.nonEmpty && fb.nonEmpty
      result <- {
        if (fa == fb) Some((0, 0.0, fa.size.toLong))
        else {
          val cand = for {
            (pa, ha) <- fa.toSeq; (pb, hb) <- fb.toSeq
            if (0 until nBands).exists(k => segEq(seg(ha, k), seg(hb, k)))
          } yield (pa, pb)
          val votes = cand.groupBy { case (pa, pb) => pa - pb }
            .view.mapValues(_.size).toMap
            .filter(_._2 >= minVotes)
          if (votes.isEmpty) None
          else {
            val shift = votes.toSeq
              .sortBy { case (s2, v) => (-v, s2) }.head._1
            val matched = fa.toSeq.flatMap { case (pa, ha) =>
              fb.get(pa - shift).map(hb =>
                java.lang.Long.bitCount(ha ^ hb).toLong)
            }
            val na = fa.size.toLong; val nb = fb.size.toLong
            val overlap = math.min(na, nb + shift) - math.max(0L, shift)
            val avg = matched.sum.toDouble / matched.size
            val need = math.ceil(overlap * minFrac).toLong
            if (matched.nonEmpty && avg <= maxHamming &&
              matched.size >= need) Some((shift, avg, matched.size.toLong))
            else None
          }
        }
      }
    } yield (a, b) -> result).toMap
  }

  private def runOp(clips: Map[Long, Map[Int, Long]])
      : Map[(Long, Long), (Int, Double, Long)] = {
    val rows = clips.toSeq.flatMap { case (id, fs) =>
      fs.toSeq.map { case (idx, h) => (id, idx, h) }
    }
    val fh = rows.toDF("doc_id", "frame_idx", "fhash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fh.count()
    val out = Dedup.videoDedupPairsWarp(fh, maxHamming, minFrac,
      bucketCap = 10000, minVotes = minVotes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getDouble(3), r.getLong(4)))).toMap
    fh.unpersist()
    out
  }

  test("warpPairsFromFrameHashes equals the in-memory model on randomized corpora") {
    val rnd = new scala.util.Random(4242)
    def flip(h: Long, bits: Int, r: scala.util.Random): Long =
      (0 until bits).foldLeft(h)((x, _) => x ^ (1L << r.nextInt(64)))
    (0 until 8).foreach { trial =>
      var id = 0L
      val clips = scala.collection.mutable.Map.empty[Long, Map[Int, Long]]
      def add(fs: Map[Int, Long]): Long = {
        val i = id; clips(i) = fs; id += 1; i
      }
      // base clips
      val bases = (0 until 3 + rnd.nextInt(3)).map { _ =>
        add((0 until 1 + rnd.nextInt(6)).map(k => k -> rnd.nextLong()).toMap)
      }
      bases.foreach { b =>
        val fs = clips(b)
        // exact clone
        if (rnd.nextBoolean()) add(fs)
        // trim from the front, re-indexed (the warp case)
        if (fs.size >= 3 && rnd.nextBoolean()) {
          val k = 1 + rnd.nextInt(2)
          add(fs.toSeq.sortBy(_._1).drop(k).zipWithIndex
            .map { case ((_, h), i2) => i2 -> h }.toMap)
        }
        // noisy copy: up to 3 flipped bits per frame
        if (rnd.nextBoolean())
          add(fs.view.mapValues(h => flip(h, rnd.nextInt(4), rnd)).toMap)
      }
      // strangers
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        add((0 until 1 + rnd.nextInt(5)).map(k => k -> rnd.nextLong()).toMap)
      }
      val got = runOp(clips.toMap)
      val want = model(clips.toMap)
      assert(got == want,
        s"trial $trial (${clips.size} clips): " +
          s"missing=${want.keySet -- got.keySet} " +
          s"extra=${got.keySet -- want.keySet} " +
          s"diff=${want.collect { case (k, v) if got.get(k).exists(_ != v) =>
            (k, v, got(k)) }}")
    }
  }
}
