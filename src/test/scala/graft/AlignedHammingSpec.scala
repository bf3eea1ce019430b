package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The r14-opt rewrite of [[Dedup.videoDedupPairs]]' verification
  * stage (per-pair aligned_hamming fold over packed frame arrays)
  * must be ROW-IDENTICAL to the old shape (candidate pairs joined
  * back to per-frame hash rows, grouped, counted). This spec rebuilds
  * the OLD verification inline and compares full outputs on a fixture
  * that exercises: exact-dup clips (within-star pairs), near-dup
  * clips (small hamming), partial frame overlap (differing frame
  * counts — the coverage gate), disjoint frame sets (zero matches),
  * and band-colliding-but-distant clips (candidates that must die in
  * verification).
  */
class AlignedHammingSpec extends SparkSuite {
  import spark.implicits._

  // (doc_id, frame_idx, fhash) — clips:
  // 10, 11: identical sequences (exact-dup star)
  // 12: one bit off per frame from 10 (hamming 1 per frame)
  // 13: shares frames 0-2 with 10, frames 3-5 differ wildly
  // 14: only 2 frames, matching 10's frames 0-1 (coverage edge)
  // 15: same band-0 values as 10 but ~30 bits off (dies in verify)
  // 16: frame indices disjoint from everyone (no aligned frames)
  private def fh: DataFrame = {
    def clip(id: Long, hashes: Seq[(Int, Long)]) = hashes.map {
      case (f, h) => (id, f, h)
    }
    val base = Seq.tabulate(6)(f => (f, 0x1234567890abcdefL + f * 1024L))
    val rows =
      clip(10, base) ++ clip(11, base) ++
        clip(12, base.map { case (f, h) => (f, h ^ 1L) }) ++
        clip(13, base.take(3) ++ base.drop(3).map {
          case (f, h) => (f, ~h) }) ++
        clip(14, base.take(2)) ++
        clip(15, base.map { case (f, h) => (f, h ^ 0x3fffffff00000000L) }) ++
        clip(16, base.map { case (f, h) => (f + 100, h) })
    rows.toDF("doc_id", "frame_idx", "fhash")
      .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
        col("fhash"))
      .persist()
  }

  /** The PRE-r14 videoDedupPairs, verbatim (star frames inline —
    * the shared clipStarFrames now persists, which is value-neutral
    * but this reconstruction stays plain).
    */
  private def oldVideoDedupPairs(fh: DataFrame, maxHamming: Int,
      minFrac: Double): DataFrame = {
    def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      bit_count(a.bitwiseXOR(b))
    val sigs = fh.groupBy("doc_id")
      .agg(xxhash64(concat_ws(",", sort_array(collect_list(
        concat_ws(":", col("frame_idx"), col("fhash")))))).as("sig"),
        count(lit(1)).as("nf"))
    val stars = sigs.groupBy("sig").agg(min(col("doc_id")).as("rep_id"))
    val members = sigs.join(stars, "sig")
      .select(col("doc_id"), col("rep_id"), col("nf"))
    val repFh = fh.join(stars.select(col("rep_id").as("doc_id")), "doc_id")
    val counts = members.select(col("rep_id"), col("nf")).distinct()
    // pigeonholeBands(5) = (6, 11, mask) — inline to avoid private access
    val (nBands, width) = (6, 11)
    val mask = (1L << width) - 1
    val bandCols = (0 until nBands).map(b => struct(lit(b).as("band_idx"),
      shiftright(col("fhash"), b * width).bitwiseAND(lit(mask)).as("band_val")))
    val banded = repFh
      .select(col("doc_id"), col("frame_idx"), col("fhash"),
        explode(array(bandCols: _*)).as("bv"))
      .select(col("doc_id"), col("frame_idx"),
        col("bv.band_idx"), col("bv.band_val"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .distinct()
    val va = repFh.select(col("doc_id").as("ra"), col("frame_idx"),
      col("fhash").as("ha"))
    val vb = repFh.select(col("doc_id").as("rb"), col("frame_idx"),
      col("fhash").as("hb"))
    val repPairs = cand.join(va, "ra").join(vb, Seq("rb", "frame_idx"))
      .groupBy("ra", "rb")
      .agg((sum(hamming(col("ha"), col("hb")).cast("long")) /
        count(lit(1))).as("avg_hamming"), count(lit(1)).as("n_matched"))
      .join(counts.select(col("rep_id").as("ra"), col("nf").as("na")), "ra")
      .join(counts.select(col("rep_id").as("rb"), col("nf").as("nb")), "rb")
      .where(col("avg_hamming") <= maxHamming &&
        col("n_matched") >= ceil(least(col("na"), col("nb")) * lit(minFrac)))
      .select(col("ra"), col("rb"), col("avg_hamming"), col("n_matched"))
    val m = members.select(col("doc_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("rep_id").as("ra"), col("doc_id").as("da")), "ra")
      .join(m.select(col("rep_id").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"),
        col("avg_hamming"), col("n_matched"))
    val within = members.as("m1").join(members.as("m2"),
        col("m1.rep_id") === col("m2.rep_id") &&
          col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("a_id"), col("m2.doc_id").as("b_id"),
        lit(0.0).as("avg_hamming"), col("m1.nf").as("n_matched"))
    cross.unionByName(within)
  }

  test("packed-array verification equals the old per-frame join shape") {
    GraftFunctions.register(spark)
    val f = fh
    // the inline old shape pins pigeonholeBands(5)'s 6×11 geometry, so
    // sweep minFrac at maxHamming=5 (the registered parameterization)
    for ((mh, mf) <- Seq((5, 0.5), (5, 0.0), (5, 1.0))) {
      val nu = Dedup.videoDedupPairs(f, mh, mf)
        .orderBy("a_id", "b_id").collect().toSeq
      val old = oldVideoDedupPairs(f, mh, mf)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(nu == old, s"maxHamming=$mh minFrac=$mf:\nnew=$nu\nold=$old")
      assert(nu.nonEmpty, s"fixture should produce pairs at $mh/$mf")
    }
  }

  test("aligned_hamming merges sorted frame arrays correctly") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Seq((0, 5L), (2, 8L)), Seq((0, 4L), (1, 9L), (2, 8L))))
      .toDF("id", "a0", "b0")
      .select(
        expr("transform(a0, x -> struct(x._1 as frame_idx, x._2 as fhash))")
          .as("a"),
        expr("transform(b0, x -> struct(x._1 as frame_idx, x._2 as fhash))")
          .as("b"))
      .select(call_function("aligned_hamming", col("a"), col("b")).as("s"))
      .select(col("s.sum_h"), col("s.n_matched"))
      .collect()(0)
    // frame 0: 5^4 = 1 -> 1 bit; frame 2: 8^8 = 0 bits; frame 1 unmatched
    assert(df.getLong(0) == 1L && df.getLong(1) == 2L)
  }
}
