package graft

import graft.operators.Dedup

/** Cross-snapshot incremental dedup (r9): snapshot A is indexed once
  * (writeBandIndex), snapshot B dedups against the stored index
  * (dedupAgainst) without recomputing A's sketches — and the result,
  * unioned with A's own candidate set, must equal the joint-corpus
  * run bit-for-bit, including under a tight bucketCap whose counts
  * only trip on the UNION.
  */
class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  private def base(i: Int) =
    s"snapshot text number $i with a long shared run of tokens " +
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa v$i"

  // snapshot A: ids 0-5, two near-dup families
  private lazy val snapA = Seq(
    (0L, base(0)), (1L, base(0) + " tail"), (2L, base(1)),
    (3L, "totally unrelated content about distributed query planning engines"),
    (4L, base(2)), (5L, base(2) + " coda")
  ).toDF("doc_id", "text")

  // snapshot B: ids 100+, near-dups of A docs, an internal dup pair,
  // and a fresh unique doc
  private lazy val snapB = Seq(
    (100L, base(0) + " extra"), // near-dup of A's 0/1 family
    (101L, base(3)), (102L, base(3) + " tail"), // internal near-dup pair
    (103L, "completely fresh material sharing nothing with any snapshot at all")
  ).toDF("doc_id", "text")

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet

  /** The RAW member-level candidate enumeration — dedupAgainst's joint
    * reference semantics (the batch minhashCandidates default is
    * star-compressed since r10, which is a different — smaller — frame).
    */
  private def rawCandidates(docs: org.apache.spark.sql.DataFrame,
      bucketCap: Int = 10000) =
    Dedup.candidatesFromSketch(Dedup.minhashSketch(docs),
      bucketCap = bucketCap)

  private def roundTrip(bucketCap: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex")
      .toString
    Dedup.writeBandIndex(snapA, dir)
    val inc = pairSet(Dedup.dedupAgainst(spark, dir, snapB,
      bucketCap = bucketCap))
    val withinA = pairSet(rawCandidates(snapA, bucketCap = bucketCap))
    val joint = pairSet(rawCandidates(
      snapA.unionByName(snapB), bucketCap = bucketCap))
    assert((inc & withinA).isEmpty,
      s"indexed-vs-indexed pairs must not be recomputed: ${inc & withinA}")
    // the EXACT contract: dedupAgainst == the joint run's
    // at-least-one-new-side subset, bit-for-bit
    val jointNew = joint.filter { case (a, b) => a >= 100L || b >= 100L }
    assert(inc == jointNew,
      s"incremental must equal the joint run's new-involving subset; " +
        s"missing=${jointNew -- inc} extra=${inc -- jointNew}")
    assert((inc | withinA) == joint,
      s"on this corpus (no cap trips on the union alone) the union " +
        s"equality also holds; missing=${joint -- (inc | withinA)} " +
        s"extra=${(inc | withinA) -- joint}")
    assert(inc.exists { case (a, b) => a < 100L && b >= 100L },
      s"cross-snapshot near-dups must surface, got $inc")
    assert(inc.contains((101L, 102L)),
      s"within-new near-dups must surface, got $inc")
    assert(!inc.exists { case (a, b) => a == 103L || b == 103L },
      s"the fresh unique doc pairs with nothing, got $inc")
  }

  test("round trip: index A, dedup B against it, equals the joint-corpus run") {
    roundTrip(bucketCap = 10000)
  }

  test("bucketCap counts over the union frame, exactly like the joint run") {
    // cap = 2: the 0/1/100 family saturates only when B joins the
    // bucket — the incremental run must see union counts, not
    // stored-only counts
    roundTrip(bucketCap = 2)
  }

  test("old-old pairs are NOT retracted when the union alone trips the cap (documented asymmetry)") {
    // snapA: two identical docs -> every bucket holds 2 <= cap, so the
    // prior run emitted (0,1). snapB adds a third identical doc: every
    // bucket now holds 3 > cap, so the joint rerun emits NOTHING — but
    // the incremental model keeps each epoch's pairs as-of its epoch.
    val text = "the same exact document text repeated across snapshots " +
      "with enough tokens for shingling to engage"
    val a = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val b = Seq((100L, text)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex")
      .toString
    Dedup.writeBandIndex(a, dir)
    val inc = pairSet(Dedup.dedupAgainst(spark, dir, b, bucketCap = 2))
    val withinA = pairSet(rawCandidates(a, bucketCap = 2))
    val joint = pairSet(rawCandidates(a.unionByName(b), bucketCap = 2))
    assert(inc.isEmpty, s"union buckets of 3 exceed cap 2: $inc")
    assert(withinA == Set((0L, 1L)), s"the prior epoch saw buckets of 2: $withinA")
    assert(joint.isEmpty, "a joint rerun drops the saturated bucket")
    // i.e. (inc | withinA) != joint here — exactly the divergence the
    // dedupAgainst scaladoc declares; the exact subset contract still
    // holds (both sides empty)
    assert(inc == joint.filter { case (x, y) => x >= 100L || y >= 100L })
  }

  test("dedupAgainst reads the stored bands, never the indexed snapshot's text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex")
      .toString
    Dedup.writeBandIndex(snapA, dir)
    val plan = Dedup.dedupAgainst(spark, dir, snapB)
      .queryExecution.optimizedPlan.toString
    // exactly one sketch aggregate subtree (the NEW snapshot's);
    // the stored side must be a parquet scan of the band rows
    val sketches = "minhash_sketch".r.findAllIn(plan).length
    assert(sketches == 2, // self-join: the new side appears on both sides
      s"only the new snapshot may be sketched, found $sketches sketch aggs:\n$plan")
  }

  test("updateBandIndex: snapshotDiff-driven surgery equals a scratch rebuild") {
    import org.apache.spark.sql.functions.col
    // re-crawl of snapA: id 3 dropped, id 1 revised, id 6 new
    val snapA4 = snapA.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("web"))
    val recrawl = Seq(
      (0L, base(0), "en", "web"),
      (1L, base(0) + " revised tail entirely", "en", "web"),
      (2L, base(1), "en", "web"),
      (4L, base(2), "en", "web"), (5L, base(2) + " coda", "en", "web"),
      (6L, "a brand new page crawled this epoch about parquet readers", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val diff = graft.operators.Curation.snapshotDiff(snapA4, recrawl)
    val statuses = diff.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(statuses == Map(0L -> "unchanged", 1L -> "changed",
      2L -> "unchanged", 3L -> "removed", 4L -> "unchanged",
      5L -> "unchanged", 6L -> "added"), s"got $statuses")
    val retract = diff.where(col("status").isin("removed", "changed"))
      .select("doc_id")
    val readd = recrawl.join(
      diff.where(col("status").isin("added", "changed")).select("doc_id"),
      "doc_id")
    val dirA = java.nio.file.Files.createTempDirectory("graft-idx-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-idx-b").toString
    val dirC = java.nio.file.Files.createTempDirectory("graft-idx-c").toString
    Dedup.writeBandIndex(snapA4, dirA)
    Dedup.updateBandIndex(spark, dirA, dirB, retract, readd)
    Dedup.writeBandIndex(recrawl, dirC)
    def sigRows(p: String) = spark.read.parquet(s"$p/sigs").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toList).toSet
    def bandRowsOf(p: String) = spark.read.parquet(s"$p/bands").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_idx"),
        r.getAs[Long]("band_hash"))).toSet
    assert(sigRows(dirB) == sigRows(dirC),
      "updated sigs must equal the scratch rebuild's")
    assert(bandRowsOf(dirB) == bandRowsOf(dirC),
      "updated bands must equal the scratch rebuild's")
    // self-overwrite is refused before any write happens
    intercept[IllegalArgumentException] {
      Dedup.updateBandIndex(spark, dirA, dirA, retract, readd)
    }
  }

  test("incremental crawl epoch end-to-end: diff -> index surgery -> dedupAgainst " +
      "equals the scratch joint run's changed-involving subset") {
    import org.apache.spark.sql.functions.col
    val snapA4 = snapA
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("web"))
    // re-crawl: 3 dropped, 1 revised into a near-dup of the 0-family,
    // 6 added as a near-dup of the 2-family — both mutations must
    // surface pairs against UNCHANGED docs through the updated index
    val recrawl = Seq(
      (0L, base(0), "en", "web"),
      (1L, base(0) + " tail revised", "en", "web"),
      (2L, base(1), "en", "web"),
      (4L, base(2), "en", "web"), (5L, base(2) + " coda", "en", "web"),
      (6L, base(2) + " fresh epoch coda", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val diff = graft.operators.Curation.snapshotDiff(snapA4, recrawl)
    val changedIds = diff.where(col("status").isin("added", "changed"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(changedIds == Set(1L, 6L), s"got $changedIds")
    val retract = diff.where(col("status").isin("removed", "changed"))
      .select("doc_id")
    val readd = recrawl.join(
      diff.where(col("status").isin("added", "changed")).select("doc_id"),
      "doc_id")
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-epoch-a").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-epoch-b").toString
    Dedup.writeBandIndex(snapA4, dirA)
    // processing order within the epoch: dedup the changed slice
    // against the RETRACT-ONLY index (re-adding first would put the
    // changed docs' band rows on BOTH sides of the union), then the
    // full surgery (retract + re-add) produces the N+2 index — the
    // fuzz spec covers that leg
    Dedup.updateBandIndex(spark, dirA, dirB, retract, readd.limit(0))
    // the epoch's incremental dedup: ONLY the changed slice is
    // sketched live; everything else rides the updated index
    val inc = pairSet(Dedup.dedupAgainst(spark, dirB, readd))
    val joint = pairSet(rawCandidates(recrawl))
      .filter { case (a, b) => changedIds(a) || changedIds(b) }
    assert(inc == joint,
      s"missing=${joint -- inc} extra=${inc -- joint}")
    // the mutations genuinely connect to unchanged docs (non-vacuous)
    assert(inc.exists { case (a, b) =>
      changedIds(a) ^ changedIds(b) }, s"no cross pair in $inc")
  }

  test("incrEpoch: composed epoch stage counts equal the standalone operators") {
    import org.apache.spark.sql.functions.col
    val snapA4 = snapA
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("web"))
    val recrawl = Seq(
      (0L, base(0), "en", "web"),
      (1L, base(0) + " tail revised", "en", "web"),
      (2L, base(1), "en", "web"),
      (4L, base(2), "en", "web"), (5L, base(2) + " coda", "en", "web"),
      (6L, base(2) + " fresh epoch coda", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val wd = java.nio.file.Files
      .createTempDirectory("graft-increpoch-spec").toString
    val card = Dedup.incrEpoch(spark, snapA4, recrawl, wd).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[String]("metric")) ->
        r.getAs[Long]("value")).toMap

    // standalone references
    val diff = graft.operators.Curation.snapshotDiff(snapA4, recrawl)
    val statuses = diff.collect()
      .groupBy(_.getAs[String]("status")).view.mapValues(_.length.toLong)
    assert(card(("diff", "added")) == statuses.getOrElse("added", 0L))
    assert(card(("diff", "removed")) == statuses.getOrElse("removed", 0L))
    assert(card(("diff", "changed")) == statuses.getOrElse("changed", 0L))
    assert(card(("diff", "unchanged")) == statuses.getOrElse("unchanged", 0L))

    val retract = diff.where(col("status").isin("removed", "changed"))
      .select("doc_id")
    val readd = recrawl.join(
      diff.where(col("status").isin("added", "changed")).select("doc_id"),
      "doc_id")
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-increpoch-ref-a").toString
    val dirR = java.nio.file.Files
      .createTempDirectory("graft-increpoch-ref-r").toString
    Dedup.writeBandIndex(snapA4, dirA)
    Dedup.updateBandIndex(spark, dirA, dirR, retract, readd.limit(0))
    val refPairs = pairSet(Dedup.dedupAgainst(spark, dirR, readd))
    assert(card(("dedup", "pairs")) == refPairs.size.toLong)
    val changed = Set(1L, 6L)
    assert(card(("dedup", "cross_pairs")) ==
      refPairs.count { case (a, b) => changed(a) ^ changed(b) }.toLong)

    // the produced next-epoch index equals a scratch rebuild's row counts
    val dirC = java.nio.file.Files
      .createTempDirectory("graft-increpoch-ref-c").toString
    Dedup.writeBandIndex(recrawl, dirC)
    assert(card(("index", "sigs_rows")) ==
      spark.read.parquet(s"$dirC/sigs").count())
    assert(card(("index", "band_rows")) ==
      spark.read.parquet(s"$dirC/bands").count())
    // the surgered next-epoch gram index (grams1) equals a scratch
    // gram index over the post-diff corpus — the count-monoid contract
    assert(card(("index", "gram_rows")) ==
      Dedup.gramIndex(recrawl).count())

    val refNov = Dedup.noveltyAgainst(Dedup.gramIndex(snapA4), readd)
      .collect()
    assert(card(("novelty", "docs")) == refNov.length.toLong)
    assert(card(("novelty", "novel_grams")) ==
      refNov.map(_.getAs[Long]("n_novel")).sum)
  }

  test("indexStats: sizes and surgery deltas over a two-snapshot band index; " +
      "kinds audited; unknown kind refused") {
    import org.apache.spark.sql.functions.col
    val dirA = java.nio.file.Files
      .createTempDirectory("graft-idxstats-a").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-idxstats-b").toString
    Dedup.writeBandIndex(snapA, dirA)
    // surgery: retract doc 3, add a new doc 6
    val add = Seq((6L, base(9))).toDF("doc_id", "text")
    Dedup.updateBandIndex(spark, dirA, dirB,
      Seq(3L).toDF("doc_id"), add)
    def statsOf(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getAs[String]("index_id") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_bands"), r.getAs[Long]("saturated_rows"),
          r.getAs[Long]("top_share_ppm"))).toMap
    val st = statsOf(Dedup.indexStats(spark, Seq(
      ("epoch0", "band", dirA), ("epoch1", "band", dirB))).collect())
    val (r0, d0, b0, _, _) = st("epoch0")
    val (r1, d1, b1, _, _) = st("epoch1")
    assert(d0 == 6L, s"snapA has 6 docs, got $d0")
    assert(d1 == 6L, s"epoch1: 6 - 1 retracted + 1 added = 6, got $d1")
    assert(b0 == 16L && b1 == 16L, "16 bands at the defaults")
    assert(r0 == 6L * 16 && r1 == 6L * 16,
      s"16 band rows per doc: $r0 / $r1")
    // gram kind: rows only, no doc/bucket structure
    val gdir = java.nio.file.Files
      .createTempDirectory("graft-idxstats-g").toString
    Dedup.writeGramIndex(snapA, gdir)
    val gs = statsOf(Dedup.indexStats(spark,
      Seq(("grams", "gram", gdir))).collect())
    assert(gs(("grams"))._1 == Dedup.gramIndex(snapA).count())
    assert(gs(("grams"))._2 == 0L && gs(("grams"))._3 == 0L)
    // perceptual kind: banded through the query path's own schedule —
    // two identical hashes + one distinct = 2 distinct values per band
    val pdir = java.nio.file.Files
      .createTempDirectory("graft-idxstats-p").toString
    // -1L differs from 42L in EVERY 8-bit band (0xff vs 0x2a / 0x00),
    // so each band holds buckets of {2, 1} rows — the hottest is the
    // 42-pair's 2/3; a low-band-only difference (42 vs 7) would leave
    // the high bands all-identical and the top share at 3/3
    Dedup.writePerceptualIndex(
      Seq((0L, 42L), (1L, 42L), (2L, -1L)).toDF("doc_id", "h64"), pdir)
    val ps = statsOf(Dedup.indexStats(spark,
      Seq(("phash", "perceptual", pdir))).collect())
    assert(ps(("phash"))._1 == 3L && ps(("phash"))._2 == 3L)
    assert(ps(("phash"))._3 ==
      Dedup.pigeonholeBands(5)._1.toLong,
      "the audit must band through the query path's own schedule " +
        "(pigeonholeBands(5) = 8: first power of two above the budget)")
    // the hottest bucket (the 42-pair) holds 2/3 of every band
    assert(ps(("phash"))._5 == 666666L, s"got ${ps(("phash"))._5}")
    // winnow kind: one logical band, bucket = fingerprint — the
    // top-share column reads as boilerplate concentration
    val wdir = java.nio.file.Files
      .createTempDirectory("graft-idxstats-w").toString
    graft.operators.TextOps.writeWinnowIndex(snapA, wdir)
    val ws = statsOf(Dedup.indexStats(spark,
      Seq(("winnow", "winnow", wdir))).collect())
    val fpFrame = graft.operators.TextOps.winnow(snapA)
      .select("doc_id", "fp").distinct()
    assert(ws(("winnow"))._1 == fpFrame.count())
    assert(ws(("winnow"))._2 ==
      fpFrame.select("doc_id").distinct().count())
    assert(ws(("winnow"))._3 == 1L, "winnow audits one logical band")
    // the r12 serve-geometry columns are zero for every non-ann kind
    // (they are annGeometry's columns — SimilaritySpec owns the ann row)
    val z = Dedup.indexStats(spark, Seq(("epoch0", "band", dirA))).collect()(0)
    assert(z.getAs[Long]("recommended_cells") == 0L &&
      z.getAs[Long]("probed_fraction_ppm") == 0L)
    val err = intercept[IllegalArgumentException] {
      Dedup.indexStats(spark, Seq(("x", "bogus", dirA)))
    }
    assert(err.getMessage.contains("bogus"))
  }

  test("noveltyAgainst: equals the joint-corpus gramNovelty restricted to the new snapshot") {
    // the append-only contract: every indexed id below every new id
    val joint = snapA.unionByName(snapB)
    val expected = Dedup.gramNovelty(joint).collect()
      .filter(_.getAs[Long]("doc_id") >= 100L)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novel_frac"))).toSet
    val got = Dedup.noveltyAgainst(Dedup.gramIndex(snapA), snapB).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novel_frac"))).toSet
    assert(got == expected, s"incremental vs joint:\n$got\n$expected")
    assert(got.nonEmpty)
    // the persisted round trip produces the same frame as the
    // in-memory index
    val dir = java.nio.file.Files.createTempDirectory("graft-gramindex").toString
    Dedup.writeGramIndex(snapA, dir)
    val viaDisk = Dedup.noveltyAgainst(spark.read.parquet(dir), snapB).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novel_frac"))).toSet
    assert(viaDisk == expected)
    // the fresh doc is fully novel; the near-dup of an indexed family
    // is mostly not
    val byId = got.map(t => t._1 -> t._4).toMap
    assert(byId(103L) == 1.0, "fresh content must score 1.0")
    assert(byId(100L) < 0.5, "a near-dup of indexed content must score low")
  }

  test("perceptualDedupAgainst: equals the joint image run's new-involving " +
      "subset, exact; parquet round trip; old payloads never re-decoded") {
    import graft.operators.MultimodalOps
    import graft.operators.MultimodalOps.MediaRow
    import org.apache.spark.sql.functions.col

    // 64×64 block images: same seed → same blocks; edit e ∈ {1,2}
    // repaints one corner block (a few dHash grid cells, well inside
    // maxHamming=5); distinct seeds are ~32 bits apart
    def img(seed: Int, edit: Int = 0): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(7 + seed)
      for (bx <- 0 until 8; by <- 0 until 8) {
        val c = rnd.nextInt(0xffffff)
        for (x <- bx * 8 until bx * 8 + 8; y <- by * 8 until by * 8 + 8)
          im.setRGB(x, y, c)
      }
      if (edit > 0) {
        val c = if (edit == 1) 0xffffff else 0x000000
        for (x <- 0 until 8; y <- 0 until 8) im.setRGB(x, y, c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def media(rs: (Long, Array[Byte])*) = {
      implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
      spark.createDataset(rs.map { case (id, p) => MediaRow(id, p, "image") })
    }
    def hashesOf(m: org.apache.spark.sql.Dataset[MediaRow]) =
      MultimodalOps.imageHashes(MultimodalOps.imageProfile(m))
        .where(col("decoded"))
        .select(col("docId").as("doc_id"), col("dhash"))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("hamming"))).toSet

    // snapshot A: a near-dup family (0,1) + a distinct image
    val rowsA = Seq((0L, img(1)), (1L, img(1, edit = 1)), (2L, img(9)))
    // snapshot B: a cross-snapshot edit of the A family, a fresh
    // image, and its byte-copy (within-new exact pair)
    val fresh = img(33)
    val rowsB = Seq((100L, img(1, edit = 2)), (101L, fresh), (102L, fresh))
    val idx = hashesOf(media(rowsA: _*))
    val inc = triples(Dedup.perceptualDedupAgainst(idx,
      hashesOf(media(rowsB: _*))))
    val joint = triples(Dedup.perceptualPairsFrom(
      hashesOf(media((rowsA ++ rowsB): _*))))
    val jointNew = joint.filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc == jointNew,
      s"missing=${jointNew -- inc} extra=${inc -- jointNew}")
    assert(inc.forall { case (a, b, _) => a >= 100L || b >= 100L },
      "indexed-vs-indexed pairs must not be recomputed")
    assert(inc.exists { case (a, b, _) => a < 100L && b == 100L },
      "the cross-snapshot near-dup must surface")
    assert(inc.exists { case (a, b, h) => a == 101L && b == 102L && h == 0L },
      "the within-new byte-copy pair must surface at hamming 0")
    // persisted round trip: identical output through the parquet index
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phashindex").toString
    Dedup.writePerceptualIndex(idx, dir)
    val viaDisk = triples(Dedup.perceptualDedupAgainst(
      Dedup.perceptualIndex(spark, dir), hashesOf(media(rowsB: _*))))
    assert(viaDisk == inc)
    // the stored side is a 16-byte-row scan: no decode subtree (the
    // mapPartitions marker) may hang off the parquet index read
    val plan = Dedup.perceptualDedupAgainst(
      Dedup.perceptualIndex(spark, dir), hashesOf(media(rowsB: _*)))
      .queryExecution.optimizedPlan.toString
    // the union frame is persisted before the band join, so decode
    // (the MapPartitions subtree) may appear only INSIDE the cached
    // relation's build listing — the live join region above the first
    // cache boundary must be free of it, and it belongs to the NEW
    // side only (the stored side is a parquet scan)
    val live = plan.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).toSeq
    assert(!live.exists(_.contains("MapPartitions")),
      s"no decode may run inside the incremental join plan:\n$plan")
  }

  test("simhash rides the perceptual index seam: indexed text fingerprints " +
      "dedup a new snapshot, equals the joint simhashPairs subset") {
    // simhash64 is a 64-bit hash like any other: the modality-agnostic
    // perceptual index is the cross-snapshot form of simhashPairs with
    // NO new machinery — asserted here so the claim stays true
    val dir = java.nio.file.Files
      .createTempDirectory("graft-simhashindex").toString
    Dedup.writePerceptualIndex(Dedup.simhash(snapA), dir)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("hamming"))).toSet
    // 104 re-crawls snapA doc 0 verbatim: identical token multiset ⇒
    // identical simhash ⇒ a guaranteed hamming-0 cross pair (the text
    // families' one-token edits land wherever the weighted bits fall,
    // which a hamming-3 budget does not promise to catch)
    val snapB2 = snapB.unionByName(Seq((104L, base(0))).toDF("doc_id", "text"))
    val inc = triples(Dedup.perceptualDedupAgainst(
      Dedup.perceptualIndex(spark, dir), Dedup.simhash(snapB2),
      maxHamming = 3))
    val joint = triples(Dedup.simhashPairs(snapA.unionByName(snapB2),
      maxHamming = 3))
    val jointNew = joint.filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc == jointNew,
      s"missing=${jointNew -- inc} extra=${inc -- jointNew}")
    assert(inc.exists { case (a, b, _) => a < 100L && b >= 100L },
      "the cross-snapshot near-dup family must surface")
  }

  test("embedDedupAgainst: equals the joint LSH run's new-involving " +
      "subset through the parquet index; stored buckets scanned, not " +
      "re-hashed") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col

    // deterministic unit-ish vectors: family members are small
    // perturbations of a shared base (cos > 0.97), strangers are
    // independent draws (cos ~ 0 at dim 64)
    def vec(seed: Int, perturb: Int = -1): Array[Float] = {
      val rnd = new scala.util.Random(101 + seed)
      val v = Array.fill(64)(rnd.nextGaussian())
      if (perturb >= 0) {
        val p = new scala.util.Random(9000 + perturb)
        for (i <- v.indices) v(i) += 0.1 * p.nextGaussian()
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def frame(rs: (Long, Array[Float])*) = {
      import spark.implicits._
      rs.toSeq.toDF("vec_id", "embedding")
    }
    // snapshot A: a near-dup family (0,1) + a loner; snapshot B: a
    // cross-snapshot member of the family, a fresh pair, a loner
    val snapA = frame((0L, vec(1)), (1L, vec(1, perturb = 1)),
      (2L, vec(50)))
    val snapB = frame((100L, vec(1, perturb = 2)),
      (101L, vec(60)), (102L, vec(60, perturb = 3)), (103L, vec(70)))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim"))).toSet

    val dir = java.nio.file.Files
      .createTempDirectory("graft-lshindex-spec").toString
    Similarity.writeLshIndex(snapA, dir)
    val inc = triples(Similarity.embedDedupAgainst(spark, dir, snapB))
    val joint = triples(Similarity.nearDupPairsLsh(
      snapA.unionByName(snapB)))
    val jointNew = joint.filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc == jointNew,
      s"missing=${jointNew -- inc} extra=${inc -- jointNew}")
    assert(inc.forall { case (a, b, _) => a >= 100L || b >= 100L },
      "indexed-vs-indexed pairs must not be recomputed")
    assert(inc.exists { case (a, b, _) => a < 100L && b == 100L },
      "the cross-snapshot family member must pair with the indexed docs")
    assert(inc.exists { case (a, b, _) => a == 101L && b == 102L },
      "the within-new family must pair")
    assert(!inc.exists { case (a, b, _) => b == 103L || a == 103L },
      "the fresh loner must not pair")
    // the stored side enters as parquet scans of the two index
    // artifacts — the live plan must read buckets/, not re-derive them
    // executedPlan: the optimized plan elides scan paths
    val plan = Similarity.embedDedupAgainst(spark, dir, snapB)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"$dir/buckets") && plan.contains(s"$dir/vecs"),
      s"stored buckets and vectors must be scans of the index:\n$plan")
    // the dense refusal is shared with the batch op
    val err = intercept[IllegalArgumentException] {
      Similarity.embedDedupAgainst(spark, dir, snapB, threshold = 0.35,
        nTables = 8, nPlanes = 3)
    }
    assert(err.getMessage.contains("embedDedupAgainst"))
  }
}
