package graft

import graft.operators.{Curation, Dedup, Similarity, TextOps}

/** Randomized differential fuzz for the cross-snapshot exactness
  * contracts: over generated corpora with planted families, verbatim
  * clones and degenerate rows, the incremental ops must equal the
  * joint run's at-least-one-new-side subset BIT FOR BIT on every
  * trial — the single-fixture specs in IncrementalDedupSpec prove the
  * machinery once; this hunts the composition edges (multi-member
  * stars straddling snapshots, clone-only news, degenerate hashes).
  */
class IncrementalFuzzSpec extends SparkSuite {
  import spark.implicits._

  test("embedDedupAgainst == joint nearDupPairsLsh new-involving subset " +
      "over randomized corpora") {
    val rnd = new scala.util.Random(1234)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(base: Array[Float], seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = base.map(x => x + 0.08 * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 5).foreach { trial =>
      val nFam = 2 + rnd.nextInt(3)
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      var id = 0L
      // families: a base + 2-4 perturbations + 0-2 verbatim clones
      (0 until nFam).foreach { f =>
        val base = unit(trial * 100 + f)
        rows += ((id, base)); id += 1
        (0 until 2 + rnd.nextInt(3)).foreach { p =>
          rows += ((id, perturb(base, trial * 1000 + f * 10 + p))); id += 1
        }
        (0 until rnd.nextInt(3)).foreach { _ =>
          // clone of a random existing family member
          rows += ((id, rows(rnd.nextInt(rows.size))._2)); id += 1
        }
      }
      // strangers + one degenerate zero vector
      (0 until 5).foreach { s2 =>
        rows += ((id, unit(99000 + trial * 10 + s2))); id += 1
      }
      rows += ((id, Array.fill(64)(0f))); id += 1
      // random snapshot split: old = ids below a cut (append-only)
      val cut = 1L + rnd.nextInt(rows.size - 1)
      val old = rows.filter(_._1 < cut).toSeq.toDF("vec_id", "embedding")
      val news = rows.filter(_._1 >= cut).toSeq.toDF("vec_id", "embedding")
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-lsh-$trial").toString
      Similarity.writeLshIndex(old, dir)
      def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Double]("cos_sim"))).toSet
      val inc = triples(Similarity.embedDedupAgainst(spark, dir, news))
      val joint = triples(Similarity.nearDupPairsLsh(
        old.unionByName(news)))
        .filter { case (a, b, _) => a >= cut || b >= cut }
      assert(inc == joint,
        s"trial $trial (cut=$cut, n=${rows.size}): " +
          s"missing=${joint -- inc} extra=${inc -- joint}")
    }
  }

  test("perceptualDedupAgainst == joint perceptualPairsFrom new-involving " +
      "subset over randomized hash corpora") {
    val rnd = new scala.util.Random(77)
    (0 until 5).foreach { trial =>
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var id = 0L
      (0 until 3 + rnd.nextInt(3)).foreach { f =>
        val base = rnd.nextLong()
        rows += ((id, base)); id += 1
        // near members: flip 1-4 random bits
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          var h = base
          (0 until 1 + rnd.nextInt(4)).foreach(_ =>
            h ^= 1L << rnd.nextInt(64))
          rows += ((id, h)); id += 1
        }
        // verbatim hash clones
        (0 until rnd.nextInt(3)).foreach { _ =>
          rows += ((id, rows(rnd.nextInt(rows.size))._2)); id += 1
        }
      }
      (0 until 4).foreach { _ => rows += ((id, rnd.nextLong())); id += 1 }
      val cut = 1L + rnd.nextInt(rows.size - 1)
      val old = rows.filter(_._1 < cut).toSeq.toDF("doc_id", "h64")
      val news = rows.filter(_._1 >= cut).toSeq.toDF("doc_id", "h64")
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-ph-$trial").toString
      Dedup.writePerceptualIndex(old, dir)
      def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("hamming"))).toSet
      val inc = triples(Dedup.perceptualDedupAgainst(
        Dedup.perceptualIndex(spark, dir), news))
      val joint = triples(Dedup.perceptualPairsFrom(
        old.unionByName(news)))
        .filter { case (a, b, _) => a >= cut || b >= cut }
      assert(inc == joint,
        s"trial $trial (cut=$cut, n=${rows.size}): " +
          s"missing=${joint -- inc} extra=${inc -- joint}")
    }
  }

  test("updateBandIndex surgery == scratch rebuild over randomized re-crawls " +
      "(snapshotDiff-driven)") {
    val rnd = new scala.util.Random(777)
    def doc(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 20 + r.nextInt(20)).map(_ => s"w${r.nextInt(40)}").mkString(" ")
    }
    (0 until 6).foreach { trial =>
      // corpus with clone pairs so retraction can hit a non-rep star
      // member (the surgery must still equal the rebuild)
      val base = (0 until 12 + rnd.nextInt(8)).map { i =>
        (i.toLong, doc(trial * 100 + i), "en", "web")
      }
      val withClones = base ++ (0 until 3).map { c =>
        val src = base(rnd.nextInt(base.size))
        ((base.size + c).toLong, src._2, "en", "mirror")
      }
      val old = withClones.toDF("doc_id", "text", "lang", "source")
      // random re-crawl: drop some ids, revise some, add some new
      val ids = withClones.map(_._1)
      val removed = rnd.shuffle(ids).take(1 + rnd.nextInt(3)).toSet
      val changed = rnd.shuffle(ids.filterNot(removed)).take(rnd.nextInt(3)).toSet
      val recrawl = (withClones.filterNot(r => removed(r._1)).map {
        case (i, t, l, s2) =>
          (i, if (changed(i)) t + s" rev$trial" else t, l, s2)
      } ++ (0 until rnd.nextInt(3)).map { a =>
        ((100 + a).toLong, doc(9000 + trial * 10 + a), "en", "web")
      }).toDF("doc_id", "text", "lang", "source")
      val diff = graft.operators.Curation.snapshotDiff(old, recrawl)
      import org.apache.spark.sql.functions.col
      val retract = diff.where(col("status").isin("removed", "changed"))
        .select("doc_id")
      val readd = recrawl.join(
        diff.where(col("status").isin("added", "changed")).select("doc_id"),
        "doc_id")
      val dirA = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-idx-a$trial").toString
      val dirB = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-idx-b$trial").toString
      val dirC = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-idx-c$trial").toString
      Dedup.writeBandIndex(old, dirA)
      Dedup.updateBandIndex(spark, dirA, dirB, retract, readd)
      Dedup.writeBandIndex(recrawl, dirC)
      def sigRows(p: String) = spark.read.parquet(s"$p/sigs").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toList).toSet
      def bandRowsOf(p: String) = spark.read.parquet(s"$p/bands").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_idx"),
          r.getAs[Long]("band_hash"))).toSet
      assert(sigRows(dirB) == sigRows(dirC),
        s"trial $trial (removed=$removed changed=$changed): sigs diverged")
      assert(bandRowsOf(dirB) == bandRowsOf(dirC),
        s"trial $trial (removed=$removed changed=$changed): bands diverged")
    }
  }

  test("updateDsirIndex surgery == scratch rebuild over randomized " +
      "re-crawls (snapshotDiff-driven, count-monoid exactness)") {
    val rnd = new scala.util.Random(4242)
    def doc(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 5 + r.nextInt(15)).map(_ => s"w${r.nextInt(30)}").mkString(" ")
    }
    (0 until 6).foreach { trial =>
      // ids span the % 10 == 7 target class; include clones and a
      // short doc (no bigrams) so deltas hit every feature shape
      val base = (0 until 14 + rnd.nextInt(6)).map { i =>
        (i.toLong, if (i == 3) "solo" else doc(trial * 100 + i), "en", "web")
      }
      val old = base.toDF("doc_id", "text", "lang", "source")
      val ids = base.map(_._1)
      val removed = rnd.shuffle(ids).take(1 + rnd.nextInt(3)).toSet
      val changed = rnd.shuffle(ids.filterNot(removed)).take(rnd.nextInt(3)).toSet
      val recrawl = (base.filterNot(r => removed(r._1)).map {
        case (i, t, l, s2) =>
          (i, if (changed(i)) t + s" rev$trial" else t, l, s2)
      } ++ (0 until rnd.nextInt(3)).map { a =>
        // new ids land in BOTH label classes across trials
        ((97 + a).toLong, doc(9000 + trial * 10 + a), "en", "web")
      }).toDF("doc_id", "text", "lang", "source")
      val diff = graft.operators.Curation.snapshotDiff(old, recrawl)
      import org.apache.spark.sql.functions.col
      val retract = old.join(
        diff.where(col("status").isin("removed", "changed"))
          .select("doc_id"), "doc_id")
      val readd = recrawl.join(
        diff.where(col("status").isin("added", "changed")).select("doc_id"),
        "doc_id")
      val dirA = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-dsir-a$trial").toString
      val dirB = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-dsir-b$trial").toString
      val dirC = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-dsir-c$trial").toString
      graft.operators.Curation.writeDsirIndex(old, dirA)
      graft.operators.Curation.updateDsirIndex(spark, dirA, dirB,
        retract, readd)
      graft.operators.Curation.writeDsirIndex(recrawl, dirC)
      def counts(p: String) = spark.read.parquet(s"$p/counts").collect()
        .map(r => (r.getAs[Long]("b"), r.getAs[Long]("ct"),
          r.getAs[Long]("cr"))).toSet
      def ratio(p: String) = spark.read.parquet(s"$p/ratio").collect()
        .map(r => (r.getAs[Long]("b"),
          r.getAs[java.math.BigDecimal]("lr"))).toSet
      def meta(p: String) = spark.read.parquet(s"$p/meta").collect()(0).toSeq
      assert(counts(dirB) == counts(dirC),
        s"trial $trial (removed=$removed changed=$changed): counts diverged")
      assert(ratio(dirB) == ratio(dirC),
        s"trial $trial: ratio diverged")
      assert(meta(dirB) == meta(dirC),
        s"trial $trial: meta diverged")
    }
  }

  test("updateGramIndex & updateWinnowIndex surgery == scratch rebuild " +
      "over randomized re-crawls (count-monoid / per-doc determinism)") {
    val rnd = new scala.util.Random(31337)
    def doc(seed: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until 12 + r.nextInt(18)).map(_ => s"w${r.nextInt(25)}").mkString(" ")
    }
    (0 until 6).foreach { trial =>
      // clones so a retraction can leave a gram's count positive (the
      // monoid's interesting case: the gram must NOT leave the index)
      val base = (0 until 10 + rnd.nextInt(6)).map { i =>
        (i.toLong, doc(trial * 100 + i), "en", "web")
      }
      val withClones = base ++ (0 until 2).map { c =>
        ((base.size + c).toLong, base(rnd.nextInt(base.size))._2, "en", "m")
      }
      val old = withClones.toDF("doc_id", "text", "lang", "source")
      val ids = withClones.map(_._1)
      val removed = rnd.shuffle(ids).take(1 + rnd.nextInt(3)).toSet
      val changed = rnd.shuffle(ids.filterNot(removed)).take(rnd.nextInt(3)).toSet
      val recrawl = (withClones.filterNot(r => removed(r._1)).map {
        case (i, t, l, s2) =>
          (i, if (changed(i)) t + s" rev$trial" else t, l, s2)
      } ++ (0 until rnd.nextInt(3)).map { a =>
        ((100 + a).toLong, doc(9000 + trial * 10 + a), "en", "web")
      }).toDF("doc_id", "text", "lang", "source")
      val diff = graft.operators.Curation.snapshotDiff(old, recrawl)
      import org.apache.spark.sql.functions.col
      val retractIds = diff.where(col("status").isin("removed", "changed"))
        .select("doc_id")
      val retractDocs = old.join(retractIds, "doc_id")
      val readd = recrawl.join(
        diff.where(col("status").isin("added", "changed")).select("doc_id"),
        "doc_id")
      def dirFor(tag: String) = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-$tag$trial").toString
      // gram: exact count-monoid surgery (retract subtracts counts)
      val (ga, gb, gc) = (dirFor("gram-a"), dirFor("gram-b"), dirFor("gram-c"))
      Dedup.writeGramIndex(old, ga)
      Dedup.updateGramIndex(spark, ga, gb, retractDocs, readd)
      Dedup.writeGramIndex(recrawl, gc)
      def gramRows(p: String) = spark.read.parquet(p).collect()
        .map(r => (r.getAs[String]("gram"), r.getAs[Long]("n_docs"))).toSet
      assert(gramRows(gb) == gramRows(gc),
        s"trial $trial (removed=$removed changed=$changed): grams diverged " +
          s"missing=${gramRows(gc) -- gramRows(gb)} " +
          s"extra=${gramRows(gb) -- gramRows(gc)}")
      // winnow: per-doc-deterministic fingerprint surgery
      val (wa, wb, wc) = (dirFor("wn-a"), dirFor("wn-b"), dirFor("wn-c"))
      graft.operators.TextOps.writeWinnowIndex(old, wa)
      graft.operators.TextOps.updateWinnowIndex(spark, wa, wb,
        retractIds, readd)
      graft.operators.TextOps.writeWinnowIndex(recrawl, wc)
      def fpRows(p: String) = spark.read.parquet(s"$p/fps").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSet
      assert(fpRows(wb) == fpRows(wc),
        s"trial $trial (removed=$removed changed=$changed): fps diverged")
      if (trial == 0) {
        val e1 = intercept[IllegalArgumentException] {
          Dedup.updateGramIndex(spark, ga, ga, retractDocs, readd)
        }
        assert(e1.getMessage.contains("overwrite"))
        val e2 = intercept[IllegalArgumentException] {
          graft.operators.TextOps.updateWinnowIndex(spark, wa, wa,
            retractIds, readd)
        }
        assert(e2.getMessage.contains("overwrite"))
      }
    }
  }

  test("updateLshIndex & updatePerceptualIndex surgery == scratch rebuild " +
      "over randomized re-crawls (deterministic hashing)") {
    val rnd = new scala.util.Random(90210)
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    (0 until 5).foreach { trial =>
      val base = (0 until 10 + rnd.nextInt(6)).map { i =>
        (i.toLong, unit(trial * 100 + i), rnd.nextLong())
      }
      val ids = base.map(_._1)
      val removed = rnd.shuffle(ids).take(1 + rnd.nextInt(3)).toSet
      val changed = rnd.shuffle(ids.filterNot(removed)).take(rnd.nextInt(3)).toSet
      val post = base.filterNot(r => removed(r._1)).map { case (i, v, h) =>
        if (changed(i)) (i, unit(5000 + trial * 100 + i.toInt), h ^ 0xff)
        else (i, v, h)
      } ++ (0 until rnd.nextInt(3)).map { a =>
        ((200 + a).toLong, unit(8000 + trial * 10 + a), rnd.nextLong())
      }
      val retractIds = (removed ++ changed).toSeq.toDF("id")
      val addedIds =
        (changed ++ post.map(_._1).filterNot(ids.contains)).toSeq
      def dirFor(tag: String) = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz-$tag$trial").toString
      // LSH: vecs + buckets both surgered; buckets from the written vecs
      val oldVecs = base.map(t => (t._1, t._2)).toDF("vec_id", "embedding")
      val postVecs = post.map(t => (t._1, t._2)).toDF("vec_id", "embedding")
      val addedVecs = postVecs.join(addedIds.toDF("vec_id"), "vec_id")
      val (la, lb, lc) = (dirFor("lshu-a"), dirFor("lshu-b"), dirFor("lshu-c"))
      Similarity.writeLshIndex(oldVecs, la)
      Similarity.updateLshIndex(spark, la, lb, retractIds, addedVecs)
      Similarity.writeLshIndex(postVecs, lc)
      def vecRows(p: String) = spark.read.parquet(s"$p/vecs").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding")).toList).toSet
      def bucketRows(p: String) = spark.read.parquet(s"$p/buckets").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("table_id"),
          r.getAs[Int]("bucket"))).toSet
      assert(vecRows(lb) == vecRows(lc),
        s"trial $trial (removed=$removed changed=$changed): vecs diverged")
      assert(bucketRows(lb) == bucketRows(lc),
        s"trial $trial (removed=$removed changed=$changed): buckets diverged")
      // perceptual: hash rows surgered
      val oldH = base.map(t => (t._1, t._3)).toDF("doc_id", "h64")
      val postH = post.map(t => (t._1, t._3)).toDF("doc_id", "h64")
      val addedH = postH.join(addedIds.toDF("doc_id"), "doc_id")
      val (pa, pb, pc) = (dirFor("phu-a"), dirFor("phu-b"), dirFor("phu-c"))
      Dedup.writePerceptualIndex(oldH, pa)
      Dedup.updatePerceptualIndex(spark, pa, pb, retractIds, addedH)
      Dedup.writePerceptualIndex(postH, pc)
      def hashRows(p: String) = spark.read.parquet(s"$p/hashes").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("h64"))).toSet
      assert(hashRows(pb) == hashRows(pc),
        s"trial $trial (removed=$removed changed=$changed): hashes diverged")
      if (trial == 0) {
        val e1 = intercept[IllegalArgumentException] {
          Similarity.updateLshIndex(spark, la, la, retractIds, addedVecs)
        }
        assert(e1.getMessage.contains("overwrite"))
        val e2 = intercept[IllegalArgumentException] {
          Dedup.updatePerceptualIndex(spark, pa, pa, retractIds, addedH)
        }
        assert(e2.getMessage.contains("overwrite"))
      }
    }
  }

  test("surgery contract hardening (r12): adds duplicating KEPT rows " +
      "collapse to the stored copy; violated gram retracts fail loud") {
    import org.apache.spark.sql.functions.col
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def dirFor(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-dup-$tag").toString
    val vecs = (0 until 12).map(i => (i.toLong, unit(i)))
      .toDF("vec_id", "embedding")
    val noRetract = Seq.empty[Long].toDF("id")
    // LSH: re-adding every stored id with nothing retracted must be
    // the identity — the old union left two vecs rows per id and
    // hashed both into buckets (the r11 advice finding)
    val (la, lb) = (dirFor("lsh-a"), dirFor("lsh-b"))
    Similarity.writeLshIndex(vecs, la)
    Similarity.updateLshIndex(spark, la, lb, noRetract, vecs)
    def vecRows(p: String) = spark.read.parquet(s"$p/vecs").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toList)
      .toSeq.sortBy(_._1)
    def bucketRows(p: String) = spark.read.parquet(s"$p/buckets").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("table_id"),
        r.getAs[Int]("bucket"))).toSeq.sorted
    assert(vecRows(lb) == vecRows(la),
      "duplicate adds must not double vecs rows")
    assert(bucketRows(lb) == bucketRows(la),
      "duplicate adds must not double bucket rows")
    // ANN codes: same rule — kept wins, one code row per id
    val (aa, ab) = (dirFor("ann-a"), dirFor("ann-b"))
    Similarity.writeAnnIndex(vecs, aa, nCells = 8)
    Similarity.updateAnnIndex(spark, aa, ab, noRetract, vecs)
    def codeRows(p: String) = spark.read.parquet(s"$p/codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getSeq[Int](r.fieldIndex("codes")).toList)).toSeq.sortBy(_._1)
    assert(codeRows(ab) == codeRows(aa),
      "duplicate adds must not double code rows")
    // gram: retracting more doc-occurrences than the index holds must
    // refuse loudly instead of silently dropping still-present grams
    // (two DISTINCT doc_ids sharing one text, only one ever indexed —
    // the per-doc distinct() inside the delta cannot collapse them)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val oneDoc = Seq((0L, text, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val phantom = Seq((0L, text, "en", "web"), (99L, text, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val (ga, gb) = (dirFor("gram-a"), dirFor("gram-b"))
    Dedup.writeGramIndex(oneDoc, ga)
    val err = intercept[IllegalArgumentException] {
      Dedup.updateGramIndex(spark, ga, gb, phantom,
        Seq.empty[(Long, String, String, String)]
          .toDF("doc_id", "text", "lang", "source"))
    }
    assert(err.getMessage.contains("negative"), err.getMessage)
    // LM and DSIR counts follow the same rule: the phantom retract
    // fails loud instead of dropping (LM) or keeping (DSIR) the
    // negative count
    val noDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val (ma, mb) = (dirFor("lm-a"), dirFor("lm-b"))
    TextOps.writeLmIndex(oneDoc, ma)
    val lmErr = intercept[IllegalArgumentException] {
      TextOps.updateLmIndex(spark, ma, mb, phantom, noDocs)
    }
    assert(lmErr.getMessage.contains("negative"), lmErr.getMessage)
    val (da, db) = (dirFor("dsir-a"), dirFor("dsir-b"))
    Curation.writeDsirIndex(oneDoc, da)
    val dsirErr = intercept[IllegalArgumentException] {
      Curation.updateDsirIndex(spark, da, db, phantom, noDocs)
    }
    assert(dsirErr.getMessage.contains("negative"), dsirErr.getMessage)
    // band, winnow and perceptual rows: re-adding every stored id with
    // nothing retracted is the identity (one row set per id, not two)
    def multiset(p: String) = spark.read.parquet(p).collect()
      .map(_.toString).sorted.toSeq
    val docs = (0 until 6).map(i => (i.toLong,
        s"w$i alpha beta gamma delta epsilon zeta eta theta iota kappa $i",
        "en", "web")).toDF("doc_id", "text", "lang", "source")
    val (ba, bb) = (dirFor("band-a"), dirFor("band-b"))
    Dedup.writeBandIndex(docs, ba)
    Dedup.updateBandIndex(spark, ba, bb, noRetract, docs)
    for (part <- Seq("sigs", "bands"))
      assert(multiset(s"$bb/$part") == multiset(s"$ba/$part"),
        s"duplicate adds must not double band $part rows")
    val (wa, wb) = (dirFor("winnow-a"), dirFor("winnow-b"))
    TextOps.writeWinnowIndex(docs, wa)
    TextOps.updateWinnowIndex(spark, wa, wb, noRetract, docs)
    assert(multiset(s"$wa/fps").nonEmpty)
    assert(multiset(s"$wb/fps") == multiset(s"$wa/fps"),
      "duplicate adds must not double fingerprint rows")
    val hashes = (0 until 6).map(i => (i.toLong, i * 7919L))
      .toDF("doc_id", "h64")
    val (pa, pb) = (dirFor("phash-a"), dirFor("phash-b"))
    Dedup.writePerceptualIndex(hashes, pa)
    Dedup.updatePerceptualIndex(spark, pa, pb, noRetract, hashes)
    assert(multiset(s"$pb/hashes") == multiset(s"$pa/hashes"),
      "duplicate adds must not double hash rows")
  }

  test("every index update refuses to write the index it reads, " +
      "however the path is spelled") {
    val p = java.nio.file.Files.createTempDirectory("graft-guard").toString
    val docs = Seq((0L, "a b c d e f g h", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val ids = Seq.empty[Long].toDF("id")
    val vecs = Seq((0L, Array.fill(64)(0.125f))).toDF("vec_id", "embedding")
    val hashes = Seq((0L, 1L)).toDF("doc_id", "h64")
    val updates = Seq[(String, String => Unit)](
      "band" -> (out => Dedup.updateBandIndex(spark, p, out, ids, docs)),
      "gram" -> (out => Dedup.updateGramIndex(spark, p, out, docs, docs)),
      "perceptual" ->
        (out => Dedup.updatePerceptualIndex(spark, p, out, ids, hashes)),
      "winnow" -> (out => TextOps.updateWinnowIndex(spark, p, out, ids, docs)),
      "lm" -> (out => TextOps.updateLmIndex(spark, p, out, docs, docs)),
      "dsir" -> (out => Curation.updateDsirIndex(spark, p, out, docs, docs)),
      "lsh" -> (out => Similarity.updateLshIndex(spark, p, out, ids, vecs)),
      "ann" -> (out => Similarity.updateAnnIndex(spark, p, out, ids, vecs)))
    for ((kind, update) <- updates; out <- Seq(p + "/", "file:" + p)) {
      val e = intercept[IllegalArgumentException](update(out))
      assert(e.getMessage.contains("cannot overwrite the index it reads"),
        s"$kind with out=$out: ${e.getMessage}")
    }
  }
}
