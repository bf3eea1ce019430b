package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Payments, Similarity, TextOps}

/** Robustness: every operator must return an empty (not crashed)
  * result on empty input — at 100 TB a partition-pruned scan or an
  * upstream filter routinely produces zero rows.
  */
class EmptyInputSpec extends SparkSuite {
  import spark.implicits._

  private lazy val noEvents = Seq.empty[(Long, Timestamp, Long, String, Double, String)]
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  private lazy val noDocs = Seq.empty[(Long, String, String, String)]
    .toDF("doc_id", "text", "lang", "source")
  private lazy val noEmb = Seq.empty[(Long, Array[Float], Long)]
    .toDF("vec_id", "embedding", "label")

  private def assertEmptyOk(name: String, df: => DataFrame): Unit =
    assert(df.count() == 0, s"$name on empty input")

  test("payment operators tolerate empty input") {
    assertEmptyOk("latestStatus", Payments.latestStatus(noEvents))
    assertEmptyOk("expiryOutcomes", Payments.expiryOutcomes(noEvents))
    assertEmptyOk("xrateAsof", Payments.xrateAsof(noEvents))
    assertEmptyOk("sessionStats", Payments.sessionStats(noEvents))
    assertEmptyOk("txnUniqueViolations", Payments.txnUniqueViolations(noEvents))
    assertEmptyOk("hmacSign", Payments.hmacSign(noEvents))
    assertEmptyOk("confirmAmounts", Payments.confirmAmounts(noEvents))
    assertEmptyOk("valueQuantiles", Payments.valueQuantiles(noEvents))
    assertEmptyOk("rateOhlc", Payments.rateOhlc(noEvents))
  }

  test("order/report operators tolerate empty input") {
    val noOrders = Seq.empty[(Long, Long, String, Double, Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val noLineitem = Seq.empty[(Long, Int, Double, Double, Double, Timestamp)]
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "l_tax", "l_shipdate")
    val noCust = Seq.empty[(Long, String, Int, String)]
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    assertEmptyOk("secureLookup", Payments.secureLookup(noOrders))
    assertEmptyOk("orderPriority", Payments.orderPriority(noOrders, noLineitem))
    assertEmptyOk("shipPriority",
      Payments.shipPriority(noCust, noOrders, noLineitem))
    assertEmptyOk("suppressedRevenue",
      Payments.suppressedRevenue(noOrders, noCust,
        Seq.empty[(Int, String, Int)]
          .toDF("n_nationkey", "n_name", "n_regionkey")))
    // dataQuality on empty inputs is six ZERO rows, not zero rows —
    // asserted directly (the assertEmptyOk contract is inverted here)
    val dq = Payments.dataQuality(noOrders, noLineitem, noCust, noEvents)
      .collect()
    assert(dq.length == 6 && dq.forall(_.getAs[Long]("n_violations") == 0L),
      "dataQuality must report six zero rules on empty inputs")
  }

  test("dedup/text operators tolerate empty input") {
    assertEmptyOk("exact", Dedup.exact(noDocs))
    assertEmptyOk("minhashCandidates", Dedup.minhashCandidates(noDocs))
    assertEmptyOk("simhash", Dedup.simhash(noDocs))
    assertEmptyOk("jaccardPairs", Dedup.jaccardPairs(noDocs))
    assertEmptyOk("simhashPairs", Dedup.simhashPairs(noDocs))
    assertEmptyOk("langId", TextOps.langId(noDocs))
    assertEmptyOk("textQuality", TextOps.textQuality(noDocs))
    assertEmptyOk("textExtract", TextOps.textExtract(noDocs.withColumn(
      "html", TextOps.syntheticHtml(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")))))
    assertEmptyOk("fingerprint", TextOps.fingerprint(noDocs))
    assertEmptyOk("winnow", TextOps.winnow(noDocs))
    assertEmptyOk("winnowPairs", TextOps.winnowPairs(noDocs))
    assertEmptyOk("winnowGroups", Dedup.winnowGroups(noDocs))
    assertEmptyOk("minhashExactVerifiedPairs", Dedup.minhashExactVerifiedPairs(noDocs))
    assertEmptyOk("dedupGroups", Dedup.dedupGroups(noDocs))
    assertEmptyOk("dedupApply", Dedup.dedupApply(noDocs))
    assertEmptyOk("dedupRateBySource", Dedup.dedupRateBySource(noDocs))
    assertEmptyOk("bandSaturation", Dedup.bandSaturation(
      Seq.empty[(Long, Long)].toDF("doc_id", "h64")))
    assertEmptyOk("piiScrub", TextOps.piiScrub(noDocs))
    assertEmptyOk("repetitionRatio", TextOps.repetitionRatio(noDocs))
    assertEmptyOk("topNgramFrac", TextOps.topNgramFrac(noDocs))
    assertEmptyOk("unigramLogProb", TextOps.unigramLogProb(noDocs))
    assertEmptyOk("decontaminate", graft.operators.Curation.decontaminate(noDocs))
    assertEmptyOk("decontaminateFuzzy",
      graft.operators.Curation.decontaminateFuzzy(noDocs))
    assertEmptyOk("sourceKl", TextOps.sourceKl(noDocs))
    assertEmptyOk("stratifiedSample",
      graft.operators.Curation.stratifiedSample(noDocs))
    assertEmptyOk("diverseSelect", Similarity.diverseSelect(noEmb))
    def noMedia = {
      implicit val e = org.apache.spark.sql.Encoders.product[
        graft.operators.MultimodalOps.MediaRow]
      spark.emptyDataset[graft.operators.MultimodalOps.MediaRow]
    }
    def noAudio = {
      implicit val e = org.apache.spark.sql.Encoders.product[
        graft.operators.AudioOps.AudioRow]
      spark.emptyDataset[graft.operators.AudioOps.AudioRow]
    }
    import graft.operators.{AudioOps, MultimodalOps, VideoOps}
    def imgProfiles = MultimodalOps.imageProfile(noMedia)
    def imgHashes = MultimodalOps.imageHashes(imgProfiles)
      .where($"decoded").select($"docId", $"dhash")
    def frameHashes = VideoOps.frameHashes(VideoOps.videoFrameProfiles(noMedia))
      .toDF().select($"docId".as("doc_id"), $"frameIdx".as("frame_idx"),
        $"fhash")
    assertEmptyOk("imageAnnTopK", MultimodalOps.imageAnnTopK(imgProfiles))
    assertEmptyOk("imageDedupPairs", Dedup.perceptualPairsFrom(imgHashes))
    assertEmptyOk("imageDedupGroups", Dedup.perceptualGroups(imgHashes))
    assertEmptyOk("audioDedupPairs", Dedup.perceptualPairsFrom(
      AudioOps.audioProfile(noAudio).where($"hashValid")
        .select($"docId", $"ehash")))
    assertEmptyOk("videoDedupPairs", Dedup.videoDedupPairs(frameHashes))
    assertEmptyOk("videoDedupPairsWarp", Dedup.videoDedupPairsWarp(frameHashes))
    assertEmptyOk("videoAnnTopK",
      VideoOps.videoAnnTopK(VideoOps.videoFrameProfiles(noMedia)))
    assertEmptyOk("videoMeta", VideoOps.videoMeta(noMedia).toDF())
    assertEmptyOk("videoKeyframes",
      VideoOps.videoKeyframes(VideoOps.videoFrameProfiles(noMedia)).toDF())
    assertEmptyOk("curateMedia", graft.operators.MediaPipeline.curateMedia(
      imgProfiles.toDF(), AudioOps.audioProfile(noAudio).toDF(),
      VideoOps.videoMeta(noMedia).toDF(), frameHashes))
    assertEmptyOk("audioAnnTopK",
      Similarity.annTopK(AudioOps.envelopes(AudioOps.audioProfile(noAudio))))
    assertEmptyOk("audioFilter",
      AudioOps.audioFilter(AudioOps.audioProfile(noAudio)).toDF())
    assertEmptyOk("decontaminateBloom",
      graft.operators.Curation.decontaminateBloom(noDocs))
    assertEmptyOk("contamAttribution",
      graft.operators.Curation.contamAttribution(noDocs))
    assertEmptyOk("domainMix", graft.operators.Curation.domainMix(noDocs))
    assertEmptyOk("packSequences", graft.operators.Curation.packSequences(noDocs))
    assertEmptyOk("packStats", graft.operators.Curation.packStats(noDocs))
    assertEmptyOk("snapshotDiff",
      graft.operators.Curation.snapshotDiff(noDocs, noDocs))
    assertEmptyOk("snapshotDrift",
      graft.operators.Curation.snapshotDrift(noDocs, noDocs))
    assertEmptyOk("snapshotPair._1",
      graft.operators.Curation.snapshotPair(noDocs)._1)
    assertEmptyOk("snapshotPair._2",
      graft.operators.Curation.snapshotPair(noDocs)._2)
    assertEmptyOk("containmentPairs", Dedup.containmentPairs(noDocs))
    assertEmptyOk("dupSpan", Dedup.dupSpan(noDocs))
    assertEmptyOk("dupSpanMerge", Dedup.dupSpanMerge(noDocs))
    assertEmptyOk("cutSpans", Dedup.cutSpans(noDocs))
    assertEmptyOk("lengthHist", TextOps.lengthHist(noDocs))
    assertEmptyOk("qualityTopK", graft.operators.Curation.qualityTopK(noDocs))
    assertEmptyOk("tokenBudget", graft.operators.Curation.tokenBudget(noDocs))
    assertEmptyOk("wordEntropy", TextOps.wordEntropy(noDocs))
    assertEmptyOk("pmiTop", TextOps.pmiTop(noDocs))
    assertEmptyOk("blocklistFilter", TextOps.blocklistFilter(noDocs))
    assertEmptyOk("tokenChunks", graft.operators.Curation.tokenChunks(noDocs))
    assertEmptyOk("splitLeakage", graft.operators.Curation.splitLeakage(noDocs))
    assertEmptyOk("oovRate", TextOps.oovRate(noDocs))
    assertEmptyOk("sourceOverlap", Dedup.sourceOverlap(noDocs))
    assertEmptyOk("bigramLogProb", TextOps.bigramLogProb(noDocs))
    assertEmptyOk("dsirScore", graft.operators.Curation.dsirScore(noDocs))
    assertEmptyOk("sourceReport", TextOps.sourceReport(noDocs))
    assertEmptyOk("ccnetBuckets", graft.operators.Curation.ccnetBuckets(noDocs))
    assertEmptyOk("gopherGate", TextOps.gopherGate(noDocs))
    assertEmptyOk("curateCorpus", graft.operators.Curation.curateCorpus(noDocs))
    assertEmptyOk("probeScore", graft.operators.Curation.probeScore(noDocs))
    assertEmptyOk("mixWeights", graft.operators.Curation.mixWeights(noDocs))
    assertEmptyOk("mixApply", graft.operators.Curation.mixApply(noDocs))
    assertEmptyOk("heavyHitters", TextOps.heavyHitters(noDocs))
    assertEmptyOk("dsirSelect", graft.operators.Curation.dsirSelect(noDocs))
    assertEmptyOk("hashEmbedSparse", TextOps.hashEmbedSparse(noDocs))
    assertEmptyOk("hashEmbed", TextOps.hashEmbed(noDocs))
    assertEmptyOk("zipfSlope", TextOps.zipfSlope(noDocs))
    assertEmptyOk("bm25Top", TextOps.bm25Top(noDocs))
    assertEmptyOk("gramNovelty", Dedup.gramNovelty(noDocs))
    assertEmptyOk("simhashGroups", Dedup.simhashGroups(noDocs))
    assertEmptyOk("noveltyAgainst",
      Dedup.noveltyAgainst(Dedup.gramIndex(noDocs), noDocs))
    assertEmptyOk("sourceOverlapHll", Dedup.sourceOverlapHll(noDocs))
    assertEmptyOk("compressRatio", TextOps.compressRatio(noDocs))
    assertEmptyOk("imageFilter", MultimodalOps.imageFilter(imgProfiles).toDF())
  }

  test("similarity operators tolerate empty input") {
    assertEmptyOk("nearDupPairs", Similarity.nearDupPairs(noEmb))
    assertEmptyOk("annTopK", Similarity.annTopK(noEmb))
    assertEmptyOk("clusterBalance", Similarity.clusterBalance(noEmb))
    assertEmptyOk("annLsh", Similarity.annLsh(noEmb))
    assertEmptyOk("annIvf", Similarity.annIvf(noEmb))
    assertEmptyOk("annIvfLearned", Similarity.annIvfLearned(noEmb))
    assertEmptyOk("nearDupPairsLsh", Similarity.nearDupPairsLsh(noEmb))
    assertEmptyOk("embedPca", Similarity.embedPca(noEmb))
    assertEmptyOk("pcaVariance", Similarity.pcaVariance(noEmb))
    assertEmptyOk("mineBitext", Similarity.mineBitext(noEmb, noDocs))
    assertEmptyOk("embedDedupGroups", Similarity.embedDedupGroups(noEmb))
    assertEmptyOk("semanticDecontaminate",
      graft.operators.Curation.semanticDecontaminate(noEmb))
    assertEmptyOk("quantizeEmbeddings", Similarity.quantizeEmbeddings(noEmb))
    assertEmptyOk("quantizeEmbeddingsFlat", Similarity.quantizeEmbeddingsFlat(noEmb))
    assertEmptyOk("embedOutlier", Similarity.embedOutlier(noEmb))
    assertEmptyOk("randomProject", Similarity.randomProject(noEmb))
    assertEmptyOk("randomProjectFlat", Similarity.randomProjectFlat(noEmb))
    assertEmptyOk("pqEncode", Similarity.pqEncode(noEmb))
    assertEmptyOk("pqEncodeFlat", Similarity.pqEncodeFlat(noEmb))
    assertEmptyOk("annIvfPq", Similarity.annIvfPq(noEmb))
    assertEmptyOk("annIvfPqLearned", Similarity.annIvfPqLearned(noEmb))
    assertEmptyOk("semDeDup", Similarity.semDeDup(noEmb))
    assertEmptyOk("annRecall",
      Similarity.annRecall(Similarity.annTopK(noEmb), Similarity.annLsh(noEmb)))
    assertEmptyOk("clusterPurity", Similarity.clusterPurity(noEmb))
  }

  test("serve/order operators tolerate an empty new snapshot") {
    val train = Seq((0L, "a b a b c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val lm = java.nio.file.Files
      .createTempDirectory("graft-empty-lm").toString
    TextOps.writeLmIndex(train, lm)
    assertEmptyOk("lmScoreFrom", TextOps.lmScoreFrom(spark, lm, noDocs))
    val bpe = java.nio.file.Files
      .createTempDirectory("graft-empty-bpe").toString
    TextOps.writeBpeIndex(train, bpe, nMerges = 4, minPairCount = 1)
    assertEmptyOk("bpeTokensFrom", TextOps.bpeTokensFrom(spark, bpe, noDocs))
    val wn = java.nio.file.Files
      .createTempDirectory("graft-empty-wn").toString
    TextOps.writeWinnowIndex(train, wn)
    assertEmptyOk("winnowAgainst", TextOps.winnowAgainst(spark, wn, noDocs))
    assertEmptyOk("trainOrder", graft.operators.Curation.trainOrder(noDocs))
    val dsir = java.nio.file.Files
      .createTempDirectory("graft-empty-dsir").toString
    graft.operators.Curation.writeDsirIndex(train, dsir)
    assertEmptyOk("dsirScoreFrom",
      graft.operators.Curation.dsirScoreFrom(spark, dsir, noDocs))
    assertEmptyOk("mineTriplets",
      graft.operators.Curation.mineTriplets(noDocs, negBuckets = 2))
    assertEmptyOk("mineTripletsHard",
      graft.operators.Curation.mineTripletsHard(noDocs, negBuckets = 2))
  }

  test("probe family tolerates empty input") {
    // writeProbeIndex on an empty corpus: the sample has no classes,
    // so training degrades to the untrained prior (w = 0) — the index
    // still writes and serves, scoring everything 0.5
    val dir = java.nio.file.Files
      .createTempDirectory("graft-empty-probe").toString
    graft.operators.Curation.writeProbeIndex(noDocs, dir)
    assertEmptyOk("probeScoreFrom",
      graft.operators.Curation.probeScoreFrom(spark, dir, noDocs))
    val one = Seq((1L, "alpha beta", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val served = graft.operators.Curation.probeScoreFrom(spark, dir, one)
      .collect()
    assert(served.length == 1 && served(0).getAs[Double]("score") == 0.5)
    // probeEval over zero scored rows: one row of ZEROS (the
    // dataQuality empty-input contract), null-ppm metrics, null auc
    val noScored = Seq.empty[(Long, Boolean, Double)]
      .toDF("doc_id", "is_target", "score")
    val ev = graft.operators.Curation.probeEval(noScored).collect()
    assert(ev.length == 1)
    assert(ev(0).getAs[Long]("n_pos") == 0 && ev(0).getAs[Long]("tp") == 0)
    assert(ev(0).isNullAt(ev(0).fieldIndex("auc")))
    assertEmptyOk("probeCalibration",
      graft.operators.Curation.probeCalibration(noScored))
  }

  test("web-graph operators tolerate empty input") {
    import graft.operators.WebOps
    val noPages = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "url", "html")
    assertEmptyOk("urlNormalize", WebOps.urlNormalize(noPages))
    assertEmptyOk("urlDedup", WebOps.urlDedup(noPages))
    assertEmptyOk("linkExtract", WebOps.linkExtract(noPages))
    assertEmptyOk("hostGraph", WebOps.hostGraph(noPages))
    // pageRank on an empty edge frame: no nodes, no rows, no crash
    val noEdges = Seq.empty[(String, String, Long)]
      .toDF("src_host", "dst_host", "n_links")
    assertEmptyOk("pageRank", WebOps.pageRank(noEdges))
    assertEmptyOk("encodingAudit", WebOps.encodingAudit(noDocs))
    assertEmptyOk("anchorText", WebOps.anchorText(noPages))
    assertEmptyOk("metaRobots", WebOps.metaRobots(noPages))
    assertEmptyOk("sentSplit", TextOps.sentSplit(noDocs))
  }
}
