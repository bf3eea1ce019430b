package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AudioOps, Curation, Dedup, MediaPipeline, MultimodalOps, Payments, Similarity, TextOps, VideoOps, WebOps}
import graft.sources.Tables
import graft.sources.Tables.memo

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL for every SQL-expressible one.
  *
  * Determinism rules (SURVEY.md §6): every aggregate over money is an
  * exact DECIMAL sum cast to DOUBLE at the very end; doubles that pass
  * through floating arithmetic whose fold order differs across engines
  * (cosine similarity) are rounded to 4 dp before any threshold /
  * ordering decision; every computed column is aliased identically in
  * the Spark plan and the oracle SQL (the driver's compare sorts
  * columns by name); DuckDB integer sums are cast BIGINT to match
  * Spark's LongType.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Deterministic scratch path for registry-built index artifacts —
    * one fixed location per (data dir, kind) under java.io.tmpdir,
    * written in overwrite mode, so repeated bench/verify runs reuse
    * one directory instead of leaking a fresh createTempDirectory
    * each invocation (r9 advice).
    */
  private def indexScratchPath(d: String, kind: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(d.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft-$kind-$h"
  }

  /** Memoized index artifact: `write` fills the kind's scratch path
    * once per (session, dir), and every later call returns the path.
    */
  private def indexOf(s: SparkSession, d: String, kind: String)(
      write: String => Unit): String =
    memo(s, d, s"$kind-path") {
      val p = indexScratchPath(d, kind)
      write(p)
      p
    }

  /** The embeddings split at the vec_id median — the registry's
    * two-snapshot stand-in (old half = "indexed snapshot", new half =
    * "this crawl") shared by q_embed_dedup_incr and the index fixtures.
    */
  private def embedHalf(s: SparkSession, d: String,
      old: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, floor, lit, max}
    val emb = t(s, d, "embeddings")
    val cut = emb.agg(
      floor(max(col("vec_id")) / lit(2.0)).cast("long").as("cut"))
    emb.crossJoin(broadcast(cut))
      .where(if (old) col("vec_id") < col("cut")
        else col("vec_id") >= col("cut"))
      .drop("cut")
  }

  /** ANY doc_id-keyed frame split at the documents table's doc_id
    * median — THE two-snapshot split convention (old half = "indexed
    * snapshot", new half = "this crawl"), shared by every
    * documents-derived incremental fixture so the cut cannot drift
    * between operators (review finding: three inline copies
    * coexisted).
    */
  private def halfBy(s: SparkSession, d: String, frame: DataFrame,
      old: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, floor, lit, max}
    val cut = t(s, d, "documents").agg(
      floor(max(col("doc_id")) / lit(2.0)).cast("long").as("cut"))
    frame.crossJoin(broadcast(cut))
      .where(if (old) col("doc_id") < col("cut")
        else col("doc_id") >= col("cut"))
      .drop("cut")
  }

  /** [[halfBy]] over the documents table itself. */
  private def docHalf(s: SparkSession, d: String, old: Boolean): DataFrame =
    halfBy(s, d, t(s, d, "documents"), old)

  /** Memoized old-half winnow fingerprint index — q_winnow_incr
    * overlaps the new half against it, q_index_stats audits its
    * boilerplate concentration.
    */
  private def winnowIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "winnowindex") { p =>
      TextOps.writeWinnowIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized old-half embedding LSH index (one deterministic
    * overwrite-mode path per session/dir — no temp-dir leak, r9
    * advice); q_embed_dedup_incr dedups the new half against it and
    * q_index_stats audits it.
    */
  private def lshIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "lshindex") { p =>
      Similarity.writeLshIndex(embedHalf(s, d, old = true), p,
        nTables = 8, nPlanes = 3)
    }

  /** Memoized old-half frozen bigram LM — q_lm_serve scores the new
    * half under it (the CCNet reference-model deployment shape).
    */
  private def lmIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "lmindex") { p =>
      TextOps.writeLmIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized old-half frozen DSIR importance model — q_dsir_serve
    * scores the new half under it (the paper's fit-once/score-every-
    * shard deployment shape).
    */
  private def dsirIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "dsirindex") { p =>
      Curation.writeDsirIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized old-half frozen quality probe — q_probe_serve scores
    * the new half under it (the classifier member of the
    * train-once/serve-many family); q_probe_eval and
    * q_probe_calibration audit the served scores.
    */
  private def probeIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "probeindex") { p =>
      Curation.writeProbeIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized new-half scores under the frozen old-half probe — ONE
    * scoring pass per (session, dir) shared by q_probe_serve and its
    * two audits (pinned: three consumers, corpus-sized frame).
    */
  private def probeServedOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "probe-served")(Cached.pin(
      Curation.probeScoreFrom(s, probeIndexOf(s, d),
        docHalf(s, d, old = false))))

  /** Memoized old-half frozen BPE tokenizer — q_bpe_serve encodes the
    * new half under it with zero training rounds.
    */
  private def bpeIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "bpeindex") { p =>
      // serve-only build: q_bpe_serve reads merges/ alone, so the
      // vocab inventory's second encode pass is skipped here
      TextOps.writeBpeIndex(docHalf(s, d, old = true), p,
        writeVocab = false)
    }

  /** Memoized full-corpus unigram piece table — the driver-looped
    * hard-EM training is deterministic, so q_unigram_learn/tokens
    * share ONE run per (session, dir); collected and re-created as a
    * local frame (the bpeMergesOf lineage discipline).
    */
  private def unigramPiecesOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "unigram-pieces") {
      import s.implicits._
      TextOps.unigramLearn(t(s, d, "documents")).collect()
        .map(r => (r.getAs[String]("piece"), r.getAs[Long]("usage"),
          r.getAs[Double]("logprob")))
        .toSeq.toDF("piece", "usage", "logprob")
    }

  /** Memoized old-half frozen unigram tokenizer — q_unigram_serve
    * encodes the new half under it with zero training rounds.
    */
  private def unigramIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "unigramindex") { p =>
      TextOps.writeUnigramIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized old-half frozen trigram count tables — q_lm_trigram_serve
    * scores the new half under them with zero reference passes.
    */
  private def trigramIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "trigramindex") { p =>
      TextOps.writeTrigramIndex(docHalf(s, d, old = true), p)
    }

  /** Memoized full-corpus BPE merge table — bpeLearn's driver-looped
    * rounds are deterministic, so q_bpe_learn/tokens/vocab share ONE
    * training run per (session, dir). The tiny (≤512-row) result is
    * collected and re-created as a local frame: the memo must not
    * hand later queries a lineage chained through the training
    * session's checkpoints.
    */
  private def bpeMergesOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "bpe-merges") {
      import s.implicits._
      TextOps.bpeLearn(t(s, d, "documents")).collect()
        .map(r => (r.getAs[Long]("rank"), r.getAs[String]("left"),
          r.getAs[String]("right"), r.getAs[Long]("pair_count")))
        .toSeq.toDF("rank", "left", "right", "pair_count")
    }

  /** Memoized full-corpus IVF-PQ index — q_ann_serve serves against
    * it, q_index_stats audits its cell balance and serve geometry.
    * Geometry PINNED at nCells=8 (the r11 recall/latency sweep's
    * operating point): the gate embeddings are near-uniform, so
    * recall tracks the PROBED FRACTION (6/8 = 75%) almost
    * independently of cell count — the engine default
    * (writeAnnIndex's √N auto rule, r12) would put the toy corpus at
    * 23 cells and starve the pinned-nProbe recall audits without
    * exercising anything real. Production corpora take the auto
    * default; q_index_stats' recommended_cells/probed_fraction_ppm
    * columns flag exactly this kind of stale pin.
    */
  private def annIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "annindex") { p =>
      Similarity.writeAnnIndex(t(s, d, "embeddings"), p, nCells = 8)
    }

  /** Memoized WARC fixture archive — the first 500 docs packed once
    * per (session, dir); q_warc_roundtrip round-trips it,
    * q_warc_extract runs the crawl-dump → extraction composition
    * over it. Bounded driver pack (500 rows, ordered).
    */
  private def warcFixtureOf(s: SparkSession, d: String): String =
    indexOf(s, d, "warcfix") { p =>
      val rows = t(s, d, "documents").select("doc_id", "text")
        .orderBy("doc_id").limit(500).collect()
      val out = new java.io.ByteArrayOutputStream()
      rows.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        out.write(graft.sources.WarcSource.packRecord(
          s"http://graft.test/doc/$id",
          java.time.Instant.parse("2026-01-01T00:00:00Z").plusSeconds(id),
          "<html><body><p>" + r.getAs[String]("text") +
            "</p></body></html>"))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    }

  // Fixtures are memoized INSTANCES: the synthetic-media render is
  // fixture cost a real corpus never pays (payloads there are a table
  // every query scans, not a per-query PNG/WAV/AVI encode), and Spark's
  // cache manager cannot de-duplicate typed `mapPartitions` plans
  // across calls (each call closes over a fresh lambda, so the plans
  // never compare equal) — sharing one pinned instance per (session,
  // dir) renders each modality once. The pins live HERE, on the shared
  // instances — not inside the library renderers, where every call
  // would add a cache entry (the `Cached` rule)

  // NOT spread to shuffle.partitions like sentFixtureOf (r15 opt
  // round A/B): the one-task synthetic render + decode only costs the
  // fixture build (pass 1, excluded from best-of-2), while a
  // 32-partition cached media frame made every downstream band-join
  // stage spawn 32 tasks over kilobyte partitions — measured
  // q_audio_dedup 0.9 → 2.3 s, q_media_pipeline ~2.6 → 5.9 s
  // steady-state. The sentence fixture keeps its spread because its
  // consumers fan out ~10³ rows per input row; the media consumers
  // are band joins over 16-byte hash rows.
  private def imagesOf(s: SparkSession, d: String) =
    memo(s, d, "images")(
      Cached.pin(MultimodalOps.syntheticImages(t(s, d, "documents"))))

  // ONE definition of the web-family fixture wiring (the synthetic
  // url / linked-html columns) — seven registry keys consume it, so a
  // fixture change lands in one place (review finding)
  private def webPagesOf(s: SparkSession, d: String,
      withUrl: Boolean = false, withHtml: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = t(s, d, "documents")
    val u = if (withUrl)
      base.withColumn("url", WebOps.syntheticUrl(col("doc_id")))
    else base
    if (withHtml)
      u.withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), col("text")))
    else u
  }

  // memoized sentence-level fixture: segmented sentences (with
  // planted punctuation + inherited lang) and their hash embeddings —
  // the stored-encoder-output stand-in the sentence miner reads
  private def sentFixtureOf(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    memo(s, d, "sentfix") {
      import org.apache.spark.sql.functions.{col, lit}
      val docs = t(s, d, "documents")
      // repartition BEFORE the pin (r15 opt round): the fixture
      // stands in for encoder output read from storage, which at any
      // real scale arrives in many splits — without the spread the
      // few-MB frame caches at AQE's coalesced 1-2 partitions, and
      // every downstream broadcast fan-out join (the reverse-scoring
      // legs multiply rows ~10³× per input row) runs its ENTIRE
      // cosine fan-out on one core (measured: one 4.9 s single-task
      // stage = 75% of q_mine_bitext_sent's wall). The count follows
      // spark.sql.shuffle.partitions — cores-derived in the bench,
      // cluster-derived in production, never a constant.
      // pin, NOT localCheckpoint (r15 opt round A/B): truncating
      // the fixture lineage to a LogicalRDD did shrink the trees AQE
      // re-plans per stage, but a LogicalRDD reports
      // defaultSizeInBytes (effectively infinite) — every downstream
      // join that auto-broadcast the fixture side re-planned as a
      // sort-merge join and the exact sentence leg ran 4× slower.
      // InMemoryRelation keeps real size statistics; the replanning
      // cost it carries (~0.2 s per AQE stage on the dedup legs) is
      // the lesser evil and vanishes off the 32-thread local host.
      val sents = TextOps.sentSplit(docs.withColumn("text",
          TextOps.syntheticSentences(col("text"))))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select((col("sent_id") * lit(1000000000L) + col("doc_id"))
          .as("doc_id"), col("sentence").as("text"), col("lang"))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      // semb needs its OWN spread: hashEmbed re-shuffles by doc_id
      // (token aggregate), so sents' layout does not survive into the
      // embedding frame and AQE coalesces the tiny final aggregate to
      // ONE partition before the pin — the reverse-scoring legs
      // then stream the cached frame through their fan-out join on
      // one core (plan-verified: the 5.1 s single-task stage)
      // (one count fills both pins: semb reads sents)
      val semb = Cached.pin(TextOps.hashEmbed(sents)
        .withColumnRenamed("doc_id", "vec_id")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt), sents)
      (sents, semb)
    }

  // memoized sentence-level IVF-PQ index over the sentence hash
  // embeddings — the served sentence-bitext legs read it; geometry is
  // the √N AUTO rule (r13 — the r12 verdict graded the old nCells=8
  // pin the last corpus-linear scale-killer: nProbe=6 probed 75% of
  // ANY corpus size, 62.8 s at 10×; auto cells keep probed mass
  // ~O(nProbe·√N), the same fix that retired the doc-level twin).
  // The pinned-geometry recall audit lives in SimilaritySpec, which
  // builds its own 8-cell index — the REGISTERED serve path is the
  // production shape
  private def sentAnnIndexOf(s: SparkSession, d: String): String =
    indexOf(s, d, "sentannindex") { p =>
      Similarity.writeAnnIndex(sentFixtureOf(s, d)._2, p)
    }

  // the aggregate-sized host-graph edge frame, shared by the pagerank
  // key (whose unrolled iterative plan references it once per power
  // iteration) — hosts² rows at most, the classic stored-aggregate
  private def hostGraphOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "hostgraph")(Cached.pin(
      WebOps.hostGraph(webPagesOf(s, d, withUrl = true, withHtml = true))))

  private def audioOf(s: SparkSession, d: String) =
    memo(s, d, "audio")(
      Cached.pin(AudioOps.syntheticAudio(t(s, d, "documents"))))

  /** Memoized fused image-profile frame — ONE full-corpus decode per
    * (session, dir) serving the gate (q_image_filter), the ANN bridge
    * (q_image_ann) AND the dHash consumers (via [[imageHashesOf]]) —
    * three separate decode passes before (each ~8 s at the 10×
    * sweep). Gate thresholds are the registry's q_image_filter
    * parameterization; dedup/ANN readers ignore the gate fields.
    */
  private def imageProfilesOf(s: SparkSession, d: String) =
    memo(s, d, "imageprofiles")(Cached.pin(
      MultimodalOps.imageProfile(imagesOf(s, d),
        minSide = 16, minEntropy = 1.2)))

  /** Memoized fused audio-profile frame — one full-corpus WAV decode
    * per (session, dir) serving the gate (q_audio_filter) and the
    * composed media pipeline's audio leg.
    */
  private def audioProfilesOf(s: SparkSession, d: String) =
    memo(s, d, "audioprofiles")(
      Cached.pin(AudioOps.audioProfile(audioOf(s, d))))

  /** Memoized decoded image-hash frame — the compute-once door for
    * the four registry consumers of the corpus's dHashes (pairs,
    * groups, saturation audit, incremental split): decode runs once
    * per session/dir, 16-byte rows are pinned, every consumer reads the
    * cache (the r10 10× sweep measured the per-query re-decode at
    * ~10 s/op on the 10× corpus).
    */
  private def imageHashesOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "imagehashes")(Cached.pin(
      MultimodalOps.imageHashes(imageProfilesOf(s, d))
        .where(org.apache.spark.sql.functions.col("decoded"))
        .select(org.apache.spark.sql.functions.col("docId").as("doc_id"),
          org.apache.spark.sql.functions.col("dhash"))))

  /** Memoized fused per-frame video profile — ONE per-frame JPEG
    * decode per (session, dir) serving the dHash family (via
    * [[videoFrameHashesOf]]), scene-change keyframes and the video
    * ANN bridge (three separate full decodes before; the 10× sweep
    * measured q_video_keyframes alone at 21.5 s).
    */
  private def videoProfilesOf(s: SparkSession, d: String) =
    memo(s, d, "videoprofiles")(
      Cached.pin(VideoOps.videoFrameProfiles(videosOf(s, d))))

  /** Memoized per-frame video hash frame — the video twin of
    * [[imageHashesOf]]: the aligned and warp dedup entries both read
    * it through their precomputed-hash doors, so the per-frame JPEG
    * decode runs once per session/dir instead of once per dedup
    * variant (the warp entry's %3 slice is a FILTER on the cached
    * frame, not a second decode).
    */
  private def videoFrameHashesOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "videoframehashes") {
      import org.apache.spark.sql.functions.col
      Cached.pin(VideoOps.frameHashes(videoProfilesOf(s, d))
        .toDF()
        .select(col("docId").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("fhash")))
    }

  private def videosOf(s: SparkSession, d: String) =
    memo(s, d, "videos")(
      Cached.pin(VideoOps.syntheticVideos(t(s, d, "documents"))))

  /** Memoized container parse of the synthetic clips — the video gate
    * q_video_meta reports and q_media_pipeline composes.
    */
  private def videoMetaOf(s: SparkSession, d: String): DataFrame =
    memo(s, d, "videometa")(
      Cached.pin(VideoOps.videoMeta(videosOf(s, d)).toDF()))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Payments.pricingSummary(t(spark, "/root/testdata/sf0.001", "lineitem"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── §2A reference-domain operators ────────────────────────────
    "q1_agg" -> ((s, d) => Payments.pricingSummary(t(s, d, "lineitem"))),
    "q_payment_latest_status" -> ((s, d) => Payments.latestStatus(t(s, d, "events"))),
    "q_payment_funnel" -> ((s, d) => Payments.funnel(t(s, d, "events"))),
    "q_payment_expiry" -> ((s, d) => Payments.expiryOutcomes(t(s, d, "events"))),
    "q_status_transitions" -> ((s, d) => Payments.transitions(t(s, d, "events"))),
    "q_session_windows" -> ((s, d) => Payments.sessionStats(t(s, d, "events"))),
    "q_poll_sample" -> ((s, d) => Payments.pollSample(t(s, d, "events"))),
    "q_price_adjust" -> ((s, d) => Payments.priceAdjust(t(s, d, "orders"))),
    "q_first_vs_rebill" -> ((s, d) => Payments.firstVsRebill(t(s, d, "orders"))),
    "q_rebill_due" -> ((s, d) => Payments.rebillDue(t(s, d, "orders"))),
    "q_free_trial" -> ((s, d) => Payments.freeTrialSplit(t(s, d, "orders"))),
    "q_xrate_asof" -> ((s, d) => Payments.xrateAsof(t(s, d, "events"))),
    "q_amount_paid" -> ((s, d) => Payments.amountPaid(t(s, d, "events"))),
    "q_rate_ohlc" -> ((s, d) => Payments.rateOhlc(t(s, d, "events"))),
    "q_revenue_rollup" -> ((s, d) => Payments.revenueRollup(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region"))),
    "q_ship_priority" -> ((s, d) => Payments.shipPriority(
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "lineitem"))),
    "q_order_priority" -> ((s, d) => Payments.orderPriority(
      t(s, d, "orders"), t(s, d, "lineitem"))),
    "q_region_volume" -> ((s, d) => Payments.regionVolume(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region"))),
    "q_revenue_cube" -> ((s, d) => Payments.revenueCube(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region"))),
    "q_value_quantiles" -> ((s, d) => Payments.valueQuantiles(t(s, d, "events"))),
    "q_active_users" -> ((s, d) => Payments.activeUsers(t(s, d, "events"))),
    // the join-key skew audit run ahead of a 100 TB join: hottest
    // keys, their share, and the saltedJoin factor they'd want
    "q_skew_report" -> ((s, d) =>
      graft.functions.Skew.skewReport(t(s, d, "events"), "user_id")),
    // approx (100 TB) variants: sketch aggregates, rows-only (HLL++ /
    // Greenwald-Khanna have no DuckDB equivalent); error bounds vs the
    // exact forms are spec-asserted (PaymentsSpec)
    "q_active_users_approx" -> ((s, d) => Payments.activeUsers(t(s, d, "events"), approx = true)),
    "q_value_quantiles_approx" -> ((s, d) => Payments.valueQuantiles(t(s, d, "events"), approx = true)),
    "q_retention" -> ((s, d) => Payments.retention(t(s, d, "events"))),
    "q_top_customers" -> ((s, d) => Payments.topCustomers(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"))),
    "q_invoice_reconcile" -> ((s, d) => Payments.invoiceReconcile(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"))),
    "q_anti_join" -> ((s, d) => Payments.customersWithoutOrders(
      t(s, d, "customer"), t(s, d, "orders"), t(s, d, "nation"))),
    "q_mask_log" -> ((s, d) => Payments.maskLog(t(s, d, "events"))),
    "q_txn_unique" -> ((s, d) => Payments.txnUniqueViolations(t(s, d, "events"))),
    "q_data_quality" -> ((s, d) => Payments.dataQuality(
      t(s, d, "orders"), t(s, d, "lineitem"), t(s, d, "customer"),
      t(s, d, "events"))),
    "q_kanon_revenue" -> ((s, d) => Payments.suppressedRevenue(
      t(s, d, "orders"), t(s, d, "customer"), t(s, d, "nation"))),
    "q_payment_confirm" -> ((s, d) => Payments.confirmAmounts(t(s, d, "events"))),
    "q_secure_lookup" -> ((s, d) => Payments.secureLookup(t(s, d, "orders"))),
    "q_hmac_sign" -> ((s, d) => Payments.hmacSign(t(s, d, "events"))),
    // ── §2B LLM-data-pipeline operators ───────────────────────────
    "q_dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "q_dedup_minhash" -> ((s, d) => Dedup.minhashCandidates(t(s, d, "documents"))),
    "q_dedup_minhash_verified" -> ((s, d) => Dedup.minhashVerifiedPairs(t(s, d, "documents"))),
    "q_dedup_minhash_exactverify" -> ((s, d) => Dedup.minhashExactVerifiedPairs(t(s, d, "documents"))),
    // rows-only (sketch estimates): per-candidate est-vs-true Jaccard
    // error audit; consistency + binomial-bound specs in DedupSpec
    "q_minhash_err" -> ((s, d) => Dedup.minhashEstError(t(s, d, "documents"))),
    "q_dedup_groups" -> ((s, d) => Dedup.dedupGroups(t(s, d, "documents"))),
    "q_dedup_apply" -> ((s, d) => Dedup.dedupApply(t(s, d, "documents"))),
    "q_dedup_rate" -> ((s, d) =>
      Dedup.dedupRateBySource(t(s, d, "documents"))),
    "q_dedup_simhash" -> ((s, d) => Dedup.simhash(t(s, d, "documents"))),
    "q_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(t(s, d, "documents"))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.jaccardPairs(t(s, d, "documents"))),
    // threshold-sensitivity audit: pairs/docs clearing each candidate
    // near-dup cutoff — the tuning curve read before pinning the
    // production threshold
    "q_dedup_sweep" -> ((s, d) => Dedup.dedupSweep(t(s, d, "documents"))),
    "q_containment" -> ((s, d) => Dedup.containmentPairs(t(s, d, "documents"))),
    "q_dup_span" -> ((s, d) => Dedup.dupSpan(t(s, d, "documents"))),
    // rows-only (xxhash64 gram keys have no DuckDB equivalent); the
    // spec asserts result identity with the exact-string path
    "q_dup_span_hashed" -> ((s, d) =>
      Dedup.dupSpan(t(s, d, "documents"), hashGrams = true)),
    "q_dup_span_merge" -> ((s, d) => Dedup.dupSpanMerge(t(s, d, "documents"))),
    "q_cut_spans" -> ((s, d) => Dedup.cutSpans(t(s, d, "documents"))),
    "q_embed_neardup" -> ((s, d) => Similarity.nearDupPairs(t(s, d, "embeddings"))),
    // explicit loose-threshold opt-in: the synthetic embeddings top out
    // at cos ~0.5, so the production default (0.9) would return zero
    // rows; allowDense owns the documented dense enumeration
    "q_embed_neardup_lsh" -> ((s, d) => Similarity.nearDupPairsLsh(
      t(s, d, "embeddings"), threshold = 0.35, nTables = 8, nPlanes = 3,
      allowDense = true)),
    "q_ann_topk" -> ((s, d) => Similarity.annTopK(t(s, d, "embeddings"))),
    "q_embed_outlier" -> ((s, d) => Similarity.embedOutlier(t(s, d, "embeddings"))),
    // oracled via the csv-flattened form: the driver's compare cannot
    // sort an array column (Similarity.quantizeEmbeddingsFlat doc)
    "q_embed_quantize" -> ((s, d) => Similarity.quantizeEmbeddingsFlat(t(s, d, "embeddings"))),
    // oracled via the exploded double form (randomProjectFlat doc);
    // the dense float array is the pipeline API
    "q_random_project" -> ((s, d) => Similarity.randomProjectFlat(t(s, d, "embeddings"))),
    "q_ann_lsh" -> ((s, d) => Similarity.annLsh(t(s, d, "embeddings"))),
    // rows-only (LSH + parquet index round trip): cross-snapshot
    // incremental embedding near-dup — old half's vectors+buckets
    // persist as the LSH index, new half dedups against it; the
    // loose-threshold dense opt-in mirrors q_embed_neardup_lsh (this
    // corpus tops out at cos ~0.5); joint-equality spec in
    // IncrementalDedupSpec
    // rows-only (LSH components): canonical groups over the embedding
    // near-dup graph — rep-graph components, members inherit; the
    // loose-threshold dense opt-in mirrors the pair key;
    // union-find-equivalence spec in SimilaritySpec
    "q_embed_dedup_groups" -> ((s, d) => Similarity.embedDedupGroups(
      t(s, d, "embeddings"), threshold = 0.35, nTables = 8, nPlanes = 3,
      allowDense = true)),
    "q_embed_dedup_incr" -> ((s, d) =>
      Similarity.embedDedupAgainst(s, lshIndexOf(s, d),
        embedHalf(s, d, old = false),
        threshold = 0.35, nTables = 8, nPlanes = 3, allowDense = true)),
    // rows-only (served ANN): train-once/serve-many — the index
    // artifacts (learned IVF centroids + PQ codebooks + encoded
    // corpus) persist via writeAnnIndex ONCE per session/dir (memo);
    // the registered query is the SERVE path only, scoring through
    // the stored artifacts with no Lloyd's/PQ retraining (round-trip
    // equality vs the in-memory build spec'd in SimilaritySpec)
    "q_ann_serve" -> ((s, d) =>
      Similarity.annFromIndex(s, annIndexOf(s, d), t(s, d, "embeddings"))),
    // rows-only (served through the stored index): metadata-filtered
    // vector search — allowed ids semi-join the stored codes BEFORE
    // ADC scoring, so top-k ranks count label-3 candidates only
    // (filter-pushdown + true-filter-identity specs in SimilaritySpec)
    "q_ann_filtered" -> ((s, d) =>
      Similarity.annFromIndex(s, annIndexOf(s, d), t(s, d, "embeddings"),
        candidateFilter = Some(
          org.apache.spark.sql.functions.col("label") === 3))),
    // rows-only (stored Lloyd's centroids): per-cell mass shift of
    // the new embedding half vs the old under the FROZEN stored
    // centroids — the "when do I retrain" audit (hand-computed
    // assignment + dead-cell + TV specs in SimilaritySpec)
    "q_embed_drift" -> ((s, d) =>
      Similarity.embedDrift(s, annIndexOf(s, d),
        embedHalf(s, d, old = true), embedHalf(s, d, old = false))),
    // rows-only (index artifact audit): the read-side health view of
    // the persisted index family — rows / distinct docs / bands /
    // saturation share / hottest-bucket ppm per artifact, payloads
    // never scanned. Five entries over the session's own memoized
    // indexes (band + gram + winnow over documents, LSH + IVF-PQ
    // over embeddings); two-snapshot surgery spec in
    // IncrementalDedupSpec
    "q_index_stats" -> ((s, d) => {
      val band = indexOf(s, d, "bandindex")(
        Dedup.writeBandIndex(t(s, d, "documents"), _))
      val gram = indexOf(s, d, "gramindex")(
        Dedup.writeGramIndex(t(s, d, "documents"), _))
      Dedup.indexStats(s, Seq(
        ("documents_bands", "band", band),
        ("documents_grams", "gram", gram),
        ("documents_winnow", "winnow", winnowIndexOf(s, d)),
        ("embeddings_lsh", "lsh", lshIndexOf(s, d)),
        ("embeddings_ann", "ann", annIndexOf(s, d))))
    }),
    // rows-only (eager index train): the scheduled-retrain door run
    // end-to-end — a stale pinned-64 index is REBUILT fresh each
    // invocation (deterministic precondition: the door must act every
    // time, so reruns in one session return the identical row), then
    // retrainAnnIndexIfDue reads its geometry, RETRAINS at the √N
    // auto rule, and reports the post-state. The seed pin is 64
    // because it sits outside the 2× band at EVERY shipped scale
    // (slice reps: 8/8/15 cells recommended at sf0.001/0.01/0.1, and
    // 64 > 2×15 — the r12 advice caught the old pinned-8 seed
    // agreeing with the √N rule at every scale, so the key only ever
    // benched the read-and-decline no-op); corpus bounded to the
    // vec_id%10 slice (the behavior is the subject here, not train
    // throughput — q_ann_ivfpq_learned measures that); the
    // registration-shape spec asserts retrained=true
    "q_ann_retrain" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val p = indexScratchPath(d, "annretrain")
      val slice = t(s, d, "embeddings").where(col("vec_id") % 10 === 0)
      Similarity.writeAnnIndex(slice, p, nCells = 64)
      Similarity.retrainAnnIndexIfDue(s, p, slice)
    }),
    "q_ann_ivf" -> ((s, d) => Similarity.annIvf(t(s, d, "embeddings"))),
    "q_ann_ivf_learned" -> ((s, d) => Similarity.annIvfLearned(t(s, d, "embeddings"))),
    // rows-only (Lloyd's-trained codebooks are not SQL-expressible);
    // codes flattened to csv for the driver's row sort, recall +
    // reconstruction specs in SimilaritySpec
    "q_pq_encode" -> ((s, d) => Similarity.pqEncodeFlat(t(s, d, "embeddings"))),
    "q_ann_ivfpq" -> ((s, d) => Similarity.annIvfPq(t(s, d, "embeddings"))),
    "q_ann_ivfpq_learned" -> ((s, d) => Similarity.annIvfPqLearned(t(s, d, "embeddings"))),
    "q_kmeans" -> ((s, d) => Similarity.kmeansAssign(t(s, d, "embeddings"))),
    // rows-only (driver Jacobi eigensolve): one-pass moments aggregate
    // + projection onto the top-k axes; fixture/orthonormality/
    // variance-conservation specs in SimilaritySpec
    "q_embed_pca" -> ((s, d) => Similarity.embedPca(t(s, d, "embeddings"))),
    // rows-only (same fit): the explained-variance curve, k bounded rows
    "q_pca_variance" -> ((s, d) => Similarity.pcaVariance(t(s, d, "embeddings"))),
    // rows-only (driver-iterated greedy selection); greedy-invariant
    // + corner-coverage specs in SimilaritySpec
    // rows-only (LSH bucketing): recall@k audit of the approximate
    // path vs the exact baseline as a frame; identity + agreement
    // specs in SimilaritySpec
    "q_ann_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.annRecall(Similarity.annTopK(e), Similarity.annLsh(e))
    }),
    // rows-only: recall@k of the PERSISTED-index serve path
    // (q_ann_serve) vs exact — the production metric, measured on
    // the index a deployment actually queries rather than the
    // in-memory LSH build q_ann_recall audits
    "q_ann_serve_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.annRecall(Similarity.annTopK(e),
        Similarity.annFromIndex(s, annIndexOf(s, d), e))
    }),
    // rows-only (learned cells): label purity per k-means cell;
    // separable-fixture spec in SimilaritySpec
    "q_cluster_purity" -> ((s, d) =>
      Similarity.clusterPurity(t(s, d, "embeddings"))),
    "q_diverse_select" -> ((s, d) =>
      Similarity.diverseSelect(t(s, d, "embeddings"))),
    // rows-only (k-means cells); admitted set re-derived by a local
    // BigDecimal+md5 model in the spec
    "q_cluster_balance" -> ((s, d) =>
      Similarity.clusterBalance(t(s, d, "embeddings"))),
    "q_lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"))),
    // code-block extraction (late r14 s3) — <pre> blocks plus inline
    // <code> scanned over the PRE-STRIPPED page (nested code never
    // double-counts), inner tags stripped, entities decoded after;
    // known-answer oracle enumerates the planted residues hand-decoded
    "q_code_blocks" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.codeBlocks(t(s, d, "documents").withColumn("html",
        TextOps.syntheticCodeHtml(col("doc_id"), col("text"))))
    }),
    // NFKC normalization (late r14 s3) — the SentencePiece-default
    // pre-tokenization fold as a native codegen'd expression; the
    // fixture pairs plain-ASCII and compatibility-damaged spellings
    // of one text, the fold collapses each pair (rows-only — DuckDB
    // ships NFC only; known-answer + collapse specs)
    "q_nfkc_fold" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.nfkcFold(t(s, d, "documents").withColumn("text",
        TextOps.syntheticNfkcText(col("doc_id"))))
    }),
    // Unicode-script composition (late r14 s3) — the pre-lang-ID
    // bucketing signal: per-doc counts over seven script blocks,
    // dominant script (priority CASE on ties), share in ppm; the
    // fixture plants each script on a disjoint residue (id%19=6
    // REPLACES with pure CJK — the dominance flip), oracle mirrors
    // the injection and the \x{...} class counts literally
    "q_script_mix" -> ((s, d) =>
      TextOps.scriptMix(t(s, d, "documents").withColumn("text",
        TextOps.syntheticScript(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))))),
    // the heuristic's accuracy audit: confusion matrix vs the labeled
    // lang column, per-true-lang shares in floored ppm
    "q_lang_confusion" -> ((s, d) => TextOps.langConfusion(t(s, d, "documents"))),
    "q_text_quality" -> ((s, d) => TextOps.textQuality(t(s, d, "documents"))),
    // HTML -> clean-text extraction (the stage published pipelines run
    // before every other text op): the synthetic-markup fixture column
    // wraps each doc's text in a fixed page skeleton, extraction strips
    // script/style/tags and drops nav/ad/footer lines by word-count +
    // link-density — construction AND extraction mirrored literally by
    // the DuckDB oracle (known-answer spec in TextOpsSpec)
    "q_text_extract" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.textExtract(t(s, d, "documents").withColumn("html",
        TextOps.syntheticHtml(col("doc_id"), col("text"))))
    }),
    // rows-only (binary record parse): WARC round trip — the first
    // 500 docs pack into one archive (bounded driver build, memoized
    // per session/dir), WarcSource.docs reads it back through the
    // binaryFile task-per-file path, and every row must carry its
    // packed page verbatim (ok = exact html match); poison tolerance
    // and gzip are spec'd in WarcSourceSpec
    "q_warc_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, length, lit}
      val path = warcFixtureOf(s, d)
      val expected = t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("<html><body><p>"), col("text"),
            lit("</p></body></html>")).as("want_html"),
          concat(lit("http://graft.test/doc/"),
            col("doc_id").cast("string")).as("url"))
        .orderBy("doc_id").limit(500)
      graft.sources.WarcSource.docs(s, path)
        .select(col("url"), col("html"))
        .join(expected, "url")
        .select(col("doc_id"), col("url"),
          length(col("html")).cast("long").as("n_bytes"),
          (col("html") === col("want_html")).as("ok"))
    }),
    // rows-only: the crawl dump end-to-end — WARC archive → docs →
    // hardened extraction; with the reader owned (q_warc_roundtrip)
    // this closes the last gap between a Common-Crawl-shaped file and
    // the curation capstone (composition spec in WarcSourceSpec)
    "q_warc_extract" -> ((s, d) =>
      TextOps.textExtract(
        graft.sources.WarcSource.docs(s, warcFixtureOf(s, d)))),
    // ── web-graph family (r12 session 2): the crawl-level signals
    // published recipes compute BEFORE per-doc text gates — URL
    // canonicalization, URL-level dedup, the host link graph, and
    // fixed-point PageRank; fixtures synthesize the missing url/link
    // columns deterministically and the oracles mirror them literally
    "q_url_normalize" -> ((s, d) =>
      WebOps.urlNormalize(webPagesOf(s, d, withUrl = true))),
    "q_url_dedup" -> ((s, d) =>
      WebOps.urlDedup(webPagesOf(s, d, withUrl = true))),
    // rows-only (punycode is not SQL-expressible in the oracle engine):
    // IDN host folding (r14, r13 verdict missing #5) — each fixture
    // pair is one logical page under its Unicode host and its ACE
    // (xn--) host; with idnFold=true stage-0 URL dedup collapses the
    // pair (group_size 2), without it the forms stay distinct keys.
    // Known-answer (RFC 3490 bücher → xn--bcher-kva) + ASCII-identity
    // + collapse specs in WebOpsSpec
    "q_url_idn" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      WebOps.urlDedup(t(s, d, "documents")
        .withColumn("url", WebOps.syntheticIdnUrl(col("doc_id"))),
        idnFold = true)
    }),
    "q_link_extract" -> ((s, d) =>
      WebOps.linkExtract(webPagesOf(s, d, withHtml = true))),
    "q_host_graph" -> ((s, d) =>
      WebOps.hostGraph(webPagesOf(s, d, withUrl = true, withHtml = true))),
    // PageRank consumes the MEMOIZED host-graph frame: the iterative
    // plan references its edges once per power iteration, so the
    // shared instance keeps the page scan at one pass per session/dir
    // instead of one per iteration — the production shape, where the
    // edge list is a stored aggregate, not a per-query re-extraction.
    // pageRank's ew/nodes pins over it have the same plan on every
    // call (and in q_pagerank_full and q_crawl_budget), so they are
    // made once per session/dir. The returned rank frame is not
    // pinned, so every action still executes the power iterations.
    "q_pagerank" -> ((s, d) => WebOps.pageRank(hostGraphOf(s, d))),
    // the COMPLETED PageRank (r13): dangling mass redistributed (the
    // fixture's ext* sink hosts absorb in the simple variant), deeper
    // iteration with lineage checkpoints every 4 rounds — oracle is
    // the same fixed-point arithmetic as 10 chained CTEs with the
    // dangling term, so checkpointing is value-neutral by hash-match
    "q_pagerank_full" -> ((s, d) =>
      WebOps.pageRank(hostGraphOf(s, d), iters = 10, checkpointEvery = 1,
        redistributeDangling = true)),
    // crawl-budget apportionment (late r14 session 3) — the last
    // crawl-planning stage: totalBudget page fetches across ranked
    // hosts by Hamilton largest-remainder in exact integer arithmetic
    // (floors + one remainder round), off the 5-iter PageRank;
    // sum(quota) == budget EXACTLY. Oracle mirrors the floors and an
    // independent row_number remainder round
    "q_crawl_budget" -> ((s, d) =>
      WebOps.crawlBudget(
        WebOps.pageRank(hostGraphOf(s, d)),
        totalBudget = 100000L, minPerHost = 2L)),
    // the nofollow-honoring link graph (r12 verdict #4: the flag was
    // extracted and nothing read it): rel=nofollow anchors and
    // nofollow-flagged pages drop BEFORE the edge count — the
    // published PageRank-as-quality contract
    "q_host_graph_nofollow" -> ((s, d) =>
      WebOps.hostGraph(webPagesOf(s, d, withUrl = true, withHtml = true),
        honorNofollow = true)),
    "q_anchor_text_nofollow" -> ((s, d) =>
      WebOps.anchorText(webPagesOf(s, d, withHtml = true),
        honorNofollow = true)),
    // robots.txt FILE-level gate (r12 verdict #5): per-host disallow
    // prefixes against canonical paths — per-page verdicts and the
    // per-host scorecard; planted-rules fixture, SQL-oracled
    "q_robots_gate" -> ((s, d) =>
      WebOps.robotsTxtGate(webPagesOf(s, d, withUrl = true),
        WebOps.syntheticRobotsRules(s))),
    "q_robots_audit" -> ((s, d) =>
      WebOps.robotsTxtAudit(webPagesOf(s, d, withUrl = true),
        WebOps.syntheticRobotsRules(s))),
    // robots.txt BODY parser (r13 verdict #4): raw multi-group bodies
    // → (host, prefix) rules. Oracle is the INDEPENDENT range
    // construction (syntheticRobotsRules' mirror) — known-answer
    // against the parse, not a SQL re-implementation of it
    "q_robots_rules" -> ((s, d) =>
      WebOps.robotsTxtRules(WebOps.syntheticRobotsBodies(s))),
    // the raw-bodies COMPOSITION: bodies → rules → gate must
    // hash-match the pre-parsed-rules gate's own oracle end-to-end
    "q_robots_gate_raw" -> ((s, d) =>
      WebOps.robotsTxtGate(webPagesOf(s, d, withUrl = true),
        WebOps.robotsTxtRules(WebOps.syntheticRobotsBodies(s)))),
    // the FULL RFC 9309 longest-match gate (r14): Allow carve-outs
    // honored, the MOST SPECIFIC matching rule decides, Allow wins a
    // length tie; composed from RAW bodies via the withAllow parse —
    // oracle = the independent range construction of both directions
    // plus an independent row_number argmax (the fixture's planted
    // Allow /p/10 on k%4=1 re-admits h9's /p/10* pages that
    // q_robots_gate drops, so the two keys hash-differ by design)
    "q_robots_gate_full" -> ((s, d) =>
      WebOps.robotsTxtGateFull(webPagesOf(s, d, withUrl = true),
        WebOps.robotsTxtRules(WebOps.syntheticRobotsBodies(s),
          withAllow = true))),
    // RFC 9309 §2.2.3 wildcards (late r14): `*` and trailing `$` in
    // rule patterns, longest-pattern-wins against literal rules, on a
    // dedicated extension-bearing URL namespace; the oracle's regexes
    // are HAND-WRITTEN — an independent check on the engine-side
    // pattern translation (escaped '.', widened '*', re-attached '$')
    "q_robots_gate_wildcard" -> ((s, d) =>
      WebOps.robotsTxtGateFull(
        WebOps.syntheticWildcardPages(t(s, d, "documents")),
        WebOps.syntheticRobotsWildcardRules(s))),
    // the full-gate scorecard — the batch audit trail the streaming
    // intake's silent RFC drops point at; n_allow_matched counts the
    // pages a prefix-only gate would have verdicted WRONG
    "q_robots_audit_full" -> ((s, d) =>
      WebOps.robotsTxtAuditFull(
        WebOps.syntheticWildcardPages(t(s, d, "documents")),
        WebOps.syntheticRobotsWildcardRules(s))),
    // sitemap parsing (late r14 — the DISCOVERY half of the crawl
    // front door): raw urlset/sitemapindex bodies → per-entry rows;
    // known-answer oracle (independent range construction incl. the
    // loc whitespace trim)
    "q_sitemap_urls" -> ((s, d) =>
      WebOps.sitemapUrls(WebOps.syntheticSitemapBodies(s))),
    // the coverage audit: declared (sitemap, canonicalized) vs held
    // (crawl, canonicalized) per canonical host — matched / missing
    // (the recrawl frontier) / stray (link-discovery orphans); the
    // listed-side canonicals in the oracle are HAND-WRITTEN (the
    // www/scheme/trailing-slash/%2f folds on declared URLs are part
    // of what is under test)
    "q_crawl_coverage" -> ((s, d) =>
      WebOps.sitemapCoverage(
        WebOps.syntheticWildcardPages(t(s, d, "documents")),
        WebOps.sitemapUrls(WebOps.syntheticSitemapBodies(s)))),
    // the two robots.txt directives the RULES parse filters out
    // (late r14 session 3): Sitemap — group-INDEPENDENT discovery
    // lines, one planted before any group and one inside the star
    // group (position must not matter) — and Crawl-delay — group-
    // scoped politeness seconds (the googlebot group's 9 must NOT
    // leak into agent=*; fractional 2.5 → 2500 ms floored; the
    // non-numeric 'soon' drops). Known-answer oracles (independent
    // range constructions mirroring the fixture residues)
    "q_robots_sitemaps" -> ((s, d) =>
      WebOps.robotsSitemaps(WebOps.syntheticRobotsBodies(s))),
    "q_crawl_delay" -> ((s, d) =>
      WebOps.robotsCrawlDelay(WebOps.syntheticRobotsBodies(s))),
    // politeness-aware fetch scheduler: the frontier ordered per host
    // with earliest-start offsets at the host's declared crawl delay
    // (default 1000 ms where none) — the per-host sequence is the
    // textbook hot-key window, so the rank is TWO-LEVEL (md5-derived
    // bucket splits a hot host's sort into nBuckets tasks); the
    // oracle mirrors the order as ONE row_number over (host ORDER BY
    // bucket, url) — proving the two-level rank equals the global one
    "q_fetch_schedule" -> ((s, d) =>
      WebOps.fetchSchedule(webPagesOf(s, d, withUrl = true),
        WebOps.robotsCrawlDelay(WebOps.syntheticRobotsBodies(s)))),
    // the composed crawler front half: RFC 9309 verdicts drop
    // disallowed URLs BEFORE the scheduler orders what remains — the
    // order a real fetcher actually executes (scheduling a forbidden
    // URL is a wasted politeness slot); bodies→rules→gate→schedule,
    // all four stages the engine's own parsers
    "q_fetch_schedule_gated" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val pages = webPagesOf(s, d, withUrl = true)
      val verdicts = WebOps.robotsTxtGateFull(pages,
        WebOps.robotsTxtRules(WebOps.syntheticRobotsBodies(s),
          withAllow = true))
      WebOps.fetchSchedule(
        pages.join(verdicts.where(!col("disallowed"))
          .select("doc_id"), Seq("doc_id")),
        WebOps.robotsCrawlDelay(WebOps.syntheticRobotsBodies(s)))
    }),
    // recrawl prioritization — coverage's WHAT-is-missing extended
    // with WHEN-is-it-stale: declared lastmod vs the held snapshot's
    // fetched_at per canonical URL → missing / stale / fresh /
    // undeclared (the fixture's lastmods straddle the constant
    // fetch stamp, incl. the equality edge: 2026-03-01 is NOT stale)
    "q_recrawl_priority" -> ((s, d) =>
      WebOps.recrawlPriority(
        WebOps.syntheticWildcardPages(t(s, d, "documents"))
          .withColumn("fetched_at",
            org.apache.spark.sql.functions.lit("2026-03-01")),
        WebOps.sitemapUrls(WebOps.syntheticSitemapBodies(s)))),
    // relative-href resolution (r13 verdict #5): the RFC 3986 §5
    // resolved link layer — raw hrefs resolve against the page's own
    // base URL (dot-relative anchors merge into the base path,
    // protocol-relative anchors take the base scheme), so the edge
    // list gains the same-host and sibling-host links the
    // absolute-only contract dropped; oracles mirror the resolution
    // per fixture anchor class
    "q_link_extract_resolved" -> ((s, d) =>
      WebOps.linkExtract(webPagesOf(s, d, withUrl = true, withHtml = true),
        resolveRelative = true)),
    "q_host_graph_resolved" -> ((s, d) =>
      WebOps.hostGraph(webPagesOf(s, d, withUrl = true, withHtml = true),
        resolveRelative = true)),
    // anchor-text profile per destination host (the retrieval-training
    // link-context signal) and the robots-meta opt-out gate — both
    // over the same linked-page fixture
    "q_anchor_text" -> ((s, d) =>
      WebOps.anchorText(webPagesOf(s, d, withHtml = true))),
    "q_meta_robots" -> ((s, d) =>
      WebOps.metaRobots(webPagesOf(s, d, withHtml = true))),
    // encoding-damage audit: testdata text is clean ASCII, so the
    // fixture plants each damage class on a disjoint residue slice
    // and the untouched majority pins the zero path (oracle mirrors
    // the injection with chr())
    "q_encoding_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      WebOps.encodingAudit(t(s, d, "documents").withColumn("text",
        WebOps.syntheticDamage(col("doc_id"), col("text"))))
    }),
    "q_token_count" -> ((s, d) => TextOps.tokenCount(t(s, d, "documents"))),
    // sentence segmentation (the unit sentence-level dedup / bitext /
    // packing operate on): testdata text is terminator-free, so the
    // fixture plants a period after every 12th word (oracle-mirrored
    // group-ref replace) and the trailing unterminated run pins the
    // no-terminator path on every row
    "q_sent_split" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.sentSplit(t(s, d, "documents").withColumn("text",
        TextOps.syntheticSentences(col("text"))))
    }),
    // Gale-Church length-based alignment (late r14 s3) — the classic
    // doc-aligned bitext segmenter next to the embedding miners: the
    // target side is the SAME segmented doc with mild length noise
    // (doc%3=0), the FIRST sentence deleted on doc%5=1 (forces a 1-0
    // bead) and an extra tail on doc%7=2 (forces a 0-1 bead);
    // rows-only — exhaustive-DP-reference + plant specs in AlignSpec
    "q_align_gale_church" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val sa = TextOps.sentSplit(t(s, d, "documents").withColumn("text",
          TextOps.syntheticSentences(col("text"))))
        .select(col("doc_id"), col("sent_id"), col("sentence"))
      val dropped = sa
        .where(!(pmod(col("doc_id"), lit(5L)) === 1L &&
          col("sent_id") === 0L))
        .withColumn("sent_id",
          when(pmod(col("doc_id"), lit(5L)) === 1L, col("sent_id") - 1)
            .otherwise(col("sent_id")))
        .withColumn("sentence",
          when(pmod(col("doc_id"), lit(3L)) === 0L,
            concat(col("sentence"), lit(" ok")))
            .otherwise(col("sentence")))
      val extra = sa.groupBy("doc_id")
        .agg(max(col("sent_id")).as("mxid"))
        .where(pmod(col("doc_id"), lit(7L)) === 2L)
        .select(col("doc_id"), (col("mxid") + 1).as("sent_id"),
          lit("An extra tail sentence for the alignment fixture.")
            .as("sentence"))
      TextOps.galeChurchAlign(sa, dropped.unionByName(extra))
    }),
    // the C4 §2.2 three-sentence-span rule (r12 verdict #2): every
    // 3-sentence sliding window hashed, the globally first occurrence
    // owns a duplicated span, covered sentences of non-owner
    // occurrences drop. Fixture plants one identical pre-terminated
    // preamble on the id%7=2 slice (cross-doc duplication — the
    // boilerplate case the rule exists for); SQL-oracled end-to-end
    // (lead window + sha256 + min-aggregate ownership mirror literally)
    "q_sent_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.sentSpanDedup(t(s, d, "documents").withColumn("text",
        TextOps.syntheticSentences(
          TextOps.syntheticSpanDupes(col("doc_id"), col("text")))))
    }),
    // the rebuild: kept sentences re-joined per doc (document order),
    // sentence/token tallies — what a curation pass materializes
    "q_sent_dedup_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.sentSpanDedupApply(t(s, d, "documents").withColumn("text",
        TextOps.syntheticSentences(
          TextOps.syntheticSpanDupes(col("doc_id"), col("text")))))
    }),
    // line-level exact dedup (late r14 — the Dolma/RefinedWeb
    // cleaning stage the doc/sentence-span layers both miss): global
    // first-occurrence-keeps over trimmed lines ≥ minChars, short
    // lines exempt; fixture plants a two-line boilerplate block +
    // a short "OK" line on id%9=4
    "q_line_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.lineDedup(t(s, d, "documents").withColumn("text",
        TextOps.syntheticLineDupes(col("doc_id"), col("text"))))
    }),
    "q_line_dedup_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      TextOps.lineDedupApply(t(s, d, "documents").withColumn("text",
        TextOps.syntheticLineDupes(col("doc_id"), col("text"))))
    }),
    // rows-only (hash-embedding geometry): bitext mining at SENTENCE
    // level — the CCMatrix-shaped composition: segment, embed each
    // sentence (model-free hashEmbed stands in for the encoder),
    // margin-mine mutual-best pairs across the lang split; sentence
    // uid = sent_id·1e9 + doc_id so the bounded query batch
    // (q_id < nQueries) selects FIRST sentences of the first docs.
    // Sentence frame + embeddings are MEMOIZED fixtures (the
    // media fixtures' rationale: a real miner reads stored sentence
    // embeddings — the encoder ran once at ingest; re-deriving them
    // per plan reference would measure the fixture, not the miner)
    "q_mine_bitext_sent" -> ((s, d) => {
      val (sents, semb) = sentFixtureOf(s, d)
      Similarity.mineBitext(semb, sents)
    }),
    // rows-only (recall-bounded): the SERVED sentence leg — the same
    // miner off a persisted sentence-level IVF-PQ index (sentence
    // uids in place of doc ids, nothing else changes: the machinery
    // is id-agnostic). r13: the index is the √N AUTO geometry — the
    // r12 verdict graded the old pinned-8/75%-probed registration the
    // last corpus-linear scale-killer (62.8 s at 10×); auto cells
    // keep probed mass ~O(nProbe·√N), the same fix that retired the
    // doc-level twin in r12. Recall holds for what the margin stage
    // keeps (near-identical embeddings land in the query's own probed
    // cell); the pinned-geometry recall audit lives in the spec,
    // which builds its own 8-cell index. nQueries = 100: the sentence
    // corpus is ~7× the doc corpus — the halved batch keeps the
    // registered key's wall in the suite's per-key band while the
    // batching loop (mineBitextAll) remains the documented full-sweep
    "q_mine_bitext_sent_ann" -> ((s, d) => {
      val (sents, semb) = sentFixtureOf(s, d)
      // nProbe=10: the sentence-serve operating point (hash embeddings
      // are IVF's adversarial near-uniform case — recall tracks probed
      // fraction, so the serve probes a few more of the √N cells;
      // probed mass stays sublinear, spec-measured ≥0.8 recall)
      Similarity.mineBitextIndexed(s, sentAnnIndexOf(s, d), semb, sents,
        nQueries = 100, nProbe = 10)
    }),
    // rows-only (hash-embedding geometry): DEDUP-FIRST sentence
    // mining — the production sentence shape (r12 verdict #1).
    // Sentences are the most-duplicated unit in any crawl (boilerplate
    // repeats per PAGE, not per site), so the clone factor that
    // saturates k-NN neighborhoods and collapses the ratio margin is
    // far heavier here than at doc level; each lang side rep-reduces
    // by exact embedding equality before any scoring, rep pairs mine
    // through the standard margin/mutual machinery, members compose
    // back (the doc-level q_mine_bitext_dedup machinery over the
    // sentence frame — id-agnostic by design)
    "q_mine_bitext_sent_dedup" -> ((s, d) => {
      val (sents, semb) = sentFixtureOf(s, d)
      Similarity.mineBitextDeduped(semb, sents, nQueries = 100)
    }),
    // rows-only (recall-bounded): the production sentence SERVE —
    // dedup-first reps mined off the persisted √N-auto sentence
    // index (stored code rows semi-join down to reps, so probe
    // neighborhoods are clone-free at the source AND probed mass is
    // ~O(nProbe·√N)): both sentence-scale fixes composed, the r12
    // verdict's top item
    "q_mine_bitext_sent_dedup_ann" -> ((s, d) => {
      val (sents, semb) = sentFixtureOf(s, d)
      Similarity.mineBitextIndexedDeduped(s, sentAnnIndexOf(s, d),
        semb, sents, nQueries = 100, nProbe = 10)
    }),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprint(t(s, d, "documents"))),
    "q_winnow" -> ((s, d) => TextOps.winnow(t(s, d, "documents"))),
    "q_winnow_pairs" -> ((s, d) => TextOps.winnowPairs(t(s, d, "documents"))),
    // cross-snapshot incremental winnow overlap (r10 — the WINNOW
    // member of the index-seam family): old half's fingerprints play
    // the persisted index (the q_novelty_incr split convention), the
    // new half winnows live and joins the stored ~23-byte fp rows;
    // SQL oracle = the joint winnow-pairs CTE restricted to
    // at-least-one-new-side pairs (doc_b >= cut suffices: doc_a <
    // doc_b, so any new-involving pair has its b side new)
    "q_winnow_incr" -> ((s, d) =>
      TextOps.winnowAgainst(s, winnowIndexOf(s, d),
        docHalf(s, d, old = false))),
    "q_winnow_groups" -> ((s, d) => Dedup.winnowGroups(t(s, d, "documents"))),
    "q_multimodal_meta" -> ((s, d) => TextOps.multimodalMeta(t(s, d, "documents"))),
    // rows-only (binary raster decode is not SQL-expressible): real
    // PNG decode -> dHash -> pigeonhole band join; the testdata has no
    // binary column, so syntheticImages renders one deterministic
    // token-block PNG per doc (exact-dup texts => hamming-0 pairs,
    // near-dup texts => small-hamming pairs); fixture spec in
    // ImageDedupSpec. All four image-family consumers below read the
    // SHARED memoized hash frame (imageHashesOf) through the public
    // precomputed-hash doors — one decode pass per session/dir, not
    // one per invocation (the r10 10x sweep measured the per-query
    // re-decode at ~10s/op on the 10x corpus)
    "q_image_dedup" -> ((s, d) => Dedup.perceptualPairsFrom(
      imageHashesOf(s, d))),
    // rows-only (raster decode): the band-saturation audit over the
    // corpus's image dHashes — the measurement that decides whether
    // the perceptual guard is needed for a hash family
    "q_band_saturation" -> ((s, d) => Dedup.bandSaturation(
      imageHashesOf(s, d))),
    // rows-only (raster decode): canonical groups over the image
    // near-dup graph (components on the distinct-dhash rep edges);
    // union-find-equivalence spec in ImageDedupSpec
    "q_image_dedup_groups" -> ((s, d) => Dedup.perceptualGroups(
      imageHashesOf(s, d))),
    // rows-only (raster decode): cross-snapshot incremental image
    // dedup — old half's dHashes play the persisted index (the
    // q_novelty_incr split convention), new half dedups against it
    // without re-decoding; joint-equality + parquet round-trip specs
    // in IncrementalDedupSpec
    "q_image_dedup_incr" -> ((s, d) => Dedup.perceptualDedupAgainst(
      halfBy(s, d, imageHashesOf(s, d), old = true),
      halfBy(s, d, imageHashesOf(s, d), old = false))),
    // rows-only (raster decode): the multimodal -> ANN bridge — real
    // decode -> luminance histogram -> the embedding family's exact
    // annTopK; ranking fixture in ImageDedupSpec
    "q_image_ann" -> ((s, d) =>
      MultimodalOps.imageAnnTopK(imageProfilesOf(s, d))),
    "q_corpus_clean" -> ((s, d) => TextOps.cleanCorpus(t(s, d, "documents"))),
    // the capstone's attrition funnel (the published-pipeline "data
    // card"): per stage n_in/n_dropped/n_out, exact integers, oracled
    // end-to-end incl. the near-dup stage via the recursive CTE
    // (modulo banding recall — the q_dedup_groups contract)
    "q_curate_report" -> ((s, d) =>
      Curation.curateReport(t(s, d, "documents"))),
    // the funnel WITH the C4 sentence-span stage (r13 verdict #6):
    // fixture plants the q_sent_dedup preamble (id%7=2) PLUS a
    // pure-boilerplate slice (id%11=7 — three identical sentences,
    // exact-dup-distinct via an id-dependent inter-sentence space run)
    // so the sentence stage both rewrites survivors' text (the %7=2
    // tails ride on without their preambles) and fully DROPS the
    // non-owner boilerplate docs — a nonzero attrition row, oracled
    // end-to-end with every downstream stage reading the rebuilt text
    "q_curate_report_sent" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, expr, lit, pmod, when}
      val sp = expr("repeat(' ', CAST(doc_id % 7 + 1 AS INT))")
      Curation.curateReport(
        t(s, d, "documents").withColumn("text",
          when(pmod(col("doc_id"), lit(11L)) === 7L,
            concat(lit("the alpha beta one."), sp,
              lit("the gamma delta two."), sp,
              lit("the epsilon zeta three.")))
            .otherwise(TextOps.syntheticSentences(
              TextOps.syntheticSpanDupes(col("doc_id"), col("text"))))),
        sentenceDedup = true)
    }),
    // the funnel WITH the Dolma/RefinedWeb line stage (late r14):
    // id%11=7 docs are PURE boilerplate — the two stopword-bearing
    // long lines only, exact-dup-distinct via an id-dependent space
    // run before the newline (trim erases it for line identity) — so
    // non-owners keep no line and drop as their own attrition row;
    // id%9=4 docs carry the block as a PREFIX and ride on without it;
    // every downstream stage reads the newline-rebuilt text
    "q_curate_report_lines" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, expr, lit, pmod, when}
      val sp = expr("repeat(' ', CAST(doc_id % 7 + 1 AS INT))")
      val lineA = "please subscribe to the newsletter and share the page today"
      val lineB = "copyright of the example corporation all rights reserved"
      Curation.curateReport(
        t(s, d, "documents").withColumn("text",
          when(pmod(col("doc_id"), lit(11L)) === 7L,
            concat(lit(lineA), sp, lit("\n" + lineB)))
            .when(pmod(col("doc_id"), lit(9L)) === 4L,
              concat(lit(lineA + "\n" + lineB + "\n"), col("text")))
            .otherwise(col("text"))),
        lineDedup = true)
    }),
    "q_pii_scrub" -> ((s, d) => TextOps.piiScrub(t(s, d, "documents"))),
    "q_repetition" -> ((s, d) => TextOps.repetitionRatio(t(s, d, "documents"))),
    "q_top_ngram_frac" -> ((s, d) => TextOps.topNgramFrac(t(s, d, "documents"))),
    "q_unigram_logprob" -> ((s, d) => TextOps.unigramLogProb(t(s, d, "documents"))),
    "q_train_split" -> ((s, d) => TextOps.trainSplit(t(s, d, "documents"))),
    "q_vocab_topk" -> ((s, d) => TextOps.vocabTopK(t(s, d, "documents"))),
    // rows-only (driver-iterated merge training): spec re-derives the
    // merge table with an independent local model (BpeSpec). The
    // learned table is memoized per (session, dir) — training is
    // deterministic and three registry keys read it; re-running the
    // serial argmax rounds per key was pure waste (the fixture-memo
    // rule applied to a driver-trained artifact)
    "q_bpe_learn" -> ((s, d) => bpeMergesOf(s, d)),
    // the unigram-LM (SentencePiece) tokenizer family (late r14
    // session 3) — the OTHER major subword algorithm next to BPE:
    // rows-only (driver-iterated hard-EM training, the bpeLearn
    // precedent); independent-local-model + coverage + determinism
    // specs in UnigramSpec
    "q_unigram_learn" -> ((s, d) => unigramPiecesOf(s, d)),
    "q_unigram_tokens" -> ((s, d) =>
      TextOps.unigramTokens(t(s, d, "documents"),
        unigramPiecesOf(s, d))),
    // serve leg: NEW half under the PERSISTED table trained on the
    // old half — zero training rounds; round-trip spec in UnigramSpec
    "q_unigram_serve" -> ((s, d) =>
      TextOps.unigramTokensFrom(s, unigramIndexOf(s, d),
        docHalf(s, d, old = false))),
    // rows-only (needs the learned table): per-doc fertility under the
    // merges learned on the same corpus
    "q_bpe_tokens" -> ((s, d) =>
      TextOps.bpeTokens(t(s, d, "documents"), bpeMergesOf(s, d))),
    // rows-only: the learned subword inventory with corpus
    // frequencies; conservation spec vs q_bpe_tokens in BpeSpec
    "q_bpe_vocab" -> ((s, d) =>
      TextOps.bpeVocab(t(s, d, "documents"), bpeMergesOf(s, d))),
    // rows-only (the serve leg of driver-iterated training): fertility
    // of the NEW doc half under the PERSISTED tokenizer trained on the
    // old half — zero training rounds on the serve path; round-trip
    // spec in BpeSpec
    "q_bpe_serve" -> ((s, d) =>
      TextOps.bpeTokensFrom(s, bpeIndexOf(s, d),
        docHalf(s, d, old = false))),
    // frozen-LM scoring (the CCNet reference-model shape): new half
    // scored under the PERSISTED old-half bigram model — unseen
    // bigrams take the Laplace floor; SQL oracle recomputes the
    // stored model from the old half
    "q_lm_serve" -> ((s, d) =>
      TextOps.lmScoreFrom(s, lmIndexOf(s, d),
        docHalf(s, d, old = false))),
    // seeded reproducible epoch order: per-shard positions from
    // differently-salted md5 keys of (seed, doc_id) — no RNG state,
    // no global sort. nShards pinned to 8 for the 500-row gate
    // corpus (the oracle's % 8); the library default is the
    // 1024-shard scale geometry
    "q_train_order" -> ((s, d) =>
      Curation.trainOrder(t(s, d, "documents"), seed = 0, nShards = 8)),
    // oracle-checked in the exact regime only: capacity 256 exceeds
    // the gate vocabulary (~31), where Misra-Gries provably never
    // decrements and the summary equals exact counts; the sketch
    // regime is property-spec'd
    "q_heavy_hitters" -> ((s, d) => TextOps.heavyHitters(t(s, d, "documents"))),
    "q_tfidf_top" -> ((s, d) => TextOps.tfidfTop(t(s, d, "documents"))),
    "q_bigram_topk" -> ((s, d) => TextOps.bigramTopK(t(s, d, "documents"))),
    "q_length_hist" -> ((s, d) => TextOps.lengthHist(t(s, d, "documents"))),
    "q_quality_topk" -> ((s, d) => Curation.qualityTopK(t(s, d, "documents"))),
    // rows-only (stage 5's oracle alone is a RECURSIVE CTE; the
    // behavioral contract is spec-asserted stage by stage)
    "q_curate_pipeline" -> ((s, d) => Curation.curateCorpus(t(s, d, "documents"))),
    // rows-only: the capstone behind the MARKUP front door — pages
    // (synthetic wrapper) -> textExtract -> curateCorpus; spec asserts
    // equality with curateCorpus on the word-floor-cleared docs
    "q_extract_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Curation.curateCorpusFromHtml(t(s, d, "documents").select(
        col("doc_id"),
        TextOps.syntheticHtml(col("doc_id"), col("text")).as("html"),
        col("lang"), col("source")))
    }),
    // rows-only (driver-trained logistic weights are not
    // SQL-expressible); determinism + separation spec in CurationSpec
    "q_quality_probe" -> ((s, d) => Curation.probeScore(t(s, d, "documents"))),
    // frozen-classifier serving (the probe member of the
    // train-once/serve-many family): new half scored under the
    // PERSISTED old-half weights — no sampling sort, no gradient
    // rounds on the serve path (plan-audited); round-trip spec in
    // ProbeSpec. The served frame is memoized + persisted ONCE per
    // (session, dir) — the eval and calibration audits read the same
    // instance instead of re-scoring the corpus per key (the
    // bpeMergesOf fixture-memo rule; measured 22.8/26.7 s → agg-only
    // at the 100× sweep)
    "q_probe_serve" -> ((s, d) => probeServedOf(s, d)),
    // rows-only (1 row): confusion counts + tie-corrected rank AUC of
    // the SERVED scores vs the stand-in labels — the classifier's
    // "measure, don't guess" audit; hand-computed fixture + tie
    // specs in ProbeSpec
    "q_probe_eval" -> ((s, d) => Curation.probeEval(probeServedOf(s, d))),
    // rows-only (≤10 rows): reliability buckets of the served scores
    // — observed positive rate vs mean score per decile, exact ppm
    "q_probe_calibration" -> ((s, d) =>
      Curation.probeCalibration(probeServedOf(s, d))),
    "q_decontaminate" -> ((s, d) => Curation.decontaminate(t(s, d, "documents"))),
    // rows-only (xxhash64 join keys have no DuckDB equivalent); the
    // spec asserts result identity with the exact-string path
    "q_decontaminate_hashed" -> ((s, d) =>
      Curation.decontaminate(t(s, d, "documents"), hashShingles = true)),
    // Bloom prefilter + exact confirm: zero false negatives, so the
    // output is identical to q_decontaminate and shares its oracle
    "q_decontaminate_bloom" -> ((s, d) =>
      Curation.decontaminateBloom(t(s, d, "documents"))),
    "q_contam_attribution" -> ((s, d) =>
      Curation.contamAttribution(t(s, d, "documents"))),
    "q_domain_mix" -> ((s, d) => Curation.domainMix(t(s, d, "documents"))),
    "q_mix_weights" -> ((s, d) => Curation.mixWeights(t(s, d, "documents"))),
    // data-constrained epoch planning: per-source repeat factors under
    // a token budget (desired share vs available, capped epochs)
    "q_epoch_plan" -> ((s, d) => Curation.epochPlan(t(s, d, "documents"))),
    // the plan APPLIED: per-doc materialized (doc, epoch) replicas —
    // floor(epochs) copies + one more under the fractional milli
    // hash-admission (the mixApply primitive lifted above 1)
    "q_epoch_apply" -> ((s, d) => Curation.epochApply(t(s, d, "documents"))),
    "q_mix_apply" -> ((s, d) => Curation.mixApply(t(s, d, "documents"))),
    "q_semantic_decontaminate" -> ((s, d) =>
      Curation.semanticDecontaminate(t(s, d, "embeddings"))),
    // rows-only (served through the stored IVF-PQ artifacts): the
    // UNBOUNDED semantic-decontamination scale path — benchmark
    // vectors as range queries against the memoized ANN index, whole
    // corpus as candidates (the bounded broadcast op above stays the
    // correctness baseline; recall-vs-exact spec in CurationSpec)
    "q_semantic_decontaminate_ann" -> ((s, d) =>
      Curation.semanticDecontaminateAnn(s, annIndexOf(s, d),
        t(s, d, "embeddings"))),
    "q_pack_sequences" -> ((s, d) => Curation.packSequences(t(s, d, "documents"))),
    "q_pack_stats" -> ((s, d) => Curation.packStats(t(s, d, "documents"))),
    "q_snapshot_diff" -> ((s, d) => {
      val (o, n) = Curation.snapshotPair(t(s, d, "documents"))
      Curation.snapshotDiff(o, n)
    }),
    // rows-only (composed epoch: index writes + surgery are not
    // SQL-expressible): the incremental crawl epoch end-to-end —
    // diff -> retract-only surgery -> dedupAgainst(changed slice) ->
    // full surgery -> incremental novelty — returning the per-stage
    // scorecard; stage counts spec'd ≡ the standalone operators
    // (IncrementalDedupSpec)
    "q_incr_pipeline" -> ((s, d) => {
      val (o, n) = Curation.snapshotPair(t(s, d, "documents"))
      Dedup.incrEpoch(s, o, n, indexScratchPath(d, "increpoch"))
    }),
    "q_snapshot_drift" -> ((s, d) => {
      val (o, n) = Curation.snapshotPair(t(s, d, "documents"))
      Curation.snapshotDrift(o, n)
    }),
    "q_token_budget" -> ((s, d) => Curation.tokenBudget(t(s, d, "documents"))),
    "q_word_entropy" -> ((s, d) => TextOps.wordEntropy(t(s, d, "documents"))),
    "q_oov_rate" -> ((s, d) => TextOps.oovRate(t(s, d, "documents"))),
    "q_source_overlap" -> ((s, d) => Dedup.sourceOverlap(t(s, d, "documents"))),
    "q_pmi_top" -> ((s, d) => TextOps.pmiTop(t(s, d, "documents"))),
    "q_blocklist" -> ((s, d) => TextOps.blocklistFilter(t(s, d, "documents"))),
    "q_chunk" -> ((s, d) => Curation.tokenChunks(t(s, d, "documents"))),
    // boundaries-only twin: identical chunk identities, chunk_text
    // dropped — the index-rebuild / packing-plan consumer mode whose
    // output volume is a few longs per chunk instead of ~1.3x the
    // corpus (scan-speed at 10x, SURVEY §5b)
    "q_chunk_bounds" -> ((s, d) =>
      Curation.tokenChunks(t(s, d, "documents"), withText = false)),
    "q_split_leakage" -> ((s, d) => Curation.splitLeakage(t(s, d, "documents"))),
    "q_bigram_logprob" -> ((s, d) => TextOps.bigramLogProb(t(s, d, "documents"))),
    // stupid-backoff trigram scoring (late r14 s3, Brants et al.
    // 2007): NEW half scored under OLD-half count tables — the
    // serve-shaped form where both backoff paths are live (a corpus
    // under its own counts never backs off); per-doc path telemetry
    // is the domain-shift audit; oracle mirrors the CASE chain with
    // DOUBLE-cast alpha (DuckDB's bare 0.4 is DECIMAL)
    "q_lm_trigram" -> ((s, d) =>
      TextOps.trigramBackoffScore(docHalf(s, d, old = false),
        docHalf(s, d, old = true))),
    // the persisted-table twin: frozen tri/bi/uni count parquet from
    // the old half, zero reference-corpus passes on the serve path;
    // counting is deterministic, so the oracle is q_lm_trigram's own
    // (the q_lm_serve rule — the stored model recomputes inline)
    "q_lm_trigram_serve" -> ((s, d) =>
      TextOps.trigramScoreFrom(s, trigramIndexOf(s, d),
        docHalf(s, d, old = false))),
    "q_hash_embed" -> ((s, d) => TextOps.hashEmbedSparse(t(s, d, "documents"))),
    "q_zipf_slope" -> ((s, d) => TextOps.zipfSlope(t(s, d, "documents"))),
    // rows-only (driver-iterated k-means centroids); threshold opts
    // DOWN from the 0.9 production default because the synthetic
    // corpus tops out near cos 0.55 (the nearDupPairsLsh precedent)
    "q_semdedup" -> ((s, d) =>
      Similarity.semDeDup(t(s, d, "embeddings"), threshold = 0.4)),
    "q_dsir_score" -> ((s, d) => Curation.dsirScore(t(s, d, "documents"))),
    "q_dsir_select" -> ((s, d) => Curation.dsirSelect(t(s, d, "documents"))),
    // frozen-DSIR scoring (the importance-model member of
    // train-once/serve-many): new half scored under the PERSISTED
    // old-half ratio rows — unseen buckets take the add-one floor
    // through the same rounded-ln expression; oracle recomputes the
    // stored model from the old half (the q_lm_serve convention)
    "q_dsir_serve" -> ((s, d) =>
      Curation.dsirScoreFrom(s, dsirIndexOf(s, d),
        docHalf(s, d, old = false))),
    // contrastive triplet mining for embedding-model training:
    // positives = verified near-dup rep pairs, negatives = the
    // content-hash ring successor (negBuckets pinned 8 for the
    // 500-row gate corpus, the trainOrder nShards convention; the
    // library default is the 65536-bucket scale geometry)
    "q_mine_triplets" -> ((s, d) =>
      Curation.mineTriplets(t(s, d, "documents"), negBuckets = 8)),
    // rows-only (signature-agreement estimates have no DuckDB form):
    // hard negatives — the anchor's most-similar banded candidate
    // strictly below hardMax, ring fallback where none exists
    "q_mine_triplets_hard" -> ((s, d) =>
      Curation.mineTripletsHard(t(s, d, "documents"), negBuckets = 8)),
    // margin-based bitext mining (ratio margin + mutual-best): the
    // exact leg is SQL-oracled end-to-end — the fixed-point k-NN mean
    // makes the margin engine-portable
    "q_mine_bitext" -> ((s, d) =>
      Similarity.mineBitext(t(s, d, "embeddings"), t(s, d, "documents"))),
    // rows-only (recall-bounded candidate set): the same miner served
    // from the persisted IVF-PQ index — both langs' k-NN legs ride
    // stored code rows; recall vs the exact leg is spec-measured
    "q_mine_bitext_ann" -> ((s, d) =>
      Similarity.mineBitextIndexed(s, annIndexOf(s, d),
        t(s, d, "embeddings"), t(s, d, "documents"))),
    // the documented full-sweep batching loop (r12): the src side in
    // 100-id slices, mutual-best over the union — spec-asserted EQUAL
    // to one unbounded run; oracle = the bitext SQL with no query
    // bound (per-pair quantities are batch-independent)
    "q_mine_bitext_all" -> ((s, d) =>
      Similarity.mineBitextAll(t(s, d, "embeddings"),
        t(s, d, "documents"), batchSize = 100)),
    // dedup-first mining (r12): exact-embedding star reduction per
    // side, rep pairs mined, members composed back — the clone-
    // degeneracy fix; SQL-oracled end-to-end (the rep window and
    // member joins mirror literally)
    "q_mine_bitext_dedup" -> ((s, d) =>
      Similarity.mineBitextDeduped(t(s, d, "embeddings"),
        t(s, d, "documents"))),
    // rows-only (recall-bounded): the dedup-first leg served from the
    // persisted index — stored code rows semi-join down to reps, so
    // probe neighborhoods are clone-free at the source
    "q_mine_bitext_dedup_ann" -> ((s, d) =>
      Similarity.mineBitextIndexedDeduped(s, annIndexOf(s, d),
        t(s, d, "embeddings"), t(s, d, "documents"))),
    // rows-only (artifact row counts): read-side health audit over
    // the five persisted MODEL families — the q_index_stats third
    // leg for models; partial writes surface as present=false rows
    "q_model_stats" -> ((s, d) =>
      Curation.modelStats(s, Seq(
        ("documents_lm", "lm", lmIndexOf(s, d)),
        ("documents_bpe", "bpe", bpeIndexOf(s, d)),
        ("documents_probe", "probe", probeIndexOf(s, d)),
        ("documents_dsir", "dsir", dsirIndexOf(s, d)),
        ("embeddings_ann", "ann", annIndexOf(s, d))))),
    "q_source_report" -> ((s, d) => TextOps.sourceReport(t(s, d, "documents"))),
    // fuzzy decontamination: oracle computes TRUE jaccard pairs among
    // md5 reps (the exactverify/split_leakage banding-recall contract)
    "q_decontaminate_fuzzy" -> ((s, d) =>
      Curation.decontaminateFuzzy(t(s, d, "documents"))),
    "q_source_kl" -> ((s, d) => TextOps.sourceKl(t(s, d, "documents"))),
    "q_stratified_sample" -> ((s, d) =>
      Curation.stratifiedSample(t(s, d, "documents"))),
    "q_ccnet_bucket" -> ((s, d) => Curation.ccnetBuckets(t(s, d, "documents"))),
    "q_gopher_gate" -> ((s, d) => TextOps.gopherGate(t(s, d, "documents"))),
    "q_bm25_top" -> ((s, d) => TextOps.bm25Top(t(s, d, "documents"))),
    "q_gram_novelty" -> ((s, d) => Dedup.gramNovelty(t(s, d, "documents"))),
    // rows-only (Datasketches HLL unions have no DuckDB twin): the
    // constant-size-sketch scale path of q_source_overlap; error
    // bound vs the exact frame spec-asserted in DedupSpec
    "q_source_overlap_hll" -> ((s, d) =>
      Dedup.sourceOverlapHll(t(s, d, "documents"))),
    // rows-only (simhash is not SQL-expressible): components over the
    // pigeonhole band edges with distinct-hash rep reduction;
    // direct-path equivalence spec in DedupSpec
    "q_simhash_groups" -> ((s, d) => Dedup.simhashGroups(t(s, d, "documents"))),
    // cross-snapshot incremental novelty: snapshot split at
    // floor(max(doc_id)/2) — the append-only-crawl shape the
    // noveltyAgainst contract targets (SQL-oracled)
    "q_novelty_incr" -> ((s, d) => Dedup.noveltyAgainst(
      Dedup.gramIndex(docHalf(s, d, old = true)),
      docHalf(s, d, old = false))),
    // rows-only (the oracle engine has no zlib): native codegen
    // deflate_len; ordering/determinism specs in ExpressionsSpec
    "q_compress_ratio" -> ((s, d) => TextOps.compressRatio(t(s, d, "documents"))),
    // rows-only (raster decode): gopherGate for images — named-reason
    // gate over the real decode, entropy emitted for re-cutting.
    // minSide 16 / entropy 1.2 fit the 32x32 synthetic block images
    // (~22% low-entropy drop at sf0.01; production defaults assume
    // real photos)
    "q_image_filter" -> ((s, d) =>
      MultimodalOps.imageFilter(imageProfilesOf(s, d))
      .toDF("doc_id", "width", "height", "entropy", "keep", "fail_reasons")),
    // rows-only (binary RIFF decode is not SQL-expressible): the audio
    // leg of the multimodal pillar — the testdata has no binary
    // column, so syntheticAudio renders one deterministic
    // token-segment PCM-16 WAV per doc and the REAL chunk-parse /
    // feature / hash machinery runs over it; fixture specs in
    // AudioOpsSpec
    // envelope is flattened to csv in the REGISTERED view only (the
    // q_embed_quantize precedent: array columns crash the driver's
    // pandas row sort) — pipelines keep the array via
    // AudioOps.extractAudioFeatures directly
    "q_audio_meta" -> ((s, d) => {
      import org.apache.spark.sql.functions.{array_join, col, transform}
      AudioOps.extractAudioFeatures(audioOf(s, d)).toDF(
        "doc_id", "sample_rate", "channels", "n_samples", "duration_ms",
        "rms", "zcr", "silence_ratio", "peak", "decoded", "envelope")
        .withColumn("envelope_csv",
          array_join(transform(col("envelope"), _.cast("string")), ","))
        .drop("envelope")
    }),
    // real decode -> energy-delta hash -> the simhash family's
    // pigeonhole band join. The synthetic clips are all-distinct
    // (texts are), so gainVariants injects re-encoded gain-scaled
    // copies (1/37 of docs) — the volume-normalized-re-upload shape a
    // production corpus carries natively — to keep the match path
    // exercised end-to-end
    "q_audio_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      // the energy hashes come from the memoized profile frames (the
      // precomputed-hash door): the corpus clips' shared profile, and
      // the variants' own, rendered from the 1/37 doc subset directly
      // (gainVariants' own docId filter is idempotent on it, and the
      // synthetic render runs over 1/37 of the corpus)
      val variants = memo(s, d, "audio%37profiles")(Cached.pin(
        AudioOps.audioProfile(AudioOps.gainVariants(AudioOps.syntheticAudio(
          t(s, d, "documents").where(col("doc_id") % lit(37) === 0))))))
      def hashes(p: org.apache.spark.sql.Dataset[AudioOps.AudioProfile]) =
        p.where(col("hashValid")).select(col("docId"), col("ehash"))
      Dedup.perceptualPairsFrom(
        hashes(audioProfilesOf(s, d)).union(hashes(variants)))
    }),
    // gopherGate for clips: named-reason gate over the real decode;
    // duration/rms/peak emitted for re-cutting. Token-free segments
    // render silent, so short docs exercise the silent reason
    // naturally
    "q_audio_filter" -> ((s, d) => AudioOps.audioFilter(
      audioProfilesOf(s, d))
      .toDF("doc_id", "duration_ms", "rms", "peak", "keep", "fail_reasons")),
    // the audio -> ANN bridge: real decode -> 8-bin time-energy
    // envelope -> the embedding family's exact annTopK
    "q_audio_ann" -> ((s, d) => Similarity.annTopK(
      memo(s, d, "audioenvelopes")(
        Cached.pin(AudioOps.envelopes(audioOf(s, d)))))),
    // rows-only (binary AVI parse): REAL video decode — AVI/MJPEG
    // container parse + per-frame JPEG decode; the testdata has no
    // binary column, so syntheticVideos packs one deterministic
    // 6-frame token-block MJPEG per doc; fixture specs in VideoOpsSpec
    "q_video_meta" -> ((s, d) => videoMetaOf(s, d).toDF(
      "doc_id", "width", "height", "n_frames", "fps", "duration_ms",
      "codec", "decoded")),
    // scene-change keyframe selection over real per-frame histograms
    "q_video_keyframes" -> ((s, d) => VideoOps.videoKeyframes(
      videoProfilesOf(s, d))
      .toDF("doc_id", "frame_idx", "delta")),
    // temporal perceptual dedup: per-frame dHash banding + aligned-
    // frame verification (near-dup text families pair up)
    "q_video_dedup" -> ((s, d) => Dedup.videoDedupPairs(
      videoFrameHashesOf(s, d))),
    // warp-robust variant: content-banded candidates + modal-shift
    // re-alignment (catches trimmed/re-timed copies the aligned
    // verification misses). Runs on the deterministic doc_id%3 slice
    // (the q_media_pipeline precedent): q_video_dedup already
    // exercises the full-corpus decode, and the warp machinery's
    // full-corpus behavior is spec- and scale-measured — the
    // registry entry demonstrates the operator, not a second decode
    // of the same rasters
    "q_video_dedup_warp" -> ((s, d) => Dedup.videoDedupPairsWarp(
      videoFrameHashesOf(s, d).filter(org.apache.spark.sql.functions
        .col("doc_id") % 3 === 0),
      maxHamming = 5, minFrac = 0.5, bucketCap = 10000, minVotes = 2)),
    // rows-only (frame decode): the video -> ANN bridge (mean
    // sampled-frame histogram -> annTopK), completing the
    // three-modality symmetry; doc_id%3 slice (q_video_dedup pays
    // the full-corpus decode already)
    "q_video_ann" -> ((s, d) => graft.operators.VideoOps
      .videoAnnTopK(videoProfilesOf(s, d).filter(
        org.apache.spark.sql.functions.col("docId") % 3 === 0))),
    // the composed multimodal capstone (gates -> dedup keep-first per
    // modality, one inventory row per (doc, modality)); runs on the
    // deterministic doc_id%3 slice — the full-corpus variants already
    // run standalone as q_image_*/q_audio_*/q_video_*, so the
    // composition demo does not pay the whole render+decode bill twice
    "q_media_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      // the %3 slice FILTERS the memoized full-corpus PROFILE, META
      // and HASH frames (decode-ZERO door): gates are projections,
      // pairs band-join 16-byte hash rows, no payload is rendered or
      // decoded for this key beyond the session-shared fixture passes
      // (measured 31.7 s → 11.7 s at 10×), and every plan the door
      // pins is the same on a repeat call. Honest trade: a standalone
      // ONLY run still renders the full-corpus fixtures for a 1/3
      // slice — a full-registry run is what this optimizes, and a
      // real corpus scans a payload table instead of rendering
      MediaPipeline.curateMedia(
        imageProfilesOf(s, d).toDF().where(col("docId") % lit(3) === 0),
        audioProfilesOf(s, d).toDF().where(col("docId") % lit(3) === 0),
        videoMetaOf(s, d).where(col("docId") % lit(3) === 0),
        videoFrameHashesOf(s, d).where(col("doc_id") % lit(3) === 0))
    })
  )

  /** DuckDB oracle SQL per SQL-expressible key (SURVEY.md §2 "oracle"
    * column). Omitted (rows-only + ScalaTest specs — xxhash64/hmac,
    * HLL/GK sketches and LSH/IVF bucket configurations have no DuckDB
    * equivalent): q_hmac_sign, q_dedup_minhash, q_dedup_minhash_verified,
    * q_dedup_simhash, q_simhash_pairs, q_fingerprint, q_kmeans,
    * q_ann_lsh, q_ann_ivf, q_ann_ivf_learned, q_embed_neardup_lsh,
    * q_active_users_approx, q_value_quantiles_approx, q_pq_encode,
    * q_ann_ivfpq, q_ann_ivfpq_learned, q_semdedup, q_curate_pipeline,
    * q_quality_probe, q_cluster_balance, q_source_overlap_hll,
    * q_compress_ratio (no zlib in the oracle engine), q_image_dedup,
    * q_image_ann, q_image_filter (raster decode), q_audio_meta,
    * q_audio_dedup, q_audio_filter, q_audio_ann (RIFF decode),
    * q_video_meta, q_video_keyframes, q_video_dedup (AVI/MJPEG decode),
    * q_media_pipeline (composed multimodal decode capstone),
    * q_diverse_select,
    * q_simhash_groups, q_ann_recall, q_cluster_purity, q_ann_retrain
    * (eager Lloyd's/PQ index train), q_mine_bitext_sent and its
    * dedup-first / served twins q_mine_bitext_sent_dedup,
    * q_mine_bitext_sent_ann, q_mine_bitext_sent_dedup_ann
    * (hash-embedding geometry; recall-bounded serve legs).
    *
    * The hashed-key twins ARE oracled: q_dup_span_hashed and
    * q_decontaminate_hashed swap xxhash64 gram keys into the shuffle
    * but produce the identical result frame (spec-asserted equal to
    * the exact variants, 2^-64-collision caveat in their scaladoc), so
    * the exact variants' SQL is their oracle too — DuckDB verifies the
    * OUTPUT, not the internal key representation.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "q_dup_span_hashed" -> oracleSqlBase("q_dup_span"),
    "q_decontaminate_hashed" -> oracleSqlBase("q_decontaminate"),
    "q_decontaminate_bloom" -> oracleSqlBase("q_decontaminate"))

  // ── shared web-graph oracle fragments (r12 session 2): the
  // synthetic-URL / linked-page constructions and the canonicalization
  // chain appear in five oracles — ONE definition each, composed per
  // key, so the mirrors cannot drift apart
  // lazy: defined textually before the CTE fragment it wraps
  private lazy val urlFixtureSql = "WITH " + urlFixtureCteSql

  // the same fixture as a NON-WITH-opening CTE (for oracles that
  // already opened their WITH chain)
  private val urlFixtureCteSql =
    """f AS (
      |  SELECT doc_id, doc_id // 4 AS g,
      |    (CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END) || 'h' ||
      |    CAST((doc_id // 4) % 20 AS VARCHAR) || '.example.com' AS hraw
      |  FROM documents
      |), u AS (
      |""".stripMargin + urlFixtureBodySql

  private lazy val urlFixtureBodySql =
    """  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN upper(hraw) ELSE hraw END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN ':80' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 1 THEN '//p/' ELSE '/p/' END) ||
      |    CAST(g AS VARCHAR) ||
      |    (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0
      |       THEN '?utm_source=feed&v=' || CAST(g % 3 AS VARCHAR) || '&fbclid=x' || CAST(doc_id AS VARCHAR)
      |       ELSE '?v=' || CAST(g % 3 AS VARCHAR) || '&fbclid=x' || CAST(doc_id AS VARCHAR) || '&utm_medium=rss' END) ||
      |    '&w=' || (CASE WHEN doc_id % 3 = 0 THEN '%7E' WHEN doc_id % 3 = 1 THEN '%7e' ELSE '~' END) || CAST(g % 5 AS VARCHAR) ||
      |    '&z=' || (CASE WHEN doc_id % 2 = 0 THEN 'a%2fb' ELSE 'a%2Fb' END) ||
      |    (CASE WHEN doc_id % 3 = 1 THEN '#s' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END) AS url
      |  FROM f
      |)
      |""".stripMargin

  // pctNormalize mirrored: split on '%', rebuild each tail segment
  // from its leading hex pair (decode unreserved / case-fold kept /
  // verbatim when malformed); coalesce because DuckDB v1.0.0's
  // array_to_string of an EMPTY list is NULL, not ''
  private def pnormSqlExpr(c: String): String = {
    val v = "CAST('0x' || upper(substr(s, 1, 2)) AS INT)"
    s"string_split($c, '%')[1] || coalesce(array_to_string(" +
      s"list_transform(string_split($c, '%')[2:], s -> " +
      "CASE WHEN regexp_matches(upper(substr(s, 1, 2)), '^[0-9A-F]{2}$') THEN " +
      s"CASE WHEN ($v BETWEEN 48 AND 57) OR ($v BETWEEN 65 AND 90) " +
      s"OR ($v BETWEEN 97 AND 122) OR $v IN (45, 46, 95, 126) " +
      s"THEN chr($v) || substr(s, 3) " +
      "ELSE '%' || upper(substr(s, 1, 2)) || substr(s, 3) END " +
      "ELSE '%' || s END), ''), '')"
  }

  // resolveHref mirrored (r14): same branch order as the engine —
  // scheme'd pass-through, protocol-relative takes the base scheme,
  // absolute-path / merged relative-path take the base authority,
  // query-only replaces the query, same-document refs resolve to ''.
  // Dot collapse is FIXTURE-DEPTH-BOUNDED here (one /seg/../ pass
  // after a duplicate-slash collapse — the planted refs carry at most
  // one '..'); the engine side is the exact stack with no bound.
  private def resolveHrefSql(base: String, href: String): String = {
    val schemeRaw =
      s"regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)"
    val rest =
      s"regexp_extract($base, '^[A-Za-z][A-Za-z0-9+.\\-]*://(.*)$$', 1)"
    val authority = s"regexp_extract($rest, '^([^/?#]*)', 1)"
    val basePath = s"regexp_extract($rest, '^[^/?#]*([^?#]*)', 1)"
    val baseDir = s"(CASE WHEN regexp_replace($basePath, '[^/]*$$', '')" +
      s" = '' THEN '/' ELSE regexp_replace($basePath, '[^/]*$$', '') END)"
    val refPath = s"regexp_extract($href, '^([^?#]*)', 1)"
    val refQf = s"regexp_extract($href, '^[^?#]*(.*)$$', 1)"
    def rds(p: String) =
      s"regexp_replace(regexp_replace(regexp_replace($p, '/{2,}', '/'," +
        s" 'g'), '/\\.(/|$$)', '/', 'g'), '/[^/]+/\\.\\./', '/')"
    val root = s"$schemeRaw || '://' || $authority"
    s"""(CASE
       |    WHEN regexp_matches($href, '^[A-Za-z][A-Za-z0-9+.\\-]*:') THEN $href
       |    WHEN starts_with($href, '//') THEN $schemeRaw || ':' || $href
       |    WHEN starts_with($href, '/') THEN $root || ${rds(refPath)} || $refQf
       |    WHEN starts_with($href, '?') THEN $root || $basePath || $href
       |    WHEN $href = '' OR starts_with($href, '#') THEN ''
       |    ELSE $root || ${rds(s"($baseDir || $refPath)")} || $refQf END)""".stripMargin
  }

  // sentSpanDedup mirrored end-to-end: the span-dupe plant + the
  // sentence fixture, segmentation (the q_sent_split chain), lead
  // windows for the 3-sentence spans, sha256 over the chr(1)-joined
  // span, row-least (doc_id, sent_id) ownership (the struct-min
  // mirror), covered-sentence removal, keep flags
  private val sentDedupCteSql =
    """WITH synth AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      CASE WHEN doc_id % 7 = 2
      |        THEN 'alpha beta one. gamma delta two. epsilon zeta three. ' || text
      |        ELSE text END,
      |      '((?:\S+\s+){11}\S+)\s+', '\1. ', 'g') AS stext
      |  FROM documents
      |), t AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_extract_all(stext, '[^.!?]+[.!?]*'),
      |      x -> trim(x)), x -> x <> '') AS sents
      |  FROM synth
      |), sx AS (
      |  SELECT doc_id, sents, unnest(range(0, len(sents))) AS sent_id FROM t
      |), se AS (
      |  SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id,
      |    sents[sent_id + 1] AS sentence,
      |    CAST(len(list_filter(string_split_regex(sents[sent_id + 1], '\s+'), w -> w <> '')) AS BIGINT) AS n_tok
      |  FROM sx
      |), sp AS (
      |  SELECT doc_id, sent_id,
      |    sha256(sentence || chr(1) || lead(sentence, 1) OVER w || chr(1) || lead(sentence, 2) OVER w) AS span_hash,
      |    lead(sentence, 2) OVER w AS s2
      |  FROM se WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)
      |), spans AS (
      |  SELECT doc_id, sent_id, span_hash FROM sp WHERE s2 IS NOT NULL
      |), owners AS (
      |  SELECT span_hash, doc_id AS own_doc, sent_id AS own_sent FROM (
      |    SELECT span_hash, doc_id, sent_id,
      |      row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, sent_id) AS rn
      |    FROM spans) WHERE rn = 1
      |), removed AS (
      |  SELECT DISTINCT doc_id, rs FROM (
      |    SELECT doc_id, unnest([sent_id, sent_id + 1, sent_id + 2]) AS rs
      |    FROM spans JOIN owners USING (span_hash)
      |    WHERE NOT (doc_id = own_doc AND sent_id = own_sent))
      |), flags AS (
      |  SELECT se.doc_id, se.sent_id, se.sentence, se.n_tok,
      |    r.rs IS NULL AS keep
      |  FROM se LEFT JOIN removed r
      |    ON se.doc_id = r.doc_id AND se.sent_id = r.rs
      |)
      |""".stripMargin

  // lineDedup mirrored: the planted boilerplate block, newline split
  // with trim + empty drop, positional ids via unnest(range) in its
  // own CTE (the DuckDB v1.0.0 binder rule), global first-occurrence
  // ownership via row_number over (doc_id, line_id) restricted to
  // eligible (≥30 char) lines — the struct-min mirror; grouping is by
  // the LINE itself (the engine's sha256 key is just a grouping key,
  // equal strings group identically either way)
  private val lineDedupCteSql =
    """WITH lsynth AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 4
      |      THEN 'JOIN OUR NEWSLETTER TODAY FOR EXCLUSIVE UPDATES' || chr(10) ||
      |           'Copyright 2026 Example Corp All Rights Reserved' || chr(10) ||
      |           'OK' || chr(10) || text
      |      ELSE text END AS ltext
      |  FROM documents
      |), lt AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split(ltext, chr(10)),
      |      x -> trim(x)), x -> x <> '') AS ls
      |  FROM lsynth
      |), lx AS (
      |  SELECT doc_id, ls, unnest(range(0, len(ls))) AS line_id FROM lt
      |), le AS (
      |  SELECT doc_id, CAST(line_id AS BIGINT) AS line_id,
      |    ls[line_id + 1] AS line
      |  FROM lx
      |), lo AS (
      |  SELECT line, doc_id AS own_doc, line_id AS own_line FROM (
      |    SELECT line, doc_id, line_id,
      |      row_number() OVER (PARTITION BY line ORDER BY doc_id, line_id) AS rn
      |    FROM le WHERE length(line) >= 30) WHERE rn = 1
      |), lflags AS (
      |  SELECT le.doc_id, le.line_id, le.line,
      |    (length(le.line) < 30 OR
      |      (le.doc_id = lo.own_doc AND le.line_id = lo.own_line)) AS keep
      |  FROM le LEFT JOIN lo ON le.line = lo.line
      |)
      |""".stripMargin

  // the wildcard-gate oracle chain shared by the gate and its audit:
  // dedicated URL namespace, hand-written rule regexes (independent
  // of the engine's translation), row_number argmax, ending at the
  // per-page `wverdicts` frame
  private lazy val wildcardGateCteSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    'http://wh' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '/f' || CAST(doc_id % 3 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '.json' ELSE '.html' END) AS url
      |  FROM documents
      |)
      |""".stripMargin + urlCanonSql +
    """, wk AS (SELECT unnest(range(5)) AS k)
      |, wrules AS (
      |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com' AS host, '/*.json$' AS prefix, FALSE AS allow, TRUE AS is_pat, '^/.*\.json$' AS rx FROM wk
      |  UNION ALL
      |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com', '/d/3/', FALSE, FALSE, NULL FROM wk
      |  UNION ALL
      |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com', '/d/3/f*.html$', TRUE, TRUE, '^/d/3/f.*\.html$' FROM wk WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com', '/d/5/', FALSE, FALSE, NULL FROM wk
      |  UNION ALL
      |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com', '/d/5*', TRUE, TRUE, '^/d/5.*' FROM wk
      |), wpp AS (
      |  SELECT doc_id, host,
      |    regexp_extract(url_canonical, '^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path
      |  FROM canon
      |), whits AS (
      |  SELECT doc_id, host, path, prefix, allow,
      |    row_number() OVER (PARTITION BY doc_id, host, path
      |      ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
      |  FROM wpp JOIN wrules USING (host)
      |  WHERE CASE WHEN is_pat THEN regexp_matches(path, rx)
      |        ELSE starts_with(path, prefix) END
      |), wverdicts AS (
      |  SELECT p.doc_id, p.host, p.path,
      |    COALESCE(NOT h.allow, FALSE) AS disallowed,
      |    h.prefix AS matched_prefix, h.allow AS matched_allow
      |  FROM wpp p LEFT JOIN (SELECT * FROM whits WHERE rn = 1) h
      |    ON p.doc_id = h.doc_id AND p.host = h.host AND p.path = h.path
      |)
      |""".stripMargin

  // urlNormalize mirrored: percent-normalize first (pnormSqlExpr),
  // then scheme/host split, www + default-port strip, slash collapse,
  // trailing-slash strip, fragment drop, tracking-param drop + param
  // sort; the RAW url rides through for the output column
  private lazy val urlCanonSql =
    s""", u0 AS (
      |  SELECT doc_id, url, ${pnormSqlExpr("url")} AS urln FROM u
      |), n1 AS (
      |""".stripMargin +
    """  SELECT doc_id, url,
      |    lower(regexp_extract(urln, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
      |    regexp_extract(urln, '^[A-Za-z][A-Za-z0-9+.\-]*://(.*)$', 1) AS rest
      |  FROM u0
      |), n2 AS (
      |  SELECT doc_id, url, scheme,
      |    regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), '^www\.', '') AS hostw,
      |    regexp_extract(rest, '^[^/?#]*(.*)$', 1) AS pqf
      |  FROM n1
      |), n3 AS (
      |  SELECT doc_id, url, scheme,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(hostw, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(hostw, ':443$', '')
      |         ELSE hostw END AS host,
      |    regexp_replace(regexp_extract(pqf, '^([^?#]*)', 1), '/{2,}', '/', 'g') AS cp,
      |    regexp_extract(pqf, '\?([^#]*)', 1) AS rawq
      |  FROM n2
      |), n4 AS (
      |  SELECT doc_id, url, scheme, host,
      |    CASE WHEN cp = '' THEN '/' ELSE cp END AS cp2, rawq
      |  FROM n3
      |), n5 AS (
      |  SELECT doc_id, url, scheme, host,
      |    CASE WHEN length(cp2) > 1 AND cp2 LIKE '%/'
      |      THEN substr(cp2, 1, length(cp2) - 1) ELSE cp2 END AS path,
      |    list_sort(list_filter(string_split(rawq, '&'), p -> p <> ''
      |      AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
      |      AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'ref=')
      |      AND NOT starts_with(p, 'mc_eid='))) AS params
      |  FROM n4
      |), canon AS (
      |  SELECT doc_id, url, host,
      |    scheme || '://' || host || path ||
      |    (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) AS url_canonical
      |  FROM n5
      |)
      |""".stripMargin

  // syntheticLinkedHtml mirrored
  private val linkPageSql =
    """WITH pg AS (
      |  SELECT doc_id,
      |    '<html>' ||
      |    (CASE WHEN doc_id % 9 = 4 THEN '<head><meta name=''robots'' content=''noindex,nofollow''></head>'
      |          WHEN doc_id % 9 = 7 THEN '<head><meta name=''robots'' content=''nofollow''></head>'
      |          WHEN doc_id % 9 = 1 THEN '<head><meta content=noindex name=robots></head>'
      |          ELSE '' END) ||
      |    '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
      |    '<p>' || text || '</p>' || chr(10) ||
      |    '<p>See <a href="http://h' || CAST((doc_id * 6 + 1) % 20 AS VARCHAR) ||
      |    '.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '">doc ' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '</a> and <a href="HTTP://WWW.h' || CAST((doc_id * 13 + 3) % 20 AS VARCHAR) ||
      |    '.EXAMPLE.COM:80//p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '/?utm_source=x">two</a> and <a href=''/local/' || CAST(doc_id % 5 AS VARCHAR) ||
      |    '''>rel</a>' ||
      |    (CASE WHEN doc_id % 4 = 2
      |       THEN ' and <a href=http://ext' || CAST(doc_id % 3 AS VARCHAR) ||
      |            '.example.org/u/' || CAST(doc_id % 50 AS VARCHAR) || '>four</a>'
      |       ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 3
      |       THEN ' and <a href="http://h' || CAST((doc_id * 7 + 2) % 20 AS VARCHAR) ||
      |            '.example.com/n/' || CAST(doc_id % 50 AS VARCHAR) || '" rel=nofollow>five</a>'
      |       ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 1
      |       THEN ' and <a href=''../up/' || CAST(doc_id % 5 AS VARCHAR) || '''>six</a>'
      |       ELSE '' END) ||
      |    (CASE WHEN doc_id % 8 = 5
      |       THEN ' and <a href="//h' || CAST((doc_id * 11 + 7) % 20 AS VARCHAR) ||
      |            '.example.com/pr/' || CAST(doc_id % 50 AS VARCHAR) || '">seven</a>'
      |       ELSE '' END) ||
      |    '.</p></body></html>' AS html
      |  FROM documents
      |)
      |""".stripMargin

  // the r13 tag-scoped extraction mirrored: whole <a> attribute
  // bodies (quote-aware, greedy), then href / rel order-independently
  // from the body — quoted form wins, else the HTML-legal unquoted run
  private val aTagSql =
    """(?is)<a\s((?:[^>"'']|"[^"]*"|''[^'']*'')*)>"""

  // quote-aware anchored attribute scan (the WebOps.attrScan mirror):
  // quoted strings consume atomically, so an attribute name inside
  // ANOTHER attribute's quoted value is unreachable
  private def attrScanSql(name: String): String =
    s"""(?i)^(?:"[^"]*"|''[^'']*''|[^"''\\s]|\\s)*?(?:^|\\s)$name\\s*=\\s*"""

  // matched-delimiter quote alternates (r14 advice — the WebOps
  // .attrValueOf mirror: mismatched ["']...["'] pairs truncated a
  // value holding the other quote char)
  private def attrValSql(attrs: String, name: String): String =
    s"""CASE WHEN regexp_extract($attrs, '${attrScanSql(name)}"([^"]*)"', 1) <> ''
       |  THEN regexp_extract($attrs, '${attrScanSql(name)}"([^"]*)"', 1)
       |  WHEN regexp_extract($attrs, '${attrScanSql(name)}''([^'']*)''', 1) <> ''
       |  THEN regexp_extract($attrs, '${attrScanSql(name)}''([^'']*)''', 1)
       |  ELSE regexp_extract($attrs, '${attrScanSql(name)}([^\\s>"'']+)', 1) END""".stripMargin

  private def relNofollowSql(attrs: String): String =
    s"len(list_filter(string_split_regex(lower(${attrValSql(attrs, "rel")}), " +
      """'\s+'), t -> t = 'nofollow')) > 0"""

  // robotsContentOf mirrored: the FIRST whole tag carrying
  // name=robots (quote-aware body, name alternates close the tag),
  // then the shared quote-aware content extraction from it
  private def robotsContentSql(html: String): String = {
    val a = """(?:[^>"'']|"[^"]*"|''[^'']*'')*"""
    // optional whitespace-terminated body prefix before `name` — the
    // WebOps.robotsContentOf r14 boundary (data-name=robots is NOT a
    // robots directive)
    val tagPat = s"""(?is)<meta\\s(?:${a}\\s)?name\\s*=\\s*(?:"robots"$a>|''robots''$a>|robots[\\s/]$a>|robots>)"""
    attrValSql(s"regexp_extract(lower($html), '$tagPat', 0)", "content")
  }

  private def pageNofollowSql(html: String): String =
    s"len(list_filter(string_split(${robotsContentSql(html)}, ','), " +
      "d -> trim(d) = 'nofollow')) > 0"

  // syntheticRobotsRules mirrored: the per-host disallow table from
  // the same range construction
  // the stupid-backoff oracle text shared by q_lm_trigram and
  // its persisted-table serve twin (deterministic counting makes
  // them hash-equal)
  private lazy val lmTrigramOracle =
    """WITH cut AS (
        |  SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS c FROM documents
        |), olddocs AS (
        |  SELECT * FROM documents WHERE doc_id < (SELECT c FROM cut)
        |), newdocs AS (
        |  SELECT * FROM documents WHERE doc_id >= (SELECT c FROM cut)
        |), otg AS (
        |  SELECT toks[i + 1] AS w1, toks[i + 2] AS w2, toks[i + 3] AS w3
        |  FROM (SELECT toks, unnest(range(len(toks) - 2)) AS i
        |        FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM olddocs)
        |        WHERE len(toks) >= 3)
        |), tri AS (
        |  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n_tri FROM otg GROUP BY 1, 2, 3
        |), obg AS (
        |  SELECT toks[i + 1] AS b1, toks[i + 2] AS b2
        |  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i
        |        FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM olddocs)
        |        WHERE len(toks) >= 2)
        |), bi AS (
        |  SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS n_bi FROM obg GROUP BY 1, 2
        |), ou AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS u
        |  FROM olddocs
        |), uni AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS n_uni FROM ou GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(n_uni) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) AS BIGINT) AS v_ref FROM uni
        |), ntg AS (
        |  SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2, toks[i + 3] AS w3
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM newdocs)
        |        WHERE len(toks) >= 3)
        |), tf AS (
        |  SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM ntg GROUP BY 1, 2, 3, 4
        |), scored AS (
        |  SELECT f.doc_id, f.tf,
        |    CASE WHEN t.n_tri IS NOT NULL THEN 0
        |         WHEN bb.n_bi IS NOT NULL THEN 1 ELSE 2 END AS p,
        |    CASE WHEN t.n_tri IS NOT NULL
        |           THEN CAST(t.n_tri AS DOUBLE) / CAST(bc.n_bi AS DOUBLE)
        |         WHEN bb.n_bi IS NOT NULL
        |           THEN CAST(0.4 AS DOUBLE) * CAST(bb.n_bi AS DOUBLE) / CAST(u2.n_uni AS DOUBLE)
        |         ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
        |           CAST(COALESCE(u3.n_uni, 0) + 1 AS DOUBLE) /
        |           CAST(tot.n_total + tot.v_ref AS DOUBLE) END AS s
        |  FROM tf f
        |  LEFT JOIN tri t ON f.w1 = t.w1 AND f.w2 = t.w2 AND f.w3 = t.w3
        |  LEFT JOIN bi bc ON f.w1 = bc.b1 AND f.w2 = bc.b2
        |  LEFT JOIN bi bb ON f.w2 = bb.b1 AND f.w3 = bb.b2
        |  LEFT JOIN uni u2 ON f.w2 = u2.u
        |  LEFT JOIN uni u3 ON f.w3 = u3.u
        |  CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CASE WHEN p = 0 THEN tf ELSE 0 END) AS BIGINT) AS n_tri_hits,
        |  CAST(SUM(CASE WHEN p = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
        |  CAST(SUM(CASE WHEN p = 2 THEN tf ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(s), 6) AS DECIMAL(12,6))) AS DOUBLE)
        |    / CAST(SUM(tf) AS DOUBLE) AS avg_logprob
        |FROM scored GROUP BY doc_id""".stripMargin

  // the RFC 9309 full-gate verdict CTEs shared by q_robots_gate_full
  // and the gated-schedule composition: both directions from the
  // independent range construction, longest-match argmax as an
  // independent row_number over (len DESC, allow DESC, prefix DESC)
  private val fullGateCteSql =
    """, rules_full AS (
      |  SELECT host, prefix, FALSE AS allow FROM rules
      |  UNION ALL
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host, '/p/10' AS prefix, TRUE AS allow
      |  FROM (SELECT unnest(range(20)) AS k) WHERE k % 4 = 1
      |  UNION ALL
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host, '/open' AS prefix, TRUE AS allow
      |  FROM (SELECT unnest(range(20)) AS k)
      |), ppf AS (
      |  SELECT doc_id, host,
      |    regexp_extract(url_canonical, '^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path
      |  FROM canon
      |), hits AS (
      |  SELECT doc_id, host, path, prefix, allow,
      |    row_number() OVER (PARTITION BY doc_id, host, path
      |      ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn
      |  FROM ppf JOIN rules_full USING (host)
      |  WHERE starts_with(path, prefix)
      |), top1 AS (SELECT * FROM hits WHERE rn = 1)
      |""".stripMargin

  private val robotsRulesSql =
    """, rules AS (
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host, '/p/1' AS prefix
      |  FROM (SELECT unnest(range(20)) AS k) WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host, '/' AS prefix
      |  FROM (SELECT unnest(range(20)) AS k) WHERE k % 5 = 2
      |)
      |""".stripMargin

  // anchorText mirrored: one tag pattern applied twice (attrs group,
  // body group), list_zip aligned by match order, href/rel from the
  // attribute body, the shared pnorm + host chain on the href side;
  // DuckDB's list_zip struct is unnamed — numeric index. honorNofollow
  // mirrors the Spark-side gate (rel token + page-level robots flag).
  private def anchorTextSql(honorNofollow: Boolean): String = {
    val tagPat = """(?is)<a\s((?:[^>"'']|"[^"]*"|''[^'']*'')*)>(.*?)</a>"""
    s""", az AS (
       |  SELECT unnest(list_zip(
       |    regexp_extract_all(html, '$tagPat', 1),
       |    regexp_extract_all(html, '$tagPat', 2))) AS z,
       |    ${pageNofollowSql("html")} AS page_nofollow
       |  FROM pg
       |), ah0 AS (
       |  SELECT ${pnormSqlExpr(s"(${attrValSql("z[1]", "href")})")} AS href,
       |    trim(z[2]) AS anchor,
       |    ${relNofollowSql("z[1]")} AS rel_nofollow,
       |    page_nofollow
       |  FROM az
       |), ah1 AS (
       |  SELECT lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS dscheme,
       |    regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.\\-]*://(.*)$$', 1) AS drest,
       |    anchor, rel_nofollow, page_nofollow
       |  FROM ah0
       |), ah2 AS (
       |  SELECT dscheme, anchor, rel_nofollow, page_nofollow,
       |    regexp_replace(lower(regexp_extract(drest, '^([^/?#]*)', 1)), '^www\\.', '') AS dhostw
       |  FROM ah1
       |), ah AS (
       |  SELECT anchor,
       |    CASE WHEN dscheme = 'http' THEN regexp_replace(dhostw, ':80$$', '')
       |         WHEN dscheme = 'https' THEN regexp_replace(dhostw, ':443$$', '')
       |         ELSE dhostw END AS dst_host
       |  FROM ah2
       |${if (honorNofollow) "  WHERE NOT rel_nofollow AND NOT page_nofollow" else ""}
       |)
       |""".stripMargin
  }

  // hostGraph mirrored: tag-scoped attr extraction, href (quoted or
  // unquoted) + rel from the attribute body, pnorm + the SAME
  // scheme/www/port chain on the anchor side, src host from the
  // canonical URL, one (src, dst) count; honorNofollow mirrors the
  // Spark-side gate
  private def hostEdgeSql(honorNofollow: Boolean): String =
    s""", tags AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(html, '$aTagSql', 1)) AS attrs,
       |    ${pageNofollowSql("html")} AS page_nofollow
       |  FROM pg
       |), links AS (
       |  SELECT doc_id, ${attrValSql("attrs", "href")} AS href,
       |    ${relNofollowSql("attrs")} AS rel_nofollow, page_nofollow
       |  FROM tags
       |), lh AS (
       |  SELECT doc_id, ${pnormSqlExpr("href")} AS href
       |  FROM links
       |  WHERE href <> ''${if (honorNofollow)
             " AND NOT rel_nofollow AND NOT page_nofollow" else ""}
       |), dh1 AS (
       |""".stripMargin +
    """  SELECT doc_id,
      |    lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS dscheme,
      |    regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.\-]*://(.*)$', 1) AS drest
      |  FROM lh
      |), dh2 AS (
      |  SELECT doc_id, dscheme,
      |    regexp_replace(lower(regexp_extract(drest, '^([^/?#]*)', 1)), '^www\.', '') AS dhostw
      |  FROM dh1
      |), dst AS (
      |  SELECT doc_id,
      |    CASE WHEN dscheme = 'http' THEN regexp_replace(dhostw, ':80$', '')
      |         WHEN dscheme = 'https' THEN regexp_replace(dhostw, ':443$', '')
      |         ELSE dhostw END AS dst_host
      |  FROM dh2
      |), edges AS (
      |  SELECT s.host AS src_host, d.dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
      |  FROM canon s JOIN dst d USING (doc_id)
      |  WHERE d.dst_host <> ''
      |  GROUP BY 1, 2
      |)
      |""".stripMargin

  // pageRank mirrored: micro-unit fixed point, floored integer
  // division at the single defined step, `iters` chained CTEs;
  // `dangling = true` adds the equal-redistribution term (the scalar
  // subquery sums the PREVIOUS iteration's rank over nodes with no
  // out-weight — one floored division, identical to the operator's)
  private def pageRankSql(iters: Int, dangling: Boolean = false): String = {
    // the dangling variant references r_{i-1} TWICE per step (inflow
    // join + the dangling-sum subquery): DuckDB v1.0.0 INLINES plain
    // CTEs, so without materialization the chain re-evaluates 2^iters
    // times (measured: the 10-iteration oracle ran away) — AS
    // MATERIALIZED pins each iteration to one evaluation
    val mat = if (dangling) " MATERIALIZED" else ""
    val base =
      s""", nodes AS$mat (
        |  SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
        |), ow AS$mat (
        |  SELECT src_host AS src, SUM(n_links) AS outw FROM edges GROUP BY 1
        |), nn AS (SELECT COUNT(*) AS n FROM nodes
        |), r0 AS (
        |  SELECT host, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
        |)
        |""".stripMargin
    val steps = (1 to iters).map { i =>
      val dangTerm = if (dangling)
        s""" + (SELECT (COALESCE(SUM(r.rank_micro), 0) * 850000) // (1000000 * (SELECT n FROM nn))
           |      FROM r${i - 1} r LEFT JOIN ow o ON r.host = o.src
           |      WHERE o.src IS NULL)""".stripMargin
      else ""
      s""", r$i AS$mat (
         |  SELECT n.host,
         |    CAST(150000 + COALESCE(SUM(c.c), 0)$dangTerm AS BIGINT) AS rank_micro
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst_host AS host,
         |      (r.rank_micro * 850000 * e.n_links) // (1000000 * o.outw) AS c
         |    FROM edges e JOIN ow o ON e.src_host = o.src
         |      JOIN r${i - 1} r ON r.host = e.src_host
         |  ) c ON n.host = c.host
         |  GROUP BY 1
         |)
         |""".stripMargin
    }.mkString
    base + steps
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,3)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST((CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,3))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(4,3))) AS DECIMAL(8,6))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_payment_latest_status" ->
      """SELECT user_id, event_type AS last_status, event_id AS last_event_id
        |FROM (SELECT user_id, event_type, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,
    "q_payment_funnel" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_payment_expiry" ->
      """WITH e AS (
        |  SELECT *, epoch_us(ts) // 1000000 AS ts_sec FROM events
        |  WHERE event_type IN ('signup', 'purchase')
        |), g AS (
        |  SELECT *, last_value(CASE WHEN event_type = 'signup' THEN ts_sec END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_sec
        |  FROM e
        |)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM (SELECT CASE WHEN last_signup_sec IS NULL THEN 'orphan'
        |             WHEN ts_sec - last_signup_sec <= 600 THEN 'processed'
        |             ELSE 'expired' END AS status, value
        |      FROM g WHERE event_type = 'purchase')
        |GROUP BY status""".stripMargin,
    "q_status_transitions" ->
      """SELECT prev_type, curr_type, COUNT(*) AS n
        |FROM (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |             event_type AS curr_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, curr_type""".stripMargin,
    "q_session_windows" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS ts_sec FROM events
        |), w1 AS (
        |  SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec FROM e
        |), w3 AS (
        |  SELECT *, SUM(CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM w1
        |), s AS (
        |  SELECT user_id, sess_id, COUNT(*) AS sess_events FROM w3 GROUP BY 1, 2
        |)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(sess_events) AS BIGINT) AS n_events,
        |  MAX(sess_events) AS max_session_events
        |FROM s GROUP BY user_id""".stripMargin,
    "q_poll_sample" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 10 = 0 GROUP BY event_type""".stripMargin,
    "q_price_adjust" ->
      """SELECT o_orderkey,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.85 AS DECIMAL(3,2)), 2) AS DOUBLE) AS adj_total
        |FROM orders""".stripMargin,
    "q_first_vs_rebill" ->
      """SELECT pay_class, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM (SELECT o_totalprice,
        |        CASE WHEN row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        |             THEN 'first' ELSE 'rebill' END AS pay_class
        |      FROM orders)
        |GROUP BY pay_class""".stripMargin,
    "q_rebill_due" ->
      """SELECT o_custkey, CAST(MAX(o_orderdate) AS DATE) AS last_order_date,
        |  CAST(MAX(o_orderdate) AS DATE) + 30 AS due_date
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "q_free_trial" ->
      """SELECT tier, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM (SELECT o_totalprice,
        |        CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) < CAST(5000 AS DECIMAL(12,2))
        |             THEN 'free_tier' ELSE 'paid' END AS tier
        |      FROM orders)
        |GROUP BY tier""".stripMargin,
    "q_xrate_asof" ->
      """WITH u AS (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN 'KAU' ELSE 'KAG' END AS currency,
        |         ts, event_id, CAST(NULL AS DOUBLE) AS paid, value AS rate, 0 AS is_purchase
        |  FROM events WHERE event_type = 'click' AND value <> 0
        |  UNION ALL
        |  SELECT CASE WHEN event_id % 2 = 0 THEN 'KAU' ELSE 'KAG' END AS currency,
        |         ts, event_id, value AS paid, CAST(NULL AS DOUBLE) AS rate, 1 AS is_purchase
        |  FROM events WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT *, last_value(rate IGNORE NULLS)
        |    OVER (PARTITION BY currency ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_rate
        |  FROM u
        |)
        |SELECT event_id, currency, cur_rate AS rate, paid / cur_rate AS pay_amount
        |FROM g WHERE is_purchase = 1 AND cur_rate IS NOT NULL""".stripMargin,
    "q_amount_paid" ->
      """SELECT currency, COUNT(*) AS n, CAST(SUM(amt) AS DOUBLE) AS total_paid
        |FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 'KAU' ELSE 'KAG' END AS currency,
        |        CAST(value AS DECIMAL(12,2)) * CASE WHEN event_id % 2 = 0
        |          THEN CAST(0.9 AS DECIMAL(2,1)) ELSE CAST(1.1 AS DECIMAL(2,1)) END AS amt
        |      FROM events WHERE event_type = 'purchase')
        |GROUP BY currency""".stripMargin,
    "q_revenue_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q_kanon_revenue" ->
      """SELECT n_name, nc < 5 AS suppressed,
        |  CASE WHEN nc >= 5 THEN nc END AS n_customers,
        |  CASE WHEN nc >= 5 THEN no END AS n_orders,
        |  CASE WHEN nc >= 5 THEN rev END AS revenue
        |FROM (SELECT n_name,
        |        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nc,
        |        CAST(COUNT(*) AS BIGINT) AS no,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |      FROM orders
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      GROUP BY n_name)""".stripMargin,
    "q_active_users" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  COUNT(DISTINCT user_id) AS dau, COUNT(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt
        |  FROM events GROUP BY 1
        |), s AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM c)
        |SELECT key, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(FLOOR(cnt / total * 1000000) AS BIGINT) AS share_ppm,
        |  CAST(FLOOR(cnt / total * n_keys * 1000) AS BIGINT) AS skew_milli,
        |  CAST(LEAST(32, CEIL(cnt / total * n_keys)) AS BIGINT)
        |    AS salt_factor
        |FROM c, s
        |QUALIFY RANK() OVER (ORDER BY cnt DESC, key) <= 20""".stripMargin,
    "q_retention" ->
      """WITH weeks AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 604800 AS week FROM events
        |), first_seen AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1
        |)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT w.user_id) AS n_active
        |FROM (SELECT DISTINCT user_id, week FROM weeks) w
        |JOIN first_seen USING (user_id)
        |WHERE week - cohort_week <= 8
        |GROUP BY 1, 2""".stripMargin,
    "q_ship_priority" ->
      """WITH rev AS (
        |  SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,3)))) AS rev_d
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |    AND c_mktsegment = 'BUILDING'
        |  GROUP BY 1, 2
        |)
        |SELECT l_orderkey, order_date, revenue, rnk
        |FROM (SELECT l_orderkey, order_date, CAST(rev_d AS DOUBLE) AS revenue,
        |        CAST(rank() OVER (ORDER BY rev_d DESC, l_orderkey) AS BIGINT) AS rnk
        |      FROM rev)
        |WHERE rnk <= 10""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_linenumber % 3 = 0)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_region_volume" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS volume
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY r_name, n_name""".stripMargin,
    "q_revenue_cube" ->
      """SELECT r_name, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderstatus)""".stripMargin,
    "q_value_quantiles" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "q_top_customers" ->
      """WITH rev AS (
        |  SELECT n_name, c_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_d
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |)
        |SELECT n_name, c_custkey, revenue, rnk
        |FROM (SELECT n_name, c_custkey, CAST(rev_d AS DOUBLE) AS revenue,
        |        CAST(rank() OVER (PARTITION BY n_name ORDER BY rev_d DESC, c_custkey) AS BIGINT) AS rnk
        |      FROM rev)
        |WHERE rnk <= 3""".stripMargin,
    "q_invoice_reconcile" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, n_name
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')""".stripMargin,
    "q_mask_log" ->
      """SELECT event_id, regexp_replace(props, '[0-9]+', '***', 'g') AS masked_props
        |FROM events""".stripMargin,
    "q_txn_unique" ->
      """SELECT user_id * 1000 + event_id % 1000 AS txn_key,
        |  COUNT(*) AS n_txn, MIN(event_id) AS first_event_id
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin,
    "q_data_quality" ->
      """SELECT 'orphan_lineitem' AS rule, CAST(COUNT(*) AS BIGINT) AS n_violations
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orphan_order_customer', CAST(COUNT(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'dup_lineitem_key', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
        |FROM (SELECT COUNT(*) AS n FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'nonpositive_price', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem WHERE l_extendedprice <= 0
        |UNION ALL
        |SELECT 'negative_event_value', CAST(COUNT(*) AS BIGINT)
        |FROM events WHERE value < 0
        |UNION ALL
        |SELECT 'null_event_user', CAST(COUNT(*) AS BIGINT)
        |FROM events WHERE user_id IS NULL""".stripMargin,
    "q_payment_confirm" ->
      """SELECT event_id, currency,
        |  CAST(amt AS VARCHAR) || ' ' || currency AS amount_paid
        |FROM (SELECT event_id,
        |        CASE WHEN event_id % 2 = 0 THEN 'KAU' ELSE 'KAG' END AS currency,
        |        CAST(ROUND(CAST(value AS DECIMAL(12,2)) * CASE WHEN event_id % 2 = 0
        |          THEN CAST(0.9 AS DECIMAL(2,1)) ELSE CAST(1.1 AS DECIMAL(2,1)) END,
        |          2) AS DECIMAL(12,2)) AS amt
        |      FROM events WHERE event_type = 'purchase')""".stripMargin,
    "q_secure_lookup" ->
      """SELECT md5(CAST(o_orderkey AS VARCHAR)) AS secure_id,
        |  o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS invoice_total
        |FROM orders
        |WHERE md5(CAST(o_orderkey AS VARCHAR)) IN (
        |  SELECT md5(CAST(o_orderkey AS VARCHAR)) FROM orders WHERE o_orderkey % 97 = 0)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_minhash_exactverify" ->
      """WITH reps AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents JOIN reps USING (doc_id)
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM d WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, jaccard
        |FROM (SELECT a_id, b_id,
        |        CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |      FROM inter
        |      JOIN sizes sa ON a_id = sa.doc_id
        |      JOIN sizes sb ON b_id = sb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q_dedup_groups" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |), reps AS (
        |  SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h
        |), dd AS (
        |  SELECT d.doc_id, string_split(d.text, ' ') AS toks
        |  FROM documents d JOIN reps r ON md5(d.text) = r.h AND d.doc_id = r.keep_id
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM dd WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), ex AS (
        |  SELECT bb.doc_id AS e_src, rr.keep_id AS e_dst
        |  FROM base bb JOIN reps rr USING (h) WHERE bb.doc_id <> rr.keep_id
        |), edges AS (
        |  SELECT e_src AS src, e_dst AS dst FROM ex
        |  UNION ALL SELECT e_dst, e_src FROM ex
        |  UNION ALL SELECT a_id, b_id FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM base
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |)
        |SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node""".stripMargin,
    "q_dedup_apply" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |), reps AS (
        |  SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h
        |), dd AS (
        |  SELECT d.doc_id, string_split(d.text, ' ') AS toks
        |  FROM documents d JOIN reps r ON md5(d.text) = r.h AND d.doc_id = r.keep_id
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM dd WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), ex AS (
        |  SELECT bb.doc_id AS e_src, rr.keep_id AS e_dst
        |  FROM base bb JOIN reps rr USING (h) WHERE bb.doc_id <> rr.keep_id
        |), edges AS (
        |  SELECT e_src AS src, e_dst AS dst FROM ex
        |  UNION ALL SELECT e_dst, e_src FROM ex
        |  UNION ALL SELECT a_id, b_id FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM base
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |), grp AS (
        |  SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node
        |), gsz AS (
        |  SELECT group_id, COUNT(*) AS group_size FROM grp GROUP BY 1
        |)
        |SELECT g.doc_id, d.lang, d.source, CAST(s.group_size AS BIGINT) AS group_size
        |FROM grp g
        |JOIN gsz s USING (group_id)
        |JOIN documents d USING (doc_id)
        |WHERE g.doc_id = g.group_id""".stripMargin,
    "q_dedup_rate" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, md5(text) AS h FROM documents
        |), reps AS (
        |  SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h
        |), dd AS (
        |  SELECT d.doc_id, string_split(d.text, ' ') AS toks
        |  FROM documents d JOIN reps r ON md5(d.text) = r.h AND d.doc_id = r.keep_id
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM dd WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), ex AS (
        |  SELECT bb.doc_id AS e_src, rr.keep_id AS e_dst
        |  FROM base bb JOIN reps rr USING (h) WHERE bb.doc_id <> rr.keep_id
        |), edges AS (
        |  SELECT e_src AS src, e_dst AS dst FROM ex
        |  UNION ALL SELECT e_dst, e_src FROM ex
        |  UNION ALL SELECT a_id, b_id FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM base
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |), grp AS (
        |  SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node
        |)
        |SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT g.group_id) AS BIGINT) AS n_groups,
        |  CAST(((COUNT(*) - COUNT(DISTINCT g.group_id)) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM grp g JOIN documents d USING (doc_id)
        |GROUP BY d.source""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 300),
        |toks AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM toks a JOIN toks b
        |    ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, jaccard
        |FROM (SELECT a_id, b_id,
        |        CAST(n_inter AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_inter AS DOUBLE) AS jaccard
        |      FROM inter
        |      JOIN sizes sa ON a_id = sa.doc_id
        |      JOIN sizes sb ON b_id = sb.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin,
    "q_dedup_sweep" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 300),
        |toks AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM toks a JOIN toks b
        |    ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a_id, b_id,
        |    CAST(n_inter AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_inter AS DOUBLE) AS score
        |  FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id
        |), th AS (
        |  SELECT unnest(CAST([0.5, 0.6, 0.7, 0.8, 0.9, 0.95] AS DOUBLE[])) AS threshold
        |), hit AS (
        |  SELECT threshold, a_id, b_id FROM pairs JOIN th ON score >= threshold
        |), np AS (
        |  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM hit GROUP BY 1
        |), nd AS (
        |  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs FROM
        |    (SELECT DISTINCT threshold, doc_id FROM
        |      (SELECT threshold, a_id AS doc_id FROM hit
        |       UNION ALL SELECT threshold, b_id AS doc_id FROM hit))
        |  GROUP BY 1
        |)
        |SELECT th.threshold, COALESCE(n_pairs, 0) AS n_pairs, COALESCE(n_docs, 0) AS n_docs
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""".stripMargin,
    "q_containment" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 300),
        |toks AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM toks a JOIN toks b
        |    ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, containment
        |FROM (SELECT a_id, b_id,
        |        CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.n_tok, sb.n_tok) AS DOUBLE) AS containment
        |      FROM inter
        |      JOIN sizes sa ON a_id = sa.doc_id
        |      JOIN sizes sb ON b_id = sb.doc_id)
        |WHERE containment >= 0.9""".stripMargin,
    "q_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id < 2000
        |)
        |SELECT a_id, b_id, cos_sim
        |FROM (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE cos_sim > 0.35""".stripMargin,
    "q_embed_outlier" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE vec_id < 2000 AND embedding IS NOT NULL
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]),
        |                        x -> x IS NULL OR isnan(x))) = 0
        |), pe AS (
        |  SELECT label, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e
        |), cells AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(floor(v * 1099511627776) AS BIGINT)) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * 1099511627776.0) AS c
        |  FROM pe GROUP BY label, pos
        |), cent AS (
        |  SELECT label, CAST(list(CAST(c AS FLOAT) ORDER BY pos) AS DOUBLE[]) AS centroid
        |  FROM cells GROUP BY label
        |)
        |SELECT vec_id, label, centroid_sim
        |FROM (SELECT e.vec_id, e.label,
        |        ROUND(list_cosine_similarity(e.emb, cent.centroid), 4) AS centroid_sim
        |      FROM e JOIN cent USING (label))
        |WHERE NOT isnan(centroid_sim)""".stripMargin,
    "q_random_project" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]),
        |                        x -> x IS NULL OR isnan(x)
        |                          OR abs(x) >= 8388608.0)) = 0
        |), pe AS (
        |  SELECT vec_id, i, CAST(floor(emb[i + 1] * 1048576) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, emb, unnest(range(len(emb))) AS i FROM e)
        |), terms AS (
        |  SELECT vec_id, j,
        |    CASE WHEN CAST('0x' || substr(md5('rp:' || i || ':' || j), 1, 8) AS BIGINT) % 2 = 0
        |         THEN qv ELSE -qv END AS t
        |  FROM pe CROSS JOIN (SELECT unnest(range(16)) AS j)
        |)
        |SELECT vec_id, CAST(j AS BIGINT) AS out_pos,
        |  CAST(SUM(t) AS DOUBLE) / 1048576.0 AS val
        |FROM terms GROUP BY vec_id, j""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT q_id, c.vec_id AS n_id,
        |    ROUND(list_cosine_similarity(q_emb, CAST(c.embedding AS DOUBLE[])), 4) AS cos_sim
        |  FROM q JOIN embeddings c ON q_id <> c.vec_id
        |)
        |SELECT q_id, n_id, cos_sim, rnk
        |FROM (SELECT *, CAST(rank() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rnk
        |      FROM s)
        |WHERE rnk <= 5""".stripMargin,
    "q_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
        |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |       WHEN s_es > 0 THEN 'es'
        |       ELSE 'unknown' END AS pred_lang,
        |  s_en, s_de, s_fr, s_es
        |FROM (SELECT doc_id,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS s_en,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS s_de,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','est','dans'))) AS s_fr,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('el','los','y','es','con'))) AS s_es
        |      FROM documents)""".stripMargin,
    "q_lang_confusion" ->
      """WITH pred AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
        |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |         WHEN s_es > 0 THEN 'es'
        |         ELSE 'unknown' END AS pred_lang
        |  FROM (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS s_en,
        |          len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS s_de,
        |          len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','est','dans'))) AS s_fr,
        |          len(list_filter(string_split(text, ' '), t -> t IN ('el','los','y','es','con'))) AS s_es
        |        FROM documents)
        |), cells AS (
        |  SELECT d.lang, p.pred_lang, COUNT(*) AS n
        |  FROM documents d JOIN pred p USING (doc_id)
        |  GROUP BY 1, 2
        |), totals AS (SELECT lang, SUM(n) AS n_lang FROM cells GROUP BY 1)
        |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
        |  CAST(FLOOR(n / n_lang * 1000000) AS BIGINT) AS share_ppm
        |FROM cells JOIN totals USING (lang)""".stripMargin,
    // known-answer: the planted blocks per residue, contents
    // HAND-DECODED (the entity decode and inner-tag strip are what is
    // under test); the nested pre+code doc yields ONE pre row
    "q_code_blocks" ->
      """WITH raw AS (
        |  SELECT doc_id, 'pre' AS kind, CAST(0 AS BIGINT) AS block_id,
        |    'def f(x):' || chr(10) || '  return x < 1' || chr(10) AS content
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'pre',
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT),
        |    'nested > block'
        |  FROM documents WHERE doc_id % 5 = 2
        |  UNION ALL
        |  SELECT doc_id, 'code', CAST(0 AS BIGINT), 'a && b'
        |  FROM documents WHERE doc_id % 4 = 1
        |)
        |SELECT doc_id, kind, block_id, content,
        |  CAST(len(string_split(content, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(length(content) AS BIGINT) AS n_chars
        |FROM raw""".stripMargin,
    // the script injection mirrored as chained CASEs (same UTF-8
    // literals), counts as the length-minus-stripped idiom over the
    // \x{...} ranges both regex engines share, dominance as the same
    // priority CASE chain
    "q_script_mix" ->
      """WITH s0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 6 THEN '中文網頁的內容測試' ELSE text END AS t
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 1 THEN t || ' Яркая' ELSE t END AS t FROM s0
        |), s2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 2 THEN t || ' 中文' ELSE t END AS t FROM s1
        |), s3 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 3 THEN t || ' γειά' ELSE t END AS t FROM s2
        |), s4 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 4 THEN t || ' مرحبا' ELSE t END AS t FROM s3
        |), s5 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 17 = 5 THEN t || ' 한국어 देव' ELSE t END AS t FROM s4
        |), c AS (
        |  SELECT doc_id,
        |    length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS n_latin,
        |    length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
        |    length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]', '', 'g')) AS n_greek,
        |    length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS n_cjk,
        |    length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic,
        |    length(t) - length(regexp_replace(t, '[\x{AC00}-\x{D7AF}]', '', 'g')) AS n_hangul,
        |    length(t) - length(regexp_replace(t, '[\x{0900}-\x{097F}]', '', 'g')) AS n_devanagari
        |  FROM s5
        |), m AS (
        |  SELECT *,
        |    n_latin + n_cyrillic + n_greek + n_cjk + n_arabic + n_hangul + n_devanagari AS n_script,
        |    greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_hangul, n_devanagari) AS n_dominant
        |  FROM c
        |)
        |SELECT doc_id, CAST(n_latin AS BIGINT) AS n_latin,
        |  CAST(n_cyrillic AS BIGINT) AS n_cyrillic,
        |  CAST(n_greek AS BIGINT) AS n_greek,
        |  CAST(n_cjk AS BIGINT) AS n_cjk,
        |  CAST(n_arabic AS BIGINT) AS n_arabic,
        |  CAST(n_hangul AS BIGINT) AS n_hangul,
        |  CAST(n_devanagari AS BIGINT) AS n_devanagari,
        |  CAST(n_script AS BIGINT) AS n_script,
        |  CAST(n_dominant AS BIGINT) AS n_dominant,
        |  CASE WHEN n_dominant = 0 THEN 'none'
        |       WHEN n_latin = n_dominant THEN 'latin'
        |       WHEN n_cyrillic = n_dominant THEN 'cyrillic'
        |       WHEN n_greek = n_dominant THEN 'greek'
        |       WHEN n_cjk = n_dominant THEN 'cjk'
        |       WHEN n_arabic = n_dominant THEN 'arabic'
        |       WHEN n_hangul = n_dominant THEN 'hangul'
        |       ELSE 'devanagari' END AS dominant_script,
        |  (n_dominant * 1000000) // greatest(n_script, 1) AS dominant_ppm
        |FROM m""".stripMargin,
    "q_text_quality" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars_c) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS chars_per_token,
        |  CAST(SUM(n_punct) AS DOUBLE) / CAST(SUM(n_chars_c) AS DOUBLE) AS punct_ratio,
        |  CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS stopword_ratio
        |FROM (SELECT source,
        |        length(text) AS n_chars_c,
        |        len(string_split(text, ' ')) AS n_tok,
        |        length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS n_stop
        |      FROM documents)
        |GROUP BY source""".stripMargin,
    "q_token_count" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws_tok) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(re_tok) AS BIGINT) AS bpe_tokens
        |FROM (SELECT lang,
        |        len(string_split(text, ' ')) AS ws_tok,
        |        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS re_tok
        |      FROM documents)
        |GROUP BY lang""".stripMargin,
    // mirrors syntheticHtml + textExtract literally: same adversarial
    // page skeleton (uppercase script with '<' in its body, comment,
    // CDATA, attribute '>', entities, unclosed footer), same hardened
    // strip chain ((?is) dotall non-greedy script/style, comment/CDATA
    // drop, quote-aware tag bodies), same entity decode, same
    // word-floor + link-density line rule
    "q_text_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><SCRIPT type="text/javascript">if(t<9){x="<div>hidden</div>"};var m=function(){return aa.bb&&cc.dd(ee)};track(''' || CAST(doc_id AS VARCHAR) ||
        |    ''');</SCRIPT><style>.m{color:red}</style></head><body>' || chr(10) ||
        |    '<!-- <p>commented prose that must never leak out</p> -->' || chr(10) ||
        |    '<nav><a href=''/''>Home</a> | <a href=''/a''>About</a> | <a href=''/c''>Contact</a> | <a href=''/l''>Login</a></nav>' || chr(10) ||
        |    '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
        |    '<p>' || text || '</p>' || chr(10) ||
        |    '<div data-note="5 > 3" class=''ad''>Sponsored: buy now</div>' || chr(10) ||
        |    '<p>Caf&#233;&nbsp;&amp; bar &lt;3&gt; deal</p>' || chr(10) ||
        |    '<![CDATA[ raw <markup> inside ]]>' || chr(10) ||
        |    '<footer>(c)&#xA9; 2026 Example Corp' || chr(10) ||
        |    '</body></html>' AS html
        |  FROM documents),
        |s0 AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g'),
        |                '(?is)<style.*?</style>', ' ', 'g'),
        |              '(?s)<!\[CDATA\[.*?\]\]>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?i)<a(\s(?:[^>"'']|"[^"]*"|''[^'']*'')*)?>', chr(1), 'g'),
        |        '(?i)</a>|</?(b|i|em|strong|span|u|code)(\s(?:[^>"'']|"[^"]*"|''[^'']*'')*)?>', '', 'g'),
        |      '<(?:[^>"'']|"[^"]*"|''[^'']*'')*>', chr(10), 'g') AS t0
        |  FROM h),
        |s AS (
        |  SELECT doc_id,
        |    replace(
        |      regexp_replace(
        |        replace(replace(replace(replace(replace(replace(t0,
        |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |          '&#39;', ''''), '&#34;', '"'), '&nbsp;', ' '),
        |        '&#[xX]?[0-9a-fA-F]+;', ' ', 'g'),
        |      '&amp;', '&') AS t
        |  FROM s0),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |      x -> trim(x)), x -> x <> '') AS all_lines
        |  FROM s),
        |c AS (
        |  SELECT doc_id, all_lines,
        |    list_filter(all_lines, x ->
        |      len(list_filter(string_split_regex(x, '[^A-Za-z]+'),
        |        w -> len(w) > 0)) >= 5
        |      AND CAST(len(x) - len(replace(x, chr(1), '')) AS DOUBLE) <=
        |        0.34 * len(list_filter(string_split_regex(x, '[^A-Za-z]+'),
        |          w -> len(w) > 0))) AS content_lines
        |  FROM l)
        |SELECT doc_id,
        |  CAST(len(all_lines) AS BIGINT) AS n_lines,
        |  CAST(len(content_lines) AS BIGINT) AS n_content_lines,
        |  CAST(len(all_lines) - len(content_lines) AS BIGINT) AS n_boilerplate_lines,
        |  round(CAST(length(replace(array_to_string(content_lines, ' '), chr(1), '')) AS DOUBLE) /
        |    CAST(greatest(length(replace(array_to_string(all_lines, ' '), chr(1), '')), 1) AS DOUBLE), 6) AS kept_ratio,
        |  replace(array_to_string(content_lines, ' '), chr(1), '') AS extract
        |FROM c""".stripMargin,
    // ── web-graph family: each oracle mirrors the deterministic
    // fixture construction (syntheticUrl / syntheticLinkedHtml) AND
    // the canonicalization chain literally, the q_text_extract rule
    "q_url_normalize" -> (urlFixtureSql + urlCanonSql +
      "SELECT doc_id, url, host, url_canonical FROM canon"),
    "q_url_dedup" -> (urlFixtureSql + urlCanonSql +
      """SELECT doc_id, url_canonical,
        |  CAST(MIN(doc_id) OVER (PARTITION BY url_canonical) AS BIGINT) AS canonical_doc,
        |  CAST(COUNT(*) OVER (PARTITION BY url_canonical) AS BIGINT) AS group_size,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY url_canonical) AS keep
        |FROM canon""".stripMargin),
    "q_link_extract" -> (linkPageSql +
      s""", tags AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(html, '$aTagSql', 1)) AS attrs
         |  FROM pg
         |)
         |SELECT doc_id, href FROM (
         |  SELECT doc_id, ${attrValSql("attrs", "href")} AS href FROM tags)
         |WHERE href <> ''""".stripMargin),
    "q_host_graph" -> (linkPageSql + ", " + urlFixtureCteSql + urlCanonSql +
      hostEdgeSql(false) +
      "SELECT src_host, dst_host, n_links FROM edges"),
    "q_host_graph_nofollow" -> (linkPageSql + ", " + urlFixtureCteSql +
      urlCanonSql + hostEdgeSql(true) +
      "SELECT src_host, dst_host, n_links FROM edges"),
    "q_pagerank" -> (linkPageSql + ", " + urlFixtureCteSql + urlCanonSql +
      hostEdgeSql(false) + pageRankSql(5) +
      "SELECT host, rank_micro FROM r5"),
    "q_pagerank_full" -> (linkPageSql + ", " + urlFixtureCteSql +
      urlCanonSql + hostEdgeSql(false) +
      pageRankSql(10, dangling = true) +
      "SELECT host, rank_micro FROM r10"),
    // Hamilton apportionment over the 5-iter ranks: integer floors,
    // then the leftover distributed by an INDEPENDENT row_number over
    // (remainder DESC, host) — exact-sum arithmetic mirrors bit-level
    // rb/bw/bq/bl are MATERIALIZED and the per-row scalars ride a
    // CROSS JOIN: DuckDB v1.0.0 INLINES plain CTEs, so the first cut
    // re-evaluated the whole 5-iteration pagerank chain once per
    // scalar-subquery reference (measured 247.9 s at sf0.1 — the one
    // oracle outlier of the round); pinned, it times like its
    // neighbors (the pageRankSql dangling-variant precedent)
    "q_crawl_budget" -> (linkPageSql + ", " + urlFixtureCteSql +
      urlCanonSql + hostEdgeSql(false) + pageRankSql(5) +
      """, rb AS MATERIALIZED (
        |  SELECT host, rank_micro FROM r5 WHERE rank_micro > 0
        |), bw AS MATERIALIZED (
        |  SELECT SUM(rank_micro) AS tw, COUNT(*) AS n FROM rb
        |), bq AS MATERIALIZED (
        |  SELECT host, rank_micro AS wt,
        |    ((100000 - 2 * w.n) * rank_micro) // w.tw AS fl,
        |    ((100000 - 2 * w.n) * rank_micro) % w.tw AS rem
        |  FROM rb CROSS JOIN bw w
        |), bl AS MATERIALIZED (
        |  SELECT (100000 - 2 * (SELECT n FROM bw)) - SUM(fl) AS leftover FROM bq
        |), br AS (
        |  SELECT host, wt, fl, rem,
        |    row_number() OVER (ORDER BY rem DESC, host) AS rk
        |  FROM bq
        |)
        |SELECT host, wt,
        |  CAST(2 + fl + (CASE WHEN rk <= (SELECT leftover FROM bl) THEN 1 ELSE 0 END) AS BIGINT) AS quota
        |FROM br""".stripMargin),
    "q_anchor_text" -> (linkPageSql + anchorTextSql(false) +
      """SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS n
        |FROM ah WHERE dst_host <> '' GROUP BY 1, 2""".stripMargin),
    "q_anchor_text_nofollow" -> (linkPageSql + anchorTextSql(true) +
      """SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS n
        |FROM ah WHERE dst_host <> '' GROUP BY 1, 2""".stripMargin),
    "q_robots_gate" -> (urlFixtureSql + urlCanonSql + robotsRulesSql +
      """, pp AS (
        |  SELECT doc_id, host,
        |    regexp_extract(url_canonical, '^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path
        |  FROM canon
        |)
        |SELECT doc_id, host, path,
        |  COALESCE(MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(path, r.prefix) THEN TRUE ELSE FALSE END), FALSE) AS disallowed,
        |  MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(path, r.prefix) THEN r.prefix END) AS matched_prefix
        |FROM pp LEFT JOIN rules r USING (host)
        |GROUP BY 1, 2, 3""".stripMargin),
    "q_robots_audit" -> (urlFixtureSql + urlCanonSql + robotsRulesSql +
      """, pp AS (
        |  SELECT doc_id, host,
        |    regexp_extract(url_canonical, '^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path
        |  FROM canon
        |), gate AS (
        |  SELECT doc_id, host,
        |    COALESCE(MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(path, r.prefix) THEN TRUE ELSE FALSE END), FALSE) AS disallowed
        |  FROM pp LEFT JOIN rules r USING (host)
        |  GROUP BY 1, 2
        |)
        |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
        |  CAST(COUNT(*) FILTER (WHERE disallowed) AS BIGINT) AS n_disallowed,
        |  (COUNT(*) FILTER (WHERE disallowed) * 1000000) // COUNT(*) AS disallowed_ppm
        |FROM gate GROUP BY 1""".stripMargin),
    // known-answer oracle: the INDEPENDENT range construction (the
    // parse is the thing under test; re-implementing it in SQL would
    // only prove it agrees with itself)
    "q_robots_rules" -> ("WITH seed AS (SELECT 1)" + robotsRulesSql +
      "SELECT host, prefix FROM rules"),
    // the raw-bodies composition must hash-match the PRE-PARSED gate's
    // own oracle — rules here are the direct range construction, the
    // Spark side parses them out of the planted bodies first
    "q_robots_gate_raw" -> (urlFixtureSql + urlCanonSql + robotsRulesSql +
      """, pp AS (
        |  SELECT doc_id, host,
        |    regexp_extract(url_canonical, '^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS path
        |  FROM canon
        |)
        |SELECT doc_id, host, path,
        |  COALESCE(MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(path, r.prefix) THEN TRUE ELSE FALSE END), FALSE) AS disallowed,
        |  MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(path, r.prefix) THEN r.prefix END) AS matched_prefix
        |FROM pp LEFT JOIN rules r USING (host)
        |GROUP BY 1, 2, 3""".stripMargin),
    // full RFC 9309 gate: both directions from the independent range
    // construction (disallows = the shared rules CTE; the planted
    // Allow /p/10 on k%4=1 and the universal Allow: /open mirror
    // syntheticRobotsBodies' star group), argmax by an INDEPENDENT
    // row_number over (len DESC, allow DESC, prefix DESC) — the
    // lexicographic-struct-max mirror
    "q_robots_gate_full" -> (urlFixtureSql + urlCanonSql + robotsRulesSql +
      fullGateCteSql +
      """SELECT p.doc_id, p.host, p.path,
        |  COALESCE(NOT h.allow, FALSE) AS disallowed,
        |  h.prefix AS matched_prefix, h.allow AS matched_allow
        |FROM ppf p LEFT JOIN top1 h
        |  ON p.doc_id = h.doc_id AND p.host = h.host AND p.path = h.path""".stripMargin),
    // the composed crawler front half: full-gate verdicts filter the
    // frontier BEFORE the scheduler orders it — allowed canonicals
    // only, same two-level-vs-global row_number proof as the plain
    // schedule oracle
    "q_fetch_schedule_gated" -> (urlFixtureSql + urlCanonSql +
      robotsRulesSql + fullGateCteSql +
      """, allowed AS (
        |  SELECT p.doc_id
        |  FROM ppf p LEFT JOIN top1 h
        |    ON p.doc_id = h.doc_id AND p.host = h.host AND p.path = h.path
        |  WHERE NOT COALESCE(NOT h.allow, FALSE)
        |), cu AS (
        |  SELECT DISTINCT host, url_canonical
        |  FROM canon JOIN allowed USING (doc_id)
        |), cb AS (
        |  SELECT host, url_canonical,
        |    CAST('0x' || substr(md5(url_canonical), 1, 2) AS INT) % 32 AS bucket
        |  FROM cu
        |), dl AS (
        |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |    CASE WHEN k % 2 = 0 THEN 2500 ELSE 1000 END AS d
        |  FROM (SELECT unnest(range(20)) AS k)
        |), sq AS (
        |  SELECT c.host, c.url_canonical,
        |    row_number() OVER (PARTITION BY c.host
        |      ORDER BY c.bucket, c.url_canonical) AS seq,
        |    COALESCE(dl.d, 1000) AS delay_ms
        |  FROM cb c LEFT JOIN dl ON c.host = dl.host
        |)
        |SELECT host, url_canonical, CAST(seq AS BIGINT) AS seq,
        |  CAST(delay_ms AS BIGINT) AS delay_ms,
        |  CAST((seq - 1) * delay_ms AS BIGINT) AS fetch_at_ms
        |FROM sq""".stripMargin),
    // wildcard rules: the dedicated URL namespace mirrored, rules as
    // the same range construction but with HAND-WRITTEN regexes (the
    // engine derives its regex from the pattern — an independent
    // translation check); unnest kept in its own CTE (DuckDB v1.0.0
    // binder limitation with unnest+JOIN in one SELECT)
    "q_robots_gate_wildcard" -> (wildcardGateCteSql +
      """SELECT doc_id, host, path, disallowed, matched_prefix, matched_allow
        |FROM wverdicts""".stripMargin),
    // the per-host scorecard over the full gate — the batch audit
    // trail the streaming intake's silent RFC drops point at;
    // n_allow_matched counts pages whose DECIDING rule was an Allow
    "q_robots_audit_full" -> (wildcardGateCteSql +
      """SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
        |  CAST(COUNT(*) FILTER (WHERE disallowed) AS BIGINT) AS n_disallowed,
        |  CAST(COUNT(*) FILTER (WHERE matched_allow) AS BIGINT) AS n_allow_matched,
        |  (COUNT(*) FILTER (WHERE disallowed) * 1000000) // COUNT(*) AS disallowed_ppm
        |FROM wverdicts GROUP BY 1""".stripMargin),
    // known-answer: the independent range construction of every
    // sitemap entry, loc ALREADY TRIMMED (the parse under test strips
    // the planted indentation), absent lastmod as ''
    "q_sitemap_urls" ->
      """WITH wk AS (SELECT unnest(range(5)) AS k)
        |SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com' AS host, 'url' AS kind,
        |  'http://wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f1.html' AS loc,
        |  '2026-0' || CAST(k + 1 AS VARCHAR) || '-01' AS lastmod
        |FROM wk WHERE k <> 3
        |UNION ALL
        |SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com', 'url',
        |  'HTTP://WWW.wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f9.html/', ''
        |FROM wk WHERE k <> 3
        |UNION ALL
        |SELECT 'wh2.example.com', 'url', 'http://wh2.example.com/sp%2face', ''
        |UNION ALL
        |SELECT 'wh3.example.com', 'sitemap', 'http://wh3.example.com/sitemap-0.xml', ''""".stripMargin,
    // crawled side = the wildcard-pages construction through the ONE
    // canonical chain; listed side = HAND-WRITTEN canonicals of the
    // declared URLs (scheme-lower/www-strip/trailing-slash/%2f-fold
    // applied by hand — known-answer on the listed-side
    // canonicalization); FULL OUTER on (host, canonical) → host agg
    "q_crawl_coverage" -> ("""WITH u AS (
        |  SELECT doc_id,
        |    'http://wh' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '/f' || CAST(doc_id % 3 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '.json' ELSE '.html' END) AS url
        |  FROM documents
        |)
        |""".stripMargin + urlCanonSql +
      """, crawled AS (
        |  SELECT DISTINCT host, url_canonical AS u FROM canon
        |), wk AS (SELECT unnest(range(5)) AS k)
        |, listed AS (
        |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |    'http://wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f1.html' AS u
        |  FROM wk WHERE k <> 3
        |  UNION ALL
        |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com',
        |    'http://wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f9.html'
        |  FROM wk WHERE k <> 3
        |  UNION ALL
        |  SELECT 'wh2.example.com', 'http://wh2.example.com/sp%2Face'
        |), cov AS (
        |  SELECT COALESCE(cr.host, li.host) AS host,
        |    cr.u AS cu, li.u AS lu
        |  FROM crawled cr FULL OUTER JOIN listed li
        |    ON cr.host = li.host AND cr.u = li.u
        |)
        |SELECT host,
        |  CAST(COUNT(*) FILTER (WHERE lu IS NOT NULL) AS BIGINT) AS n_listed,
        |  CAST(COUNT(*) FILTER (WHERE cu IS NOT NULL) AS BIGINT) AS n_crawled,
        |  CAST(COUNT(*) FILTER (WHERE lu IS NOT NULL AND cu IS NOT NULL) AS BIGINT) AS n_matched,
        |  CAST(COUNT(*) FILTER (WHERE lu IS NOT NULL AND cu IS NULL) AS BIGINT) AS n_missing,
        |  CAST(COUNT(*) FILTER (WHERE cu IS NOT NULL AND lu IS NULL) AS BIGINT) AS n_stray,
        |  (COUNT(*) FILTER (WHERE lu IS NOT NULL AND cu IS NOT NULL) * 1000000)
        |    // greatest(COUNT(*) FILTER (WHERE lu IS NOT NULL), 1) AS coverage_ppm
        |FROM cov GROUP BY 1""".stripMargin),
    // known-answer: every host's top-of-file sitemap plus the k%6=2
    // in-group one (position-independent per sitemaps.org)
    "q_robots_sitemaps" ->
      """WITH rk AS (SELECT unnest(range(20)) AS k)
        |SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |  'http://h' || CAST(k AS VARCHAR) || '.example.com/sitemap.xml' AS sitemap_url
        |FROM rk
        |UNION ALL
        |SELECT 'h' || CAST(k AS VARCHAR) || '.example.com',
        |  'http://h' || CAST(k AS VARCHAR) || '.example.com/sitemap-news.xml'
        |FROM rk WHERE k % 6 = 2""".stripMargin,
    // known-answer: the star group's delay per residue (2.5 s floored
    // to 2500 ms on even k, 1 s otherwise); the googlebot group's 9
    // and the non-numeric 'soon' never surface under agent=*
    "q_crawl_delay" ->
      """WITH rk AS (SELECT unnest(range(20)) AS k)
        |SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE WHEN k % 2 = 0 THEN 2500 ELSE 1000 END AS BIGINT) AS crawl_delay_ms
        |FROM rk""".stripMargin,
    // the two-level (bucket-offset + per-bucket rank) sequence must
    // equal ONE global row_number over (host ORDER BY bucket, url) —
    // the oracle computes exactly that, with the same md5-derived
    // bucket (DuckDB's md5 and Spark's agree; hex → int via the
    // '0x' cast the pnorm mirror already relies on)
    "q_fetch_schedule" -> (urlFixtureSql + urlCanonSql +
      """, cu AS (
        |  SELECT DISTINCT host, url_canonical FROM canon
        |), cb AS (
        |  SELECT host, url_canonical,
        |    CAST('0x' || substr(md5(url_canonical), 1, 2) AS INT) % 32 AS bucket
        |  FROM cu
        |), dl AS (
        |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |    CASE WHEN k % 2 = 0 THEN 2500 ELSE 1000 END AS d
        |  FROM (SELECT unnest(range(20)) AS k)
        |), sq AS (
        |  SELECT c.host, c.url_canonical,
        |    row_number() OVER (PARTITION BY c.host
        |      ORDER BY c.bucket, c.url_canonical) AS seq,
        |    COALESCE(dl.d, 1000) AS delay_ms
        |  FROM cb c LEFT JOIN dl ON c.host = dl.host
        |)
        |SELECT host, url_canonical, CAST(seq AS BIGINT) AS seq,
        |  CAST(delay_ms AS BIGINT) AS delay_ms,
        |  CAST((seq - 1) * delay_ms AS BIGINT) AS fetch_at_ms
        |FROM sq""".stripMargin),
    // crawled side = the wildcard construction through the canonical
    // chain at a constant fetch stamp; listed side = hand-written
    // canonicals + lastmods; FULL OUTER, CASE per class (strictly-
    // greater comparison: the lastmod EQUAL to the stamp is fresh)
    "q_recrawl_priority" -> ("""WITH u AS (
        |  SELECT doc_id,
        |    'http://wh' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/d/' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '/f' || CAST(doc_id % 3 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '.json' ELSE '.html' END) AS url
        |  FROM documents
        |)
        |""".stripMargin + urlCanonSql +
      """, crawled AS (
        |  SELECT DISTINCT host, url_canonical, '2026-03-01' AS fetched_at FROM canon
        |), wk AS (SELECT unnest(range(5)) AS k)
        |, listed AS (
        |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com' AS host,
        |    'http://wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f1.html' AS lu,
        |    '2026-0' || CAST(k + 1 AS VARCHAR) || '-01' AS lastmod
        |  FROM wk WHERE k <> 3
        |  UNION ALL
        |  SELECT 'wh' || CAST(k AS VARCHAR) || '.example.com',
        |    'http://wh' || CAST(k AS VARCHAR) || '.example.com/d/' || CAST(k AS VARCHAR) || '/f9.html', ''
        |  FROM wk WHERE k <> 3
        |  UNION ALL
        |  SELECT 'wh2.example.com', 'http://wh2.example.com/sp%2Face', ''
        |), j AS (
        |  SELECT COALESCE(c.host, l.host) AS host,
        |    COALESCE(c.url_canonical, l.lu) AS url_canonical,
        |    l.lastmod, c.fetched_at
        |  FROM crawled c FULL OUTER JOIN listed l
        |    ON c.host = l.host AND c.url_canonical = l.lu
        |)
        |SELECT host, url_canonical, lastmod, fetched_at,
        |  CASE WHEN fetched_at IS NULL THEN 'missing'
        |       WHEN lastmod IS NULL THEN 'undeclared'
        |       WHEN lastmod > fetched_at THEN 'stale'
        |       ELSE 'fresh' END AS status
        |FROM j""".stripMargin),
    // unnest stays in its own single-table CTE (DuckDB v1.0.0's binder
    // hits an INTERNAL error on unnest combined with a JOIN in one
    // SELECT); the base-url join happens after extraction
    "q_link_extract_resolved" -> (linkPageSql + ", " + urlFixtureCteSql +
      s""", tags AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(html, '$aTagSql', 1)) AS attrs
         |  FROM pg
         |), raw0 AS (
         |  SELECT doc_id, ${attrValSql("attrs", "href")} AS href
         |  FROM tags
         |), raw1 AS (
         |  SELECT r.doc_id, u.url, r.href
         |  FROM raw0 r JOIN u USING (doc_id) WHERE r.href <> ''
         |), res AS (
         |  SELECT doc_id, ${resolveHrefSql("url", "href")} AS href
         |  FROM raw1
         |)
         |SELECT doc_id, href FROM res WHERE href <> ''""".stripMargin),
    "q_host_graph_resolved" -> (linkPageSql + ", " + urlFixtureCteSql +
      urlCanonSql +
      s""", tags AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(html, '$aTagSql', 1)) AS attrs
         |  FROM pg
         |), raw0 AS (
         |  SELECT doc_id, ${attrValSql("attrs", "href")} AS href
         |  FROM tags
         |), raw1 AS (
         |  SELECT r.doc_id, u.url, r.href
         |  FROM raw0 r JOIN u USING (doc_id) WHERE r.href <> ''
         |), res AS (
         |  SELECT doc_id, ${resolveHrefSql("url", "href")} AS rhref
         |  FROM raw1
         |), lh AS (
         |  SELECT doc_id, ${pnormSqlExpr("rhref")} AS href
         |  FROM res WHERE rhref <> ''
         |), dh1 AS (
         |""".stripMargin +
      """  SELECT doc_id,
        |    lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS dscheme,
        |    regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.\-]*://(.*)$', 1) AS drest
        |  FROM lh
        |), dh2 AS (
        |  SELECT doc_id, dscheme,
        |    regexp_replace(lower(regexp_extract(drest, '^([^/?#]*)', 1)), '^www\.', '') AS dhostw
        |  FROM dh1
        |), dst AS (
        |  SELECT doc_id,
        |    CASE WHEN dscheme = 'http' THEN regexp_replace(dhostw, ':80$', '')
        |         WHEN dscheme = 'https' THEN regexp_replace(dhostw, ':443$', '')
        |         ELSE dhostw END AS dst_host
        |  FROM dh2
        |)
        |SELECT s.host AS src_host, d.dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
        |FROM canon s JOIN dst d USING (doc_id)
        |WHERE d.dst_host <> ''
        |GROUP BY 1, 2""".stripMargin),
    "q_sent_split" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:\S+\s+){11}\S+)\s+', '\1. ', 'g') AS stext
        |  FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_extract_all(stext, '[^.!?]+[.!?]*'),
        |      x -> trim(x)), x -> x <> '') AS sents
        |  FROM synth
        |), s AS (
        |  SELECT doc_id, sents, unnest(range(0, len(sents))) AS sent_id FROM t
        |)
        |SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id,
        |  sents[sent_id + 1] AS sentence,
        |  CAST(len(list_filter(string_split_regex(sents[sent_id + 1], '\s+'), w -> w <> '')) AS BIGINT) AS n_tok
        |FROM s""".stripMargin,
    "q_sent_dedup" -> (sentDedupCteSql +
      "SELECT doc_id, sent_id, sentence, n_tok, keep FROM flags"),
    "q_sent_dedup_apply" -> (sentDedupCteSql +
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents,
        |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(n_tok) FILTER (WHERE keep), 0) AS BIGINT) AS kept_tokens,
        |  COALESCE(array_to_string(list(sentence ORDER BY sent_id) FILTER (WHERE keep), ' '), '') AS text_clean
        |FROM flags GROUP BY doc_id""".stripMargin),
    "q_line_dedup" -> (lineDedupCteSql +
      "SELECT doc_id, line_id, line, keep FROM lflags"),
    "q_line_dedup_apply" -> (lineDedupCteSql +
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(length(line)) FILTER (WHERE keep), 0) AS BIGINT) AS kept_chars,
        |  COALESCE(array_to_string(list(line ORDER BY line_id) FILTER (WHERE keep), chr(10)), '') AS text_clean
        |FROM lflags GROUP BY doc_id""".stripMargin),
    "q_meta_robots" -> (linkPageSql +
      s"""SELECT doc_id, robots,
         |  len(list_filter(string_split(robots, ','), d -> trim(d) = 'noindex')) > 0 AS noindex,
         |  len(list_filter(string_split(robots, ','), d -> trim(d) = 'nofollow')) > 0 AS nofollow
         |FROM (SELECT doc_id, ${robotsContentSql("html")} AS robots
         |  FROM pg)""".stripMargin),
    "q_encoding_audit" ->
      """WITH dmg AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 7 THEN t2 || chr(7) ELSE t2 END AS text
        |  FROM (SELECT doc_id,
        |      CASE WHEN doc_id % 11 = 5 THEN t1 || ' x' || chr(65533) ELSE t1 END AS t2
        |    FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 3
        |          THEN text || ' caf' || chr(195) || chr(169) || ' and ' ||
        |               chr(226) || chr(8364) || chr(339) || 'quote'
        |          ELSE text END AS t1
        |      FROM documents))
        |), cnt AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS n_replacement,
        |    CAST(length(text) - length(replace(text, chr(195), '')) AS BIGINT) AS n_double_utf8,
        |    CAST((length(text) - length(replace(text, chr(226) || chr(8364), ''))) // 2 AS BIGINT) AS n_win1252,
        |    CAST(length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_ctrl,
        |    CAST(greatest(length(text), 1) AS BIGINT) AS len_c
        |  FROM dmg)
        |SELECT doc_id, n_replacement, n_double_utf8, n_win1252, n_ctrl,
        |  CAST(((n_replacement + n_double_utf8 + n_win1252 + n_ctrl) * 1000000) // len_c AS BIGINT) AS damage_ppm
        |FROM cnt""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  (['jpeg', 'png', 'webp'])[CAST(octet_length(encode(text)) % 3 + 1 AS INT)] AS format,
        |  CAST(320 + (octet_length(encode(text)) * 7) % 1600 AS BIGINT) AS width,
        |  CAST(240 + (octet_length(encode(text)) * 13) % 840 AS BIGINT) AS height,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin,
    "q_corpus_clean" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, source,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |    md5(text) AS text_hash
        |  FROM documents
        |), filtered AS (
        |  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM scored WHERE n_tok >= 10 AND stop_ratio >= 0.05
        |)
        |SELECT doc_id, lang, source, n_tok FROM filtered WHERE rn = 1""".stripMargin,
    "q_curate_report" ->
      """WITH RECURSIVE sc AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |    md5(text) AS text_hash,
        |    (doc_id % 10 = 0) AS is_bench
        |  FROM documents
        |), cleaned AS (
        |  SELECT doc_id, text_hash FROM sc
        |  WHERE NOT is_bench AND n_tok >= 10 AND stop_ratio >= 0.05
        |), rn AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM cleaned
        |), ek AS (SELECT doc_id FROM rn WHERE rn = 1),
        |gtoks AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |), grep1 AS (
        |  SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rep
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks2) - 1),
        |          i -> toks2[i + 1] || ' ' || toks2[i + 2])) AS bigram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM documents)
        |        WHERE len(toks2) >= 2)
        |  GROUP BY doc_id
        |), gbase AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |         (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_distinct(list_filter(ts,
        |      t -> t IN ('the','a','of','and','is')))) AS BIGINT) AS n_stop
        |  FROM gtoks WHERE len(ts) > 0
        |), gk AS (
        |  SELECT doc_id FROM gbase LEFT JOIN grep1 USING (doc_id)
        |  WHERE (n_tok >= 50 AND n_tok <= 100000)
        |    AND (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
        |    AND (CAST(n_sym AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.1)
        |    AND (CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.8)
        |    AND (n_stop >= 2)
        |    AND (COALESCE(rep, 0.0) <= 0.3)
        |), dsh AS (
        |  SELECT DISTINCT doc_id, shingle
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), dbench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT DISTINCT doc_id FROM dsh JOIN dbench USING (shingle)
        |  WHERE doc_id % 10 <> 0
        |), decon AS (
        |  SELECT doc_id FROM ek JOIN gk USING (doc_id)
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        |), nsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents JOIN decon USING (doc_id))
        |  WHERE len(toks) >= 3
        |), nsz AS (SELECT doc_id, COUNT(*) AS n_sh FROM nsh GROUP BY 1),
        |ninter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM nsh a JOIN nsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM ninter
        |  JOIN nsz sa ON a_id = sa.doc_id
        |  JOIN nsz sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM decon
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |), reps AS (
        |  SELECT node AS doc_id FROM
        |    (SELECT node, MIN(label) AS lbl FROM reach GROUP BY node)
        |  WHERE node = lbl
        |), lab AS (
        |  SELECT doc_id,
        |    CASE WHEN is_bench THEN 1
        |         WHEN NOT (n_tok >= 10 AND stop_ratio >= 0.05) THEN 2
        |         WHEN doc_id NOT IN (SELECT doc_id FROM ek) THEN 3
        |         WHEN doc_id NOT IN (SELECT doc_id FROM gk) THEN 4
        |         WHEN doc_id IN (SELECT doc_id FROM hits) THEN 5
        |         WHEN doc_id NOT IN (SELECT doc_id FROM reps) THEN 6
        |         ELSE 7 END AS stage_ord
        |  FROM sc
        |), cnt AS (
        |  SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM lab GROUP BY 1
        |), st(stage_ord, stage) AS (
        |  SELECT * FROM (VALUES (1, 'benchmark_holdout'), (2, 'cleaning'),
        |    (3, 'exact_dedup'), (4, 'gopher'), (5, 'decontaminate'), (6, 'neardup'))
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
        |SELECT stage_ord, stage, n_in, n_dropped, n_in - n_dropped AS n_out
        |FROM (
        |  SELECT CAST(st.stage_ord AS BIGINT) AS stage_ord, st.stage,
        |    total - CAST(COALESCE(SUM(COALESCE(cnt.n_dropped, 0))
        |      OVER (ORDER BY st.stage_ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
        |    COALESCE(cnt.n_dropped, 0) AS n_dropped
        |  FROM st LEFT JOIN cnt ON st.stage_ord = cnt.stage_ord CROSS JOIN tot)""".stripMargin,
    // the sentence-staged funnel: the q_curate_report chain with (a)
    // the planted sentence fixture (q_sent_dedup's %7=2 preamble + the
    // %11=7 pure-boilerplate slice), (b) the C4 span stage between
    // exact-dedup and gopher (lead-window spans, struct-least
    // ownership, covered-sentence removal, per-doc rebuild — docs that
    // keep nothing drop as stage 4), and (c) every downstream stage
    // reading the REBUILT text
    "q_curate_report_sent" ->
      """WITH RECURSIVE synth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 7
        |      THEN 'the alpha beta one.' || repeat(' ', CAST(doc_id % 7 + 1 AS INT)) ||
        |           'the gamma delta two.' || repeat(' ', CAST(doc_id % 7 + 1 AS INT)) ||
        |           'the epsilon zeta three.'
        |      ELSE regexp_replace(
        |        CASE WHEN doc_id % 7 = 2
        |          THEN 'alpha beta one. gamma delta two. epsilon zeta three. ' || text
        |          ELSE text END,
        |        '((?:\S+\s+){11}\S+)\s+', '\1. ', 'g') END AS text
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |    md5(text) AS text_hash,
        |    (doc_id % 10 = 0) AS is_bench
        |  FROM synth
        |), cleaned AS (
        |  SELECT doc_id, text_hash FROM sc
        |  WHERE NOT is_bench AND n_tok >= 10 AND stop_ratio >= 0.05
        |), rn AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM cleaned
        |), ek AS (SELECT doc_id FROM rn WHERE rn = 1),
        |st0 AS (
        |  SELECT s.doc_id,
        |    list_filter(list_transform(regexp_extract_all(s.text, '[^.!?]+[.!?]*'),
        |      x -> trim(x)), x -> x <> '') AS sents
        |  FROM synth s JOIN ek USING (doc_id)
        |), sx2 AS (
        |  SELECT doc_id, sents, unnest(range(0, len(sents))) AS sent_id FROM st0
        |), se2 AS (
        |  SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id,
        |    sents[sent_id + 1] AS sentence
        |  FROM sx2
        |), sp2 AS (
        |  SELECT doc_id, sent_id,
        |    sha256(sentence || chr(1) || lead(sentence, 1) OVER w || chr(1) || lead(sentence, 2) OVER w) AS span_hash,
        |    lead(sentence, 2) OVER w AS s2
        |  FROM se2 WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)
        |), spans2 AS (
        |  SELECT doc_id, sent_id, span_hash FROM sp2 WHERE s2 IS NOT NULL
        |), owners2 AS (
        |  SELECT span_hash, doc_id AS own_doc, sent_id AS own_sent FROM (
        |    SELECT span_hash, doc_id, sent_id,
        |      row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, sent_id) AS rno
        |    FROM spans2) WHERE rno = 1
        |), removed2 AS (
        |  SELECT DISTINCT doc_id, rs FROM (
        |    SELECT doc_id, unnest([sent_id, sent_id + 1, sent_id + 2]) AS rs
        |    FROM spans2 JOIN owners2 USING (span_hash)
        |    WHERE NOT (doc_id = own_doc AND sent_id = own_sent))
        |), reb AS (
        |  SELECT se2.doc_id,
        |    array_to_string(list(se2.sentence ORDER BY se2.sent_id), ' ') AS text
        |  FROM se2 LEFT JOIN removed2 r
        |    ON se2.doc_id = r.doc_id AND se2.sent_id = r.rs
        |  WHERE r.rs IS NULL
        |  GROUP BY se2.doc_id
        |), sk AS (SELECT doc_id FROM reb),
        |gtoks AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM reb
        |), grep1 AS (
        |  SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rep
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks2) - 1),
        |          i -> toks2[i + 1] || ' ' || toks2[i + 2])) AS bigram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM reb)
        |        WHERE len(toks2) >= 2)
        |  GROUP BY doc_id
        |), gbase AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |         (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_distinct(list_filter(ts,
        |      t -> t IN ('the','a','of','and','is')))) AS BIGINT) AS n_stop
        |  FROM gtoks WHERE len(ts) > 0
        |), gk AS (
        |  SELECT doc_id FROM gbase LEFT JOIN grep1 USING (doc_id)
        |  WHERE (n_tok >= 50 AND n_tok <= 100000)
        |    AND (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
        |    AND (CAST(n_sym AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.1)
        |    AND (CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.8)
        |    AND (n_stop >= 2)
        |    AND (COALESCE(rep, 0.0) <= 0.3)
        |), dsh AS (
        |  SELECT DISTINCT doc_id, shingle
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM synth)
        |        WHERE len(toks) >= 4)
        |), dbench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT DISTINCT doc_id FROM dsh JOIN dbench USING (shingle)
        |  WHERE doc_id % 10 <> 0
        |), decon AS (
        |  SELECT doc_id FROM ek JOIN sk USING (doc_id) JOIN gk USING (doc_id)
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        |), nsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM reb JOIN decon USING (doc_id))
        |  WHERE len(toks) >= 3
        |), nsz AS (SELECT doc_id, COUNT(*) AS n_sh FROM nsh GROUP BY 1),
        |ninter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM nsh a JOIN nsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM ninter
        |  JOIN nsz sa ON a_id = sa.doc_id
        |  JOIN nsz sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM decon
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |), reps AS (
        |  SELECT node AS doc_id FROM
        |    (SELECT node, MIN(label) AS lbl FROM reach GROUP BY node)
        |  WHERE node = lbl
        |), lab AS (
        |  SELECT doc_id,
        |    CASE WHEN is_bench THEN 1
        |         WHEN NOT (n_tok >= 10 AND stop_ratio >= 0.05) THEN 2
        |         WHEN doc_id NOT IN (SELECT doc_id FROM ek) THEN 3
        |         WHEN doc_id NOT IN (SELECT doc_id FROM sk) THEN 4
        |         WHEN doc_id NOT IN (SELECT doc_id FROM gk) THEN 5
        |         WHEN doc_id IN (SELECT doc_id FROM hits) THEN 6
        |         WHEN doc_id NOT IN (SELECT doc_id FROM reps) THEN 7
        |         ELSE 8 END AS stage_ord
        |  FROM sc
        |), cnt AS (
        |  SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM lab GROUP BY 1
        |), st(stage_ord, stage) AS (
        |  SELECT * FROM (VALUES (1, 'benchmark_holdout'), (2, 'cleaning'),
        |    (3, 'exact_dedup'), (4, 'sentence_dedup'), (5, 'gopher'),
        |    (6, 'decontaminate'), (7, 'neardup'))
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
        |SELECT stage_ord, stage, n_in, n_dropped, n_in - n_dropped AS n_out
        |FROM (
        |  SELECT CAST(st.stage_ord AS BIGINT) AS stage_ord, st.stage,
        |    total - CAST(COALESCE(SUM(COALESCE(cnt.n_dropped, 0))
        |      OVER (ORDER BY st.stage_ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
        |    COALESCE(cnt.n_dropped, 0) AS n_dropped
        |  FROM st LEFT JOIN cnt ON st.stage_ord = cnt.stage_ord CROSS JOIN tot)""".stripMargin,
    // the line-stage funnel: same telescoping skeleton as the sent
    // variant; the line machinery mirrors lineDedupCteSql (ownership
    // by row_number over (doc_id, line_id) among >=30-char lines),
    // the rebuild is the newline join, and every downstream CTE reads
    // the rebuilt text — gopher/neardup tokenization stays the shared
    // single-space split on BOTH engines, so a token spanning the
    // newline ('today\ncopyright') is the same token in each
    "q_curate_report_lines" ->
      """WITH RECURSIVE lsynth AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 7
        |      THEN 'please subscribe to the newsletter and share the page today' ||
        |           repeat(' ', CAST(doc_id % 7 + 1 AS INT)) || chr(10) ||
        |           'copyright of the example corporation all rights reserved'
        |      WHEN doc_id % 9 = 4
        |      THEN 'please subscribe to the newsletter and share the page today' || chr(10) ||
        |           'copyright of the example corporation all rights reserved' || chr(10) || text
        |      ELSE text END AS text
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |    md5(text) AS text_hash,
        |    (doc_id % 10 = 0) AS is_bench
        |  FROM lsynth
        |), cleaned AS (
        |  SELECT doc_id, text_hash FROM sc
        |  WHERE NOT is_bench AND n_tok >= 10 AND stop_ratio >= 0.05
        |), rn AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
        |  FROM cleaned
        |), ek AS (SELECT doc_id FROM rn WHERE rn = 1),
        |lt0 AS (
        |  SELECT s.doc_id,
        |    list_filter(list_transform(string_split(s.text, chr(10)),
        |      x -> trim(x)), x -> x <> '') AS ls
        |  FROM lsynth s JOIN ek USING (doc_id)
        |), lx2 AS (
        |  SELECT doc_id, ls, unnest(range(0, len(ls))) AS line_id FROM lt0
        |), le2 AS (
        |  SELECT doc_id, CAST(line_id AS BIGINT) AS line_id,
        |    ls[line_id + 1] AS line
        |  FROM lx2
        |), lo2 AS (
        |  SELECT line, doc_id AS own_doc, line_id AS own_line FROM (
        |    SELECT line, doc_id, line_id,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, line_id) AS rno
        |    FROM le2 WHERE length(line) >= 30) WHERE rno = 1
        |), reb AS (
        |  SELECT le2.doc_id,
        |    array_to_string(list(le2.line ORDER BY le2.line_id), chr(10)) AS text
        |  FROM le2 LEFT JOIN lo2
        |    ON le2.line = lo2.line
        |  WHERE length(le2.line) < 30
        |    OR (le2.doc_id = lo2.own_doc AND le2.line_id = lo2.own_line)
        |  GROUP BY le2.doc_id
        |), lk AS (SELECT doc_id FROM reb),
        |gtoks AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM reb
        |), grep1 AS (
        |  SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rep
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks2) - 1),
        |          i -> toks2[i + 1] || ' ' || toks2[i + 2])) AS bigram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM reb)
        |        WHERE len(toks2) >= 2)
        |  GROUP BY doc_id
        |), gbase AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |         (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_distinct(list_filter(ts,
        |      t -> t IN ('the','a','of','and','is')))) AS BIGINT) AS n_stop
        |  FROM gtoks WHERE len(ts) > 0
        |), gk AS (
        |  SELECT doc_id FROM gbase LEFT JOIN grep1 USING (doc_id)
        |  WHERE (n_tok >= 50 AND n_tok <= 100000)
        |    AND (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
        |    AND (CAST(n_sym AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.1)
        |    AND (CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.8)
        |    AND (n_stop >= 2)
        |    AND (COALESCE(rep, 0.0) <= 0.3)
        |), dsh AS (
        |  SELECT DISTINCT doc_id, shingle
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM lsynth)
        |        WHERE len(toks) >= 4)
        |), dbench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT DISTINCT doc_id FROM dsh JOIN dbench USING (shingle)
        |  WHERE doc_id % 10 <> 0
        |), decon AS (
        |  SELECT doc_id FROM ek JOIN lk USING (doc_id) JOIN gk USING (doc_id)
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        |), nsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM reb JOIN decon USING (doc_id))
        |  WHERE len(toks) >= 3
        |), nsz AS (SELECT doc_id, COUNT(*) AS n_sh FROM nsh GROUP BY 1),
        |ninter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM nsh a JOIN nsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT a_id, b_id FROM ninter
        |  JOIN nsz sa ON a_id = sa.doc_id
        |  JOIN nsz sb ON b_id = sb.doc_id
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM near
        |  UNION ALL SELECT b_id, a_id FROM near
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM decon
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |), reps AS (
        |  SELECT node AS doc_id FROM
        |    (SELECT node, MIN(label) AS lbl FROM reach GROUP BY node)
        |  WHERE node = lbl
        |), lab AS (
        |  SELECT doc_id,
        |    CASE WHEN is_bench THEN 1
        |         WHEN NOT (n_tok >= 10 AND stop_ratio >= 0.05) THEN 2
        |         WHEN doc_id NOT IN (SELECT doc_id FROM ek) THEN 3
        |         WHEN doc_id NOT IN (SELECT doc_id FROM lk) THEN 4
        |         WHEN doc_id NOT IN (SELECT doc_id FROM gk) THEN 5
        |         WHEN doc_id IN (SELECT doc_id FROM hits) THEN 6
        |         WHEN doc_id NOT IN (SELECT doc_id FROM reps) THEN 7
        |         ELSE 8 END AS stage_ord
        |  FROM sc
        |), cnt AS (
        |  SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM lab GROUP BY 1
        |), st(stage_ord, stage) AS (
        |  SELECT * FROM (VALUES (1, 'benchmark_holdout'), (2, 'cleaning'),
        |    (3, 'exact_dedup'), (4, 'line_dedup'), (5, 'gopher'),
        |    (6, 'decontaminate'), (7, 'neardup'))
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
        |SELECT stage_ord, stage, n_in, n_dropped, n_in - n_dropped AS n_out
        |FROM (
        |  SELECT CAST(st.stage_ord AS BIGINT) AS stage_ord, st.stage,
        |    total - CAST(COALESCE(SUM(COALESCE(cnt.n_dropped, 0))
        |      OVER (ORDER BY st.stage_ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
        |    COALESCE(cnt.n_dropped, 0) AS n_dropped
        |  FROM st LEFT JOIN cnt ON st.stage_ord = cnt.stage_ord CROSS JOIN tot)""".stripMargin,
    "q_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS scrubbed,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_url,
        |  len(regexp_extract_all(text, '[0-9]{7,}')) AS n_num
        |FROM documents""".stripMargin,
    "q_repetition" ->
      """SELECT doc_id, n_bigrams, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS rep_ratio
        |FROM (SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bigram) AS n_distinct
        |      FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
        |              i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
        |            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |            WHERE len(toks) >= 2)
        |      GROUP BY doc_id)""".stripMargin,
    "q_top_ngram_frac" ->
      """WITH sh AS (
        |  SELECT doc_id, n_chars,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> array_to_string(toks[i + 1:i + 3], ' '))) AS gram
        |  FROM (SELECT doc_id, len(text) AS n_chars,
        |          string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3
        |), c AS (
        |  SELECT doc_id, n_chars, gram, COUNT(*) AS n_occ
        |  FROM sh GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, gram AS top_gram, n_occ,
        |  CAST(n_occ * len(gram) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS char_frac
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY n_occ DESC, gram) AS rn FROM c)
        |WHERE rn = 1""".stripMargin,
    "q_unigram_logprob" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), freq AS (
        |  SELECT tok, CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1
        |), total AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM freq)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS DECIMAL(12,6)))
        |    AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS avg_logprob
        |FROM tf JOIN freq USING (tok) CROSS JOIN total
        |GROUP BY doc_id""".stripMargin,
    "q_train_split" ->
      """SELECT split, lang, COUNT(*) AS n_docs
        |FROM (SELECT doc_id, lang,
        |        CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 10 THEN 'val'
        |             WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 20 THEN 'test'
        |             ELSE 'train' END AS split
        |      FROM documents)
        |GROUP BY split, lang""".stripMargin,
    "q_vocab_topk" ->
      """WITH counts AS (
        |  SELECT token, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY token
        |)
        |SELECT token, n, rnk
        |FROM (SELECT token, n, CAST(rank() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk FROM counts)
        |WHERE rnk <= 100""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS est_count
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 2""".stripMargin,
    "q_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, u.pos AS pos, u.h AS h
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(toks) - 3),
        |            i -> {'pos': i, 'h': substr(md5(array_to_string(toks[i + 1:i + 4], ' ')), 1, 15)})) AS u
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), m AS (
        |  SELECT doc_id, pos,
        |    min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g
        |)
        |SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp,
        |  CAST(substr(sel, 16, 10) AS BIGINT) AS pos
        |FROM m WHERE pos >= 4""".stripMargin,
    "q_winnow_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, u.pos AS pos, u.h AS h
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(toks) - 3),
        |            i -> {'pos': i, 'h': substr(md5(array_to_string(toks[i + 1:i + 4], ' ')), 1, 15)})) AS u
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), m AS (
        |  SELECT doc_id, pos,
        |    min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g
        |), fp AS (
        |  SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp
        |  FROM m WHERE pos >= 4
        |), rare AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fp GROUP BY 1)
        |  WHERE nd <= 64
        |), f AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    // the joint winnow-pairs computation restricted to pairs with at
    // least one side in the new (>= cut) half: doc_a < doc_b, so
    // doc_b >= cut is exactly "some side is new"
    "q_winnow_incr" ->
      """WITH cut AS (
        |  SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS c FROM documents
        |), g AS (
        |  SELECT doc_id, u.pos AS pos, u.h AS h
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(toks) - 3),
        |            i -> {'pos': i, 'h': substr(md5(array_to_string(toks[i + 1:i + 4], ' ')), 1, 15)})) AS u
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), m AS (
        |  SELECT doc_id, pos,
        |    min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g
        |), fp AS (
        |  SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp
        |  FROM m WHERE pos >= 4
        |), rare AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fp GROUP BY 1)
        |  WHERE nd <= 64
        |), f AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |WHERE b.doc_id >= (SELECT c FROM cut)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "q_winnow_groups" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, u.pos AS pos, u.h AS h
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(toks) - 3),
        |            i -> {'pos': i, 'h': substr(md5(array_to_string(toks[i + 1:i + 4], ' ')), 1, 15)})) AS u
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), m AS (
        |  SELECT doc_id, pos,
        |    min(h || lpad(CAST(pos AS VARCHAR), 10, '0'))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g
        |), fp AS (
        |  SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp
        |  FROM m WHERE pos >= 4
        |), rare AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS nd FROM fp GROUP BY 1)
        |  WHERE nd <= 64
        |), f AS (SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp)),
        |pr AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pr
        |  UNION ALL SELECT b_id, a_id FROM pr
        |), reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.label FROM edges e JOIN reach r ON r.node = e.src
        |)
        |SELECT node AS doc_id, MIN(label) AS group_id FROM reach GROUP BY node""".stripMargin,
    "q_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE doc_id < 100 GROUP BY 1, 2
        |), df AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), n AS (SELECT COUNT(*) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.tok AS tok,
        |    ROUND(tf * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |)
        |SELECT doc_id, tok, tfidf, rnk
        |FROM (SELECT doc_id, tok, tfidf,
        |        CAST(rank() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS BIGINT) AS rnk
        |      FROM scored)
        |WHERE rnk <= 3""".stripMargin,
    "q_bigram_topk" ->
      """WITH counts AS (
        |  SELECT bigram, COUNT(*) AS n
        |  FROM (SELECT unnest(list_transform(range(len(toks) - 1),
        |                i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
        |        FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 2)
        |  GROUP BY bigram
        |)
        |SELECT bigram, n, rnk
        |FROM (SELECT bigram, n, CAST(rank() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rnk FROM counts)
        |WHERE rnk <= 50""".stripMargin,
    "q_length_hist" ->
      """SELECT lang, n_tok - (n_tok % 16) AS bucket_lo,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM (SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents)
        |GROUP BY lang, bucket_lo""".stripMargin,
    "q_quality_topk" ->
      """SELECT doc_id, lang, q_score, rnk
        |FROM (SELECT doc_id, lang, q_score,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY q_score DESC, doc_id) AS BIGINT) AS rnk
        |      FROM (SELECT doc_id, lang,
        |              CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
        |                / CAST(len(string_split(text, ' ')) AS DOUBLE) AS q_score
        |            FROM documents))
        |WHERE rnk <= 20""".stripMargin,
    "q_dup_span" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 4
        |), dup AS (
        |  SELECT gram
        |  FROM (SELECT gram, COUNT(*) AS n_docs
        |        FROM (SELECT DISTINCT doc_id, gram FROM sh) GROUP BY 1)
        |  WHERE n_docs >= 2
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COUNT(d.gram) AS BIGINT) AS n_dup_windows,
        |  CAST(COUNT(d.gram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        |FROM sh LEFT JOIN dup d ON sh.gram = d.gram
        |GROUP BY doc_id""".stripMargin,
    "q_dup_span_merge" ->
      """WITH sh AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos + 1:pos + 4], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 3)) AS pos
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), dup AS (
        |  SELECT gram
        |  FROM (SELECT gram, COUNT(*) AS n_docs
        |        FROM (SELECT DISTINCT doc_id, gram FROM sh) GROUP BY 1)
        |  WHERE n_docs >= 2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM sh JOIN dup USING (gram)
        |)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS tok_start,
        |  CAST(MAX(pos) - MIN(pos) + 4 AS BIGINT) AS n_span_tok,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY doc_id, grp""".stripMargin,
    "q_cut_spans" ->
      """WITH base AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, pos, array_to_string(toks[pos + 1:pos + 4], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 3)) AS pos
        |        FROM base WHERE len(toks) >= 4)
        |), dupg AS (
        |  SELECT gram
        |  FROM (SELECT gram, COUNT(*) AS nd
        |        FROM (SELECT DISTINCT doc_id, gram FROM sh) GROUP BY 1)
        |  WHERE nd >= 2
        |), marked AS (
        |  SELECT doc_id, pos
        |  FROM (SELECT sh.doc_id, sh.pos,
        |          row_number() OVER (PARTITION BY sh.gram
        |            ORDER BY sh.doc_id, sh.pos) AS rn
        |        FROM sh JOIN dupg USING (gram))
        |  WHERE rn > 1
        |), unmarked AS (
        |  SELECT doc_id, pos FROM sh
        |  EXCEPT SELECT doc_id, pos FROM marked
        |), keptidx AS (
        |  SELECT DISTINCT doc_id, pos + i AS ti
        |  FROM unmarked CROSS JOIN (SELECT unnest(range(4)) AS i)
        |), tokens AS (
        |  SELECT doc_id, ti, toks[ti + 1] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS ti FROM base)
        |), rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY ti) AS clean
        |  FROM tokens JOIN keptidx USING (doc_id, ti)
        |  GROUP BY doc_id
        |)
        |SELECT b.doc_id,
        |  CASE WHEN len(b.toks) < 4 THEN b.text
        |       ELSE COALESCE(r.clean, '') END AS text_clean,
        |  CAST(len(b.toks) AS BIGINT) AS n_tok,
        |  CAST(len(b.toks) - CASE WHEN len(b.toks) < 4 THEN len(b.toks)
        |       ELSE COALESCE(r.n_kept, 0) END AS BIGINT) AS n_cut_tok
        |FROM base b LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
        |SELECT doc_id, COUNT(*) AS n_hits
        |FROM sh JOIN bench USING (shingle)
        |WHERE doc_id % 10 <> 0
        |GROUP BY doc_id""".stripMargin,
    "q_contam_attribution" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS shingle
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), bench AS (
        |  SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0
        |)
        |SELECT b.bench_id,
        |  CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
        |  CAST(COUNT(DISTINCT b.shingle) AS BIGINT) AS n_shingles_hit
        |FROM sh t JOIN bench b USING (shingle)
        |WHERE t.doc_id % 10 <> 0
        |GROUP BY b.bench_id""".stripMargin,
    "q_domain_mix" ->
      """SELECT doc_id, lang, source
        |FROM (SELECT doc_id, lang, source,
        |        CAST('0x' || substr(md5('mix:' || text), 1, 8) AS BIGINT) % 10000 AS bucket
        |      FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 3500 ELSE 10000 END""".stripMargin,
    "q_mix_weights" ->
      """WITH pl AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM pl),
        |p AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS p6
        |  FROM pl CROSS JOIN t
        |), s AS (SELECT CAST(SUM(p6) AS DECIMAL(28,6)) AS sp FROM p)
        |SELECT lang, n_docs, n_tokens, share,
        |  CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) AS alpha_weight,
        |  CASE WHEN n_tokens > 0 THEN
        |    LEAST(1.0, CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) * 100000.0 / CAST(n_tokens AS DOUBLE))
        |  ELSE 0.0 END AS admit_rate
        |FROM p CROSS JOIN s""".stripMargin,
    "q_epoch_plan" ->
      """WITH pl AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM pl),
        |p AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS p6
        |  FROM pl CROSS JOIN t
        |), s AS (SELECT CAST(SUM(p6) AS DECIMAL(28,6)) AS sp FROM p),
        |d AS (
        |  SELECT source, n_docs, n_tokens, share,
        |    CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) AS alpha_weight,
        |    CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) * 500000.0 AS desired
        |  FROM p CROSS JOIN s
        |)
        |SELECT source, n_docs, n_tokens, share, alpha_weight,
        |  CAST(FLOOR(desired) AS BIGINT) AS desired_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(FLOOR(LEAST(4000.0, desired / CAST(n_tokens AS DOUBLE) * 1000.0)) AS BIGINT)
        |  ELSE 0 END AS epochs_milli,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(FLOOR(LEAST(CAST(n_tokens AS DOUBLE) * 4.0, desired)) AS BIGINT)
        |  ELSE 0 END AS effective_tokens,
        |  GREATEST(0, CAST(FLOOR(desired) AS BIGINT) -
        |    (CASE WHEN n_tokens > 0 THEN
        |       CAST(FLOOR(LEAST(CAST(n_tokens AS DOUBLE) * 4.0, desired)) AS BIGINT)
        |     ELSE 0 END)) AS shortfall_tokens
        |FROM d""".stripMargin,
    "q_epoch_apply" ->
      """WITH pl AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM pl),
        |p AS (
        |  SELECT source, n_tokens,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS p6
        |  FROM pl CROSS JOIN t
        |), s AS (SELECT CAST(SUM(p6) AS DECIMAL(28,6)) AS sp FROM p),
        |e AS (
        |  SELECT source,
        |    CASE WHEN n_tokens > 0 THEN
        |      CAST(FLOOR(LEAST(4000.0,
        |        CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) * 500000.0
        |          / CAST(n_tokens AS DOUBLE) * 1000.0)) AS BIGINT)
        |    ELSE 0 END AS em
        |  FROM p CROSS JOIN s
        |), n AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |    em // 1000 +
        |      (CASE WHEN CAST('0x' || substr(md5('epochapply:' || d.text), 1, 8) AS BIGINT) % 1000
        |            < em % 1000 THEN 1 ELSE 0 END) AS n_copies
        |  FROM documents d JOIN e ON d.source = e.source
        |)
        |SELECT doc_id, lang, source,
        |  CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS epoch
        |FROM n WHERE n_copies > 0""".stripMargin,
    "q_mix_apply" ->
      """WITH pl AS (
        |  SELECT lang,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM pl),
        |p AS (
        |  SELECT lang, n_tokens,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS p6
        |  FROM pl CROSS JOIN t
        |), s AS (SELECT CAST(SUM(p6) AS DECIMAL(28,6)) AS sp FROM p),
        |r AS (
        |  SELECT lang,
        |    CAST(FLOOR(
        |      (CASE WHEN n_tokens > 0 THEN
        |         LEAST(1.0, CAST(p6 AS DOUBLE) / CAST(sp AS DOUBLE) * 100000.0 / CAST(n_tokens AS DOUBLE))
        |       ELSE 0.0 END) * 10000.0 + 0.5) AS BIGINT) AS cutoff
        |  FROM p CROSS JOIN s)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST('0x' || substr(md5('mixapply:' || d.text), 1, 8) AS BIGINT) % 10000 < r.cutoff""".stripMargin,
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale_raw
        |  FROM embeddings WHERE embedding IS NOT NULL
        |)
        |SELECT vec_id, ROUND(scale_raw, 6) AS scale,
        |  array_to_string(list_transform(emb,
        |    x -> CAST(CAST(round(x / scale_raw * 127) AS TINYINT) AS VARCHAR)), ',') AS q_csv
        |FROM s WHERE scale_raw > 0""".stripMargin,
    "q_rate_ohlc" ->
      """SELECT currency, day,
        |  MAX(CASE WHEN rn_o = 1 THEN value END) AS open_rate,
        |  MAX(value) AS high_rate,
        |  MIN(value) AS low_rate,
        |  MAX(CASE WHEN rn_c = 1 THEN value END) AS close_rate,
        |  COUNT(*) AS n_ticks
        |FROM (SELECT currency, day, value,
        |        row_number() OVER (PARTITION BY currency, day ORDER BY ts, event_id) AS rn_o,
        |        row_number() OVER (PARTITION BY currency, day ORDER BY ts DESC, event_id DESC) AS rn_c
        |      FROM (SELECT CASE WHEN event_id % 2 = 0 THEN 'KAU' ELSE 'KAG' END AS currency,
        |              CAST(ts AS DATE) AS day, ts, event_id, value
        |            FROM events
        |            WHERE event_type = 'click' AND value <> 0))
        |GROUP BY currency, day""".stripMargin,
    "q_semantic_decontaminate" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id < 2000
        |)
        |SELECT t_id AS vec_id, COUNT(*) AS n_hits, MAX(cos_sim) AS max_sim
        |FROM (SELECT t.vec_id AS t_id,
        |        ROUND(list_cosine_similarity(t.emb, b.emb), 4) AS cos_sim
        |      FROM e t JOIN e b ON t.vec_id % 10 <> 0 AND b.vec_id % 10 = 0)
        |WHERE cos_sim >= 0.35
        |GROUP BY t_id""".stripMargin,
    "q_pack_sequences" ->
      """SELECT shard, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM (SELECT shard, CAST((cum - n_tok) // 256 AS BIGINT) AS bin, n_tok
        |      FROM (SELECT doc_id % 32 AS shard, n_tok,
        |              SUM(n_tok) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |            FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        |                  FROM documents)))
        |GROUP BY shard, bin""".stripMargin,
    "q_pack_stats" ->
      """WITH bins AS (
        |  SELECT shard, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |  FROM (SELECT shard, CAST((cum - n_tok) // 256 AS BIGINT) AS bin, n_tok
        |        FROM (SELECT doc_id % 32 AS shard, n_tok,
        |                SUM(n_tok) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |              FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        |                    FROM documents)))
        |  GROUP BY shard, bin
        |)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(GREATEST(256 - sum_tokens, 0)) AS BIGINT) AS pad_tokens,
        |  CAST(SUM(CASE WHEN sum_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST((SUM(sum_tokens) * 1000) // (COUNT(*) * 256) AS BIGINT) AS fill_milli
        |FROM bins GROUP BY shard""".stripMargin,
    "q_snapshot_diff" ->
      """WITH b AS (
        |  SELECT doc_id, text, source,
        |    CAST('0x' || substr(md5('snap:' || text), 1, 8) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |), oldsnap AS (
        |  SELECT doc_id, source, md5(text) AS h FROM b WHERE bucket >= 3
        |), newsnap AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN bucket >= 50 AND bucket < 60
        |             THEN text || ' snapshot-rev' ELSE text END) AS h
        |  FROM b WHERE bucket < 97
        |)
        |SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
        |  COALESCE(n.source, o.source) AS source,
        |  CASE WHEN o.h IS NULL THEN 'added'
        |       WHEN n.h IS NULL THEN 'removed'
        |       WHEN o.h <> n.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id""".stripMargin,
    "q_snapshot_drift" ->
      """WITH b AS (
        |  SELECT doc_id, text, source,
        |    CAST('0x' || substr(md5('snap:' || text), 1, 8) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |), oldsnap AS (
        |  SELECT source, text FROM b WHERE bucket >= 3
        |), newsnap AS (
        |  SELECT source,
        |    CASE WHEN bucket >= 50 AND bucket < 60
        |         THEN text || ' snapshot-rev' ELSE text END AS text
        |  FROM b WHERE bucket < 97
        |), tfo AS (
        |  SELECT source, tok, COUNT(*) AS tf_o
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM oldsnap)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), tfn AS (
        |  SELECT source, tok, COUNT(*) AS tf_n
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM newsnap)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), j AS (
        |  SELECT COALESCE(o.source, n.source) AS source,
        |    COALESCE(o.tf_o, 0) AS tf_o, COALESCE(n.tf_n, 0) AS tf_n
        |  FROM tfo o FULL OUTER JOIN tfn n
        |    ON o.source = n.source AND o.tok = n.tok
        |), tot AS (
        |  SELECT source, SUM(tf_o) AS n_o, SUM(tf_n) AS n_n FROM j GROUP BY 1
        |)
        |SELECT source, CAST(n_o AS BIGINT) AS n_tok_old,
        |  CAST(n_n AS BIGINT) AS n_tok_new,
        |  CAST(SUM(ABS(CAST(tf_n AS HUGEINT) * CAST(n_o AS HUGEINT) -
        |                CAST(tf_o AS HUGEINT) * CAST(n_n AS HUGEINT))) AS DOUBLE) /
        |    (2.0 * CAST(n_o AS DOUBLE) * CAST(n_n AS DOUBLE)) AS drift_tv
        |FROM j JOIN tot USING (source)
        |WHERE n_o > 0 AND n_n > 0
        |GROUP BY source, n_o, n_n""".stripMargin,
    // states the SEMANTICS as the naive one-window form; the Spark
    // plan is the histogram-cutoff equivalent (Curation.tokenBudget)
    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
        |    CAST('0x' || substr(md5('budget:' || text), 1, 8) AS BIGINT) % 10000 AS bucket
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY bucket, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok
        |FROM c
        |WHERE cum - n_tok < CASE WHEN lang = 'en' THEN 4000 ELSE 2000 END""".stripMargin,
    "q_word_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(CAST(SUM(tf) AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(CAST(SUM(tf) AS DOUBLE)), 6) AS DECIMAL(12,6)) -
        |    SUM(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(CAST(tf AS DOUBLE)), 6) AS DECIMAL(12,6))) AS DOUBLE)
        |    / CAST(SUM(tf) AS DOUBLE) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin,
    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''
        |), vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, rank() OVER (ORDER BY COUNT(*) DESC, tok) AS rnk
        |    FROM toks GROUP BY tok)
        |  WHERE rnk <= 20
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) - COUNT(v.tok) AS BIGINT) AS n_oov,
        |  CAST(COUNT(*) - COUNT(v.tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM toks LEFT JOIN vocab v USING (tok)
        |GROUP BY doc_id""".stripMargin,
    "q_source_overlap" ->
      """WITH gs AS (
        |  SELECT DISTINCT source, gram
        |  FROM (SELECT source, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS gram
        |        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM gs a JOIN gs b
        |  ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q_pmi_top" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), uni AS (
        |  SELECT tok, COUNT(*) AS n_uni FROM toks WHERE tok <> '' GROUP BY 1
        |), totu AS (SELECT CAST(SUM(n_uni) AS BIGINT) AS n_tot_uni FROM uni),
        |big AS (
        |  SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2,
        |    COUNT(*) AS n_pair
        |  FROM (SELECT unnest(list_transform(range(len(toks) - 1),
        |          i -> array_to_string(toks[i + 1:i + 2], ' '))) AS gram
        |        FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 2)
        |  GROUP BY 1, 2
        |), totp AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_tot_pair FROM big),
        |scored AS (
        |  SELECT w1, w2, n_pair,
        |    ROUND(ln((CAST(n_pair AS DOUBLE) * CAST(n_tot_uni AS DOUBLE) * CAST(n_tot_uni AS DOUBLE)) /
        |      (CAST(n_tot_pair AS DOUBLE) * CAST(a.n_uni AS DOUBLE) * CAST(b.n_uni AS DOUBLE))), 6) AS pmi
        |  FROM big
        |  JOIN uni a ON big.w1 = a.tok
        |  JOIN uni b ON big.w2 = b.tok
        |  CROSS JOIN totu CROSS JOIN totp
        |  WHERE n_pair >= 5
        |)
        |SELECT w1, w2, n_pair, pmi, rnk
        |FROM (SELECT w1, w2, n_pair, pmi,
        |        CAST(rank() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rnk
        |      FROM scored)
        |WHERE rnk <= 50""".stripMargin,
    "q_blocklist" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('slow', 'big'))) AS BIGINT) AS n_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('slow', 'big'))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS hit_ratio
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |WHERE len(list_filter(toks, x -> x IN ('slow', 'big'))) > 0""".stripMargin,
    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1
        |), s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS tok_start FROM t
        |)
        |SELECT doc_id, CAST(tok_start // 24 AS BIGINT) AS chunk_id,
        |  CAST(tok_start AS BIGINT) AS tok_start,
        |  CAST(len(toks[tok_start + 1:tok_start + 32]) AS BIGINT) AS n_chunk_tok,
        |  array_to_string(toks[tok_start + 1:tok_start + 32], ' ') AS chunk_text
        |FROM s""".stripMargin,
    "q_chunk_bounds" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1
        |), s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS tok_start FROM t
        |)
        |SELECT doc_id, CAST(tok_start // 24 AS BIGINT) AS chunk_id,
        |  CAST(tok_start AS BIGINT) AS tok_start,
        |  CAST(len(toks[tok_start + 1:tok_start + 32]) AS BIGINT) AS n_chunk_tok
        |FROM s""".stripMargin,
    "q_decontaminate_fuzzy" ->
      """WITH flags AS (
        |  SELECT doc_id, md5(text) AS h, doc_id % 10 = 0 AS is_bench FROM documents
        |), stars AS (
        |  SELECT h, MIN(doc_id) AS rep_id,
        |    MAX(CASE WHEN is_bench THEN 1 ELSE 0 END) AS star_has_bench
        |  FROM flags GROUP BY h
        |), d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents JOIN (SELECT rep_id AS doc_id FROM stars) USING (doc_id)
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM d WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a_id, b_id, jaccard
        |  FROM (SELECT a_id, b_id,
        |          CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |        FROM inter
        |        JOIN sizes sa ON a_id = sa.doc_id
        |        JOIN sizes sb ON b_id = sb.doc_id)
        |  WHERE jaccard >= 0.8
        |), rb AS (
        |  SELECT rep_id, star_has_bench = 1 AS rbench FROM stars
        |), near AS (
        |  SELECT CASE WHEN ra.rbench THEN b_id ELSE a_id END AS rep_id, jaccard
        |  FROM pairs
        |  JOIN rb ra ON a_id = ra.rep_id
        |  JOIN rb rbb ON b_id = rbb.rep_id
        |  WHERE ra.rbench <> rbb.rbench
        |), nearbyrep AS (
        |  SELECT rep_id, MAX(jaccard) AS near_j FROM near GROUP BY 1
        |)
        |SELECT f.doc_id,
        |  CASE WHEN s.star_has_bench = 1 THEN CAST(1.0 AS DOUBLE)
        |       ELSE n.near_j END AS max_jaccard
        |FROM flags f JOIN stars s USING (h)
        |LEFT JOIN nearbyrep n ON s.rep_id = n.rep_id
        |WHERE NOT f.is_bench AND (s.star_has_bench = 1 OR n.rep_id IS NOT NULL)""".stripMargin,
    "q_source_kl" ->
      """WITH tf AS (
        |  SELECT source, tok, COUNT(*) AS tf
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), st AS (SELECT source, SUM(tf) AS n_s FROM tf GROUP BY 1),
        |ct AS (SELECT tok, SUM(tf) AS ctf FROM tf GROUP BY 1),
        |tot AS (SELECT SUM(ctf) AS n_total FROM ct)
        |SELECT source, CAST(n_s AS BIGINT) AS n_tok,
        |  CAST(SUM(CAST(tf AS DECIMAL(12,0)) *
        |    CAST(round(ln((CAST(tf AS DOUBLE) * CAST(n_total AS DOUBLE)) /
        |      (CAST(n_s AS DOUBLE) * CAST(ctf AS DOUBLE))), 6) AS DECIMAL(12,6)))
        |    AS DOUBLE) / CAST(n_s AS DOUBLE) AS kl_nats
        |FROM tf JOIN ct USING (tok) JOIN st USING (source) CROSS JOIN tot
        |GROUP BY source, n_s""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 10""".stripMargin,
    "q_split_leakage" ->
      """WITH reps AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents JOIN reps USING (doc_id)
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM d WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a_id, b_id, jaccard
        |  FROM (SELECT a_id, b_id,
        |          CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |        FROM inter
        |        JOIN sizes sa ON a_id = sa.doc_id
        |        JOIN sizes sb ON b_id = sb.doc_id)
        |  WHERE jaccard >= 0.8
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 10 THEN 'val'
        |         WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 20 THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents
        |)
        |SELECT a_id, b_id, sa.split AS a_split, sb.split AS b_split, jaccard
        |FROM pairs
        |JOIN sp sa ON a_id = sa.doc_id
        |JOIN sp sb ON b_id = sb.doc_id
        |WHERE sa.split <> sb.split""".stripMargin,
    "q_bigram_logprob" ->
      """WITH bg AS (
        |  SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM documents)
        |        WHERE len(toks) >= 2)
        |), tf AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
        |), pair AS (
        |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS n_pair FROM tf GROUP BY 1, 2
        |), firsts AS (
        |  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_first FROM pair GROUP BY 1
        |), vocab AS (
        |  SELECT COUNT(DISTINCT tok) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(CAST(n_pair + 1 AS DOUBLE) / CAST(n_first + v AS DOUBLE)), 6) AS DECIMAL(12,6)))
        |    AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS avg_logprob
        |FROM tf JOIN pair USING (w1, w2) JOIN firsts USING (w1) CROSS JOIN vocab
        |GROUP BY doc_id""".stripMargin,
    // the stored old-half model recomputed inline (writeLmIndex is
    // deterministic, so the serve output equals scoring against a
    // fresh old-half model); LEFT joins + COALESCE are the Laplace
    // floor for bigrams the frozen model never saw
    "q_lm_serve" ->
      """WITH cut AS (
        |  SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS c FROM documents
        |), olddocs AS (
        |  SELECT * FROM documents WHERE doc_id < (SELECT c FROM cut)
        |), newdocs AS (
        |  SELECT * FROM documents WHERE doc_id >= (SELECT c FROM cut)
        |), obg AS (
        |  SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
        |  FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i
        |        FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM olddocs)
        |        WHERE len(toks) >= 2)
        |), pair AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM obg GROUP BY 1, 2
        |), firsts AS (
        |  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_first FROM pair GROUP BY 1
        |), vocab AS (
        |  SELECT COUNT(DISTINCT tok) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM olddocs)
        |  WHERE tok <> ''
        |), nbg AS (
        |  SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |              FROM newdocs)
        |        WHERE len(toks) >= 2)
        |), tf AS (
        |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM nbg GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
        |      CAST(ROUND(ln(CAST(COALESCE(n_pair, 0) + 1 AS DOUBLE) /
        |                    CAST(COALESCE(n_first, 0) + v AS DOUBLE)), 6) AS DECIMAL(12,6)))
        |    AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS avg_logprob
        |FROM tf LEFT JOIN pair USING (w1, w2) LEFT JOIN firsts USING (w1) CROSS JOIN vocab
        |GROUP BY doc_id""".stripMargin,
    // stupid backoff mirrored: old-half tri/bi/uni count CTEs, the
    // new-half per-doc trigram tf, the three-arm CASE with
    // DOUBLE-cast alpha (left-associated like the Spark plan), the
    // 6-dp-round-into-DECIMAL contribution discipline
    "q_lm_trigram" -> lmTrigramOracle,
    // deterministic counting means the persisted-table serve equals
    // the inline reference score — ONE oracle text for both keys
    "q_lm_trigram_serve" -> lmTrigramOracle,
    "q_train_order" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5('shard:0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
        |    md5('0:' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents
        |)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
        |FROM keyed""".stripMargin,
    "q_hash_embed" ->
      """WITH counts AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
        |    COUNT(*) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''
        |  GROUP BY 1, 2
        |), norms AS (
        |  SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS norm2 FROM counts GROUP BY 1
        |)
        |SELECT doc_id, bucket,
        |  ROUND(CAST(cnt AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE)), 6) AS weight
        |FROM counts JOIN norms USING (doc_id)""".stripMargin,
    "q_zipf_slope" ->
      """WITH freq AS (
        |  SELECT lang, tok, COUNT(*) AS n
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |), ranked AS (
        |  SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS r
        |  FROM freq
        |), mill AS (
        |  SELECT lang,
        |    CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000, 0) AS BIGINT) AS x,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000, 0) AS BIGINT) AS y
        |  FROM ranked WHERE r <= 1000
        |), moments AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM mill GROUP BY lang
        |)
        |SELECT lang, k,
        |  CAST(k * sxy - sx * sy AS DOUBLE) /
        |  CAST(k * sxx - sx * sx AS DOUBLE) AS zipf_slope
        |FROM moments WHERE k >= 2""".stripMargin,
    "q_dsir_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |), uni AS (
        |  SELECT doc_id, f FROM (SELECT doc_id, unnest(ts) AS f FROM toks)
        |  WHERE f <> ''
        |), bi AS (
        |  SELECT doc_id, ts[i + 1] || ' ' || ts[i + 2] AS f
        |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 2)
        |), tf AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS b,
        |    COUNT(*) AS tf
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |  GROUP BY 1, 2
        |), byb AS (
        |  SELECT b,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 = 7) AS BIGINT) AS ct,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 <> 7) AS BIGINT) AS cr
        |  FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 = 7), 0) AS BIGINT) AS nt,
        |    CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 <> 7), 0) AS BIGINT) AS nr
        |  FROM tf
        |), ratio AS (
        |  SELECT b, CAST(ROUND(ln(
        |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |      (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))), 6)
        |    AS DECIMAL(12,6)) AS lr
        |  FROM byb CROSS JOIN tot
        |)
        |SELECT doc_id, doc_id % 10 = 7 AS is_target,
        |  CAST(SUM(tf) AS BIGINT) AS n_feat,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) * lr) AS DOUBLE) AS log_weight
        |FROM tf JOIN ratio USING (b)
        |GROUP BY doc_id""".stripMargin,
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |), uni AS (
        |  SELECT doc_id, f FROM (SELECT doc_id, unnest(ts) AS f FROM toks)
        |  WHERE f <> ''
        |), bi AS (
        |  SELECT doc_id, ts[i + 1] || ' ' || ts[i + 2] AS f
        |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 2)
        |), tf AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS b,
        |    COUNT(*) AS tf
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |  GROUP BY 1, 2
        |), byb AS (
        |  SELECT b,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 = 7) AS BIGINT) AS ct,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 <> 7) AS BIGINT) AS cr
        |  FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 = 7), 0) AS BIGINT) AS nt,
        |    CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 <> 7), 0) AS BIGINT) AS nr
        |  FROM tf
        |), ratio AS (
        |  SELECT b, CAST(ROUND(ln(
        |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |      (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))), 6)
        |    AS DECIMAL(12,6)) AS lr
        |  FROM byb CROSS JOIN tot
        |), sel AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(tf AS DECIMAL(10,0)) * lr) AS DOUBLE) AS log_weight
        |  FROM tf JOIN ratio USING (b)
        |  WHERE doc_id % 10 <> 7
        |  GROUP BY doc_id
        |), gum AS (
        |  SELECT doc_id,
        |    ROUND(-ln(-ln((CAST(CAST('0x' || substr(md5('gum:' || text), 1, 8) AS BIGINT) % 10000 AS DOUBLE) + 0.5) / 10000.0)), 6) AS g
        |  FROM documents
        |)
        |SELECT doc_id, log_weight, gumbel_key, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT doc_id, log_weight, gumbel_key,
        |        row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rnk
        |      FROM (SELECT sel.doc_id, sel.log_weight,
        |              sel.log_weight + gum.g AS gumbel_key
        |            FROM sel JOIN gum USING (doc_id)))
        |WHERE rnk <= 50""".stripMargin,
    "q_dsir_serve" ->
      """WITH cut AS (
        |  SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS c FROM documents
        |), otoks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < (SELECT c FROM cut)
        |), otf AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS b,
        |    COUNT(*) AS tf
        |  FROM (
        |    SELECT doc_id, f FROM (SELECT doc_id, unnest(ts) AS f FROM otoks)
        |    WHERE f <> ''
        |    UNION ALL
        |    SELECT doc_id, ts[i + 1] || ' ' || ts[i + 2] AS f
        |    FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i
        |          FROM otoks WHERE len(ts) >= 2))
        |  GROUP BY 1, 2
        |), byb AS (
        |  SELECT b,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 = 7) AS BIGINT) AS ct,
        |    CAST(SUM(tf) FILTER (WHERE doc_id % 10 <> 7) AS BIGINT) AS cr
        |  FROM otf GROUP BY 1
        |), tot AS (
        |  SELECT CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 = 7), 0) AS BIGINT) AS nt,
        |    CAST(COALESCE(SUM(tf) FILTER (WHERE doc_id % 10 <> 7), 0) AS BIGINT) AS nr
        |  FROM otf
        |), ratio AS (
        |  SELECT b, CAST(ROUND(ln(
        |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |      (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))), 6)
        |    AS DECIMAL(12,6)) AS lr
        |  FROM byb CROSS JOIN tot
        |), flr AS (
        |  SELECT CAST(ROUND(ln(
        |      (CAST(0 + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |      (CAST(0 + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))), 6)
        |    AS DECIMAL(12,6)) AS floor_lr
        |  FROM tot
        |), ntoks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id >= (SELECT c FROM cut)
        |), ntf AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS b,
        |    COUNT(*) AS tf
        |  FROM (
        |    SELECT doc_id, f FROM (SELECT doc_id, unnest(ts) AS f FROM ntoks)
        |    WHERE f <> ''
        |    UNION ALL
        |    SELECT doc_id, ts[i + 1] || ' ' || ts[i + 2] AS f
        |    FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i
        |          FROM ntoks WHERE len(ts) >= 2))
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, doc_id % 10 = 7 AS is_target,
        |  CAST(SUM(tf) AS BIGINT) AS n_feat,
        |  CAST(SUM(CAST(tf AS DECIMAL(10,0)) * COALESCE(lr, floor_lr)) AS DOUBLE)
        |    AS log_weight
        |FROM ntf LEFT JOIN ratio USING (b) CROSS JOIN flr
        |GROUP BY doc_id""".stripMargin,
    "q_mine_triplets" ->
      """WITH reps AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |), d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents JOIN reps USING (doc_id)
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
        |  FROM d WHERE len(toks) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a_id, b_id, jaccard
        |  FROM (SELECT a_id, b_id,
        |          CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |        FROM inter
        |        JOIN sizes sa ON a_id = sa.doc_id
        |        JOIN sizes sb ON b_id = sb.doc_id)
        |  WHERE jaccard >= 0.8
        |), ring AS (
        |  SELECT doc_id, th,
        |    COALESCE(lead(doc_id, 1) OVER w,
        |      FIRST_VALUE(doc_id) OVER wf) AS neg_id,
        |    COALESCE(lead(th, 1) OVER w,
        |      FIRST_VALUE(th) OVER wf) AS neg_th
        |  FROM (SELECT doc_id, md5(text) AS th,
        |          CAST('0x' || substr(md5('neg:' || text), 1, 8) AS BIGINT) % 8 AS bkt
        |        FROM documents)
        |  WINDOW w AS (PARTITION BY bkt ORDER BY th, doc_id),
        |    wf AS (PARTITION BY bkt ORDER BY th, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), ath AS (
        |  SELECT doc_id AS a_id, md5(text) AS a_th FROM documents
        |), bth AS (
        |  SELECT doc_id AS b_id, md5(text) AS b_th FROM documents
        |)
        |SELECT a_id AS anchor_id, b_id AS pos_id, neg_id, jaccard
        |FROM pairs
        |JOIN (SELECT doc_id AS a_id, neg_id, neg_th FROM ring) USING (a_id)
        |JOIN ath USING (a_id) JOIN bth USING (b_id)
        |WHERE neg_id <> a_id AND neg_id <> b_id
        |  AND neg_th <> a_th AND neg_th <> b_th""".stripMargin,
    "q_mine_bitext" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, lang
        |  FROM embeddings JOIN documents ON vec_id = doc_id
        |), a AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE lang = 'en'),
        |b AS (SELECT vec_id AS n_id, emb AS n_emb FROM e WHERE lang = 'de'),
        |q AS (SELECT * FROM a WHERE q_id < 200),
        |fs AS (
        |  SELECT q_id, n_id, ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS cos_sim
        |  FROM q JOIN b ON true
        |), fsn AS (SELECT * FROM fs WHERE NOT isnan(cos_sim)),
        |fwd AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rnk FROM fsn)
        |  WHERE rnk <= 4
        |), fa AS (
        |  SELECT q_id, CAST(SUM(CAST(ROUND(cos_sim * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS fwd_avg
        |  FROM fwd GROUP BY 1
        |), cand AS (SELECT DISTINCT n_id FROM fwd),
        |cb AS (SELECT b.n_id, n_emb FROM b JOIN cand USING (n_id)),
        |rs AS (
        |  SELECT n_id, a.q_id AS r_id, ROUND(list_cosine_similarity(n_emb, q_emb), 4) AS rcos
        |  FROM cb JOIN a ON a.q_id <> n_id
        |), rsn AS (SELECT * FROM rs WHERE NOT isnan(rcos)),
        |rev AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY n_id ORDER BY rcos DESC, r_id) AS rrnk FROM rsn)
        |  WHERE rrnk <= 4
        |), ra AS (
        |  SELECT n_id, CAST(SUM(CAST(ROUND(rcos * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS rev_avg
        |  FROM rev GROUP BY 1
        |), sp AS (
        |  SELECT q_id, n_id, cos_sim,
        |    ROUND(cos_sim / ((fwd_avg + rev_avg) / 2.0), 4) AS margin
        |  FROM fwd JOIN fa USING (q_id) JOIN ra USING (n_id)
        |  WHERE fwd_avg + rev_avg > 0
        |)
        |SELECT q_id AS src_id, n_id AS dst_id, cos_sim, margin
        |FROM (SELECT *,
        |    row_number() OVER (PARTITION BY q_id ORDER BY margin DESC, n_id) AS bf,
        |    row_number() OVER (PARTITION BY n_id ORDER BY margin DESC, q_id) AS br
        |  FROM sp WHERE margin >= 1.05)
        |WHERE bf = 1 AND br = 1""".stripMargin,
    // the full-sweep loop is exactly the unbounded single run (every
    // per-pair quantity is batch-independent; spec-asserted), so the
    // oracle is the bitext SQL with the query bound removed
    "q_mine_bitext_all" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, lang
        |  FROM embeddings JOIN documents ON vec_id = doc_id
        |), a AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE lang = 'en'),
        |b AS (SELECT vec_id AS n_id, emb AS n_emb FROM e WHERE lang = 'de'),
        |fs AS (
        |  SELECT q_id, n_id, ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS cos_sim
        |  FROM a JOIN b ON true
        |), fsn AS (SELECT * FROM fs WHERE NOT isnan(cos_sim)),
        |fwd AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rnk FROM fsn)
        |  WHERE rnk <= 4
        |), fa AS (
        |  SELECT q_id, CAST(SUM(CAST(ROUND(cos_sim * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS fwd_avg
        |  FROM fwd GROUP BY 1
        |), cand AS (SELECT DISTINCT n_id FROM fwd),
        |cb AS (SELECT b.n_id, n_emb FROM b JOIN cand USING (n_id)),
        |rs AS (
        |  SELECT n_id, a.q_id AS r_id, ROUND(list_cosine_similarity(n_emb, q_emb), 4) AS rcos
        |  FROM cb JOIN a ON a.q_id <> n_id
        |), rsn AS (SELECT * FROM rs WHERE NOT isnan(rcos)),
        |rev AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY n_id ORDER BY rcos DESC, r_id) AS rrnk FROM rsn)
        |  WHERE rrnk <= 4
        |), ra AS (
        |  SELECT n_id, CAST(SUM(CAST(ROUND(rcos * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS rev_avg
        |  FROM rev GROUP BY 1
        |), sp AS (
        |  SELECT q_id, n_id, cos_sim,
        |    ROUND(cos_sim / ((fwd_avg + rev_avg) / 2.0), 4) AS margin
        |  FROM fwd JOIN fa USING (q_id) JOIN ra USING (n_id)
        |  WHERE fwd_avg + rev_avg > 0
        |)
        |SELECT q_id AS src_id, n_id AS dst_id, cos_sim, margin
        |FROM (SELECT *,
        |    row_number() OVER (PARTITION BY q_id ORDER BY margin DESC, n_id) AS bf,
        |    row_number() OVER (PARTITION BY n_id ORDER BY margin DESC, q_id) AS br
        |  FROM sp WHERE margin >= 1.05)
        |WHERE bf = 1 AND br = 1""".stripMargin,
    // dedup-first: min-id star per side over EXACT embedding equality
    // (window partitioned by the vector — cast to DOUBLE[] is an
    // injective widening, so grouping matches the engine's FLOAT
    // grouping), the standard margin/mutual pipeline on reps, member
    // composition at the end
    "q_mine_bitext_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, lang
        |  FROM embeddings JOIN documents ON vec_id = doc_id
        |), a0 AS (
        |  SELECT vec_id AS q_id, emb AS q_emb,
        |    MIN(vec_id) OVER (PARTITION BY emb) AS rep
        |  FROM e WHERE lang = 'en'
        |), b0 AS (
        |  SELECT vec_id AS n_id, emb AS n_emb,
        |    MIN(vec_id) OVER (PARTITION BY emb) AS rep
        |  FROM e WHERE lang = 'de'
        |), a AS (SELECT q_id, q_emb FROM a0 WHERE q_id = rep),
        |b AS (SELECT n_id, n_emb FROM b0 WHERE n_id = rep),
        |q AS (SELECT * FROM a WHERE q_id < 200),
        |fs AS (
        |  SELECT q_id, n_id, ROUND(list_cosine_similarity(q_emb, n_emb), 4) AS cos_sim
        |  FROM q JOIN b ON true
        |), fsn AS (SELECT * FROM fs WHERE NOT isnan(cos_sim)),
        |fwd AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rnk FROM fsn)
        |  WHERE rnk <= 4
        |), fa AS (
        |  SELECT q_id, CAST(SUM(CAST(ROUND(cos_sim * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS fwd_avg
        |  FROM fwd GROUP BY 1
        |), cand AS (SELECT DISTINCT n_id FROM fwd),
        |cb AS (SELECT b.n_id, n_emb FROM b JOIN cand USING (n_id)),
        |rs AS (
        |  SELECT n_id, a.q_id AS r_id, ROUND(list_cosine_similarity(n_emb, q_emb), 4) AS rcos
        |  FROM cb JOIN a ON a.q_id <> n_id
        |), rsn AS (SELECT * FROM rs WHERE NOT isnan(rcos)),
        |rev AS (
        |  SELECT * FROM (SELECT *, rank() OVER (PARTITION BY n_id ORDER BY rcos DESC, r_id) AS rrnk FROM rsn)
        |  WHERE rrnk <= 4
        |), ra AS (
        |  SELECT n_id, CAST(SUM(CAST(ROUND(rcos * 10000, 0) AS BIGINT)) AS DOUBLE)
        |    / (COUNT(*) * 10000.0) AS rev_avg
        |  FROM rev GROUP BY 1
        |), sp AS (
        |  SELECT q_id, n_id, cos_sim,
        |    ROUND(cos_sim / ((fwd_avg + rev_avg) / 2.0), 4) AS margin
        |  FROM fwd JOIN fa USING (q_id) JOIN ra USING (n_id)
        |  WHERE fwd_avg + rev_avg > 0
        |), mb AS (
        |  SELECT q_id AS src_rep, n_id AS dst_rep, cos_sim, margin
        |  FROM (SELECT *,
        |      row_number() OVER (PARTITION BY q_id ORDER BY margin DESC, n_id) AS bf,
        |      row_number() OVER (PARTITION BY n_id ORDER BY margin DESC, q_id) AS br
        |    FROM sp WHERE margin >= 1.05)
        |  WHERE bf = 1 AND br = 1
        |), am AS (SELECT rep AS src_rep, q_id AS src_id FROM a0),
        |bm AS (SELECT rep AS dst_rep, n_id AS dst_id FROM b0)
        |SELECT src_id, dst_id, cos_sim, margin, src_rep, dst_rep
        |FROM mb JOIN am USING (src_rep) JOIN bm USING (dst_rep)""".stripMargin,
    "q_source_report" ->
      """WITH d AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |  FROM documents GROUP BY 1
        |), t AS (
        |  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tok,
        |    COUNT(*) AS n_words
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1
        |)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_doc_tokens,
        |  CAST(n_distinct_tok AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr,
        |  CAST(1 AS DOUBLE) - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate
        |FROM d JOIN t USING (source)""".stripMargin,
    "q_ccnet_bucket" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), freq AS (
        |  SELECT tok, CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1
        |), total AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM freq),
        |scores AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
        |        CAST(ROUND(ln(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS DECIMAL(12,6)))
        |      AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS score
        |  FROM tf JOIN freq USING (tok) CROSS JOIN total
        |  GROUP BY doc_id
        |), ranked AS (
        |  SELECT s.doc_id, d.lang, s.score,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY d.lang) AS n
        |  FROM scores s JOIN documents d USING (doc_id)
        |)
        |SELECT doc_id, lang, score,
        |  CASE WHEN rn * 3 <= n THEN 'head'
        |       WHEN rn * 3 <= 2 * n THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked""".stripMargin,
    "q_gopher_gate" ->
      """WITH toks AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents
        |), rep AS (
        |  SELECT doc_id,
        |    1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rep
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks2) - 1),
        |          i -> toks2[i + 1] || ' ' || toks2[i + 2])) AS bigram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks2 FROM documents)
        |        WHERE len(toks2) >= 2)
        |  GROUP BY doc_id
        |), base AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
        |    CAST((length(text) - length(replace(text, '#', ''))) +
        |         (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_distinct(list_filter(ts,
        |      t -> t IN ('the','a','of','and','is')))) AS BIGINT) AS n_stop
        |  FROM toks
        |  WHERE len(ts) > 0
        |)
        |SELECT doc_id, n_tok,
        |  (n_tok >= 50 AND n_tok <= 100000)
        |   AND (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0)
        |   AND (CAST(n_sym AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.1)
        |   AND (CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.8)
        |   AND (n_stop >= 2)
        |   AND (COALESCE(rep, 0.0) <= 0.3) AS keep,
        |  concat_ws(',',
        |    CASE WHEN NOT (n_tok >= 50 AND n_tok <= 100000) THEN 'word_count' END,
        |    CASE WHEN NOT (CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0) THEN 'word_length' END,
        |    CASE WHEN NOT (CAST(n_sym AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.1) THEN 'symbol_ratio' END,
        |    CASE WHEN NOT (CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.8) THEN 'alpha_ratio' END,
        |    CASE WHEN NOT (n_stop >= 2) THEN 'stopwords' END,
        |    CASE WHEN NOT (COALESCE(rep, 0.0) <= 0.3) THEN 'repetition' END) AS fail_reasons
        |FROM base LEFT JOIN rep USING (doc_id)""".stripMargin,
    // BM25 float discipline (TextOps.bm25Top scaladoc): 0.25 is the
    // folded (1 - b) literal, 2.2 the folded (k1 + 1) — in doubles
    // 1.2 + 1.0 rounds exactly to the 2.2 literal's double, checked —
    // per-term contribution rounded 6dp after the ln-bearing product,
    // summed as exact DECIMAL(18,6)
    "q_bm25_top" ->
      """WITH dls AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT COUNT(*) AS nd,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dls
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ('spark', 'window', 'merge')
        |  GROUP BY 1, 2
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
        |), contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(nd - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))),
        |      6) AS DECIMAL(18,6)) AS c
        |  FROM tf JOIN dls USING (doc_id) JOIN df ON tf.tok = df.tok CROSS JOIN stats
        |)
        |SELECT doc_id, score, rnk FROM (
        |  SELECT doc_id, score,
        |    CAST(RANK() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        |  FROM (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score FROM contrib GROUP BY 1))
        |WHERE rnk <= 20""".stripMargin,
    "q_novelty_incr" ->
      """WITH cut AS (
        |  SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS c FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS gram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |              FROM documents CROSS JOIN cut WHERE doc_id >= c)
        |        WHERE len(toks) >= 4)
        |), old AS (
        |  SELECT DISTINCT gram
        |  FROM (SELECT unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS gram
        |        FROM (SELECT string_split(text, ' ') AS toks
        |              FROM documents CROSS JOIN cut WHERE doc_id < c)
        |        WHERE len(toks) >= 4)
        |), first AS (
        |  SELECT gram, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
        |)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN o.gram IS NULL AND first_doc = sh.doc_id
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN o.gram IS NULL AND first_doc = sh.doc_id
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
        |FROM sh JOIN first USING (gram) LEFT JOIN old o ON sh.gram = o.gram
        |GROUP BY sh.doc_id""".stripMargin,
    "q_gram_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, gram
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 3),
        |          i -> array_to_string(toks[i + 1:i + 4], ' '))) AS gram
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |        WHERE len(toks) >= 4)
        |), first AS (
        |  SELECT gram, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
        |)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
        |FROM sh JOIN first USING (gram)
        |GROUP BY sh.doc_id""".stripMargin
  )
}
