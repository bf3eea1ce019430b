package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transforms beyond the payment FSM — the reference's poll
  * loop observed as a live stream (kinesis-pay.php:295-303): windowed
  * lifecycle funnels and at-most-once event admission. All are
  * watermark-bounded: state size is O(open windows), never O(stream).
  *
  * Each takes/returns a streaming DataFrame (readStream-sourced); the
  * same code also runs on batch frames, which is how the batch oracle
  * cross-checks the semantics.
  */
object StreamingOps {

  /** Per-window lifecycle funnel: event counts + value totals by type
    * in tumbling event-time windows. Watermark bounds state; partial
    * aggregation happens pre-shuffle exactly as in batch.
    */
  def windowedFunnel(events: DataFrame, windowLen: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Live latest-status per user (the streaming dual of the batch
    * `Payments.latestStatus` argmax): tiny per-key state updated by
    * event-time comparison, emitted in Update mode.
    *
    * State contract — the exception to this object's watermark-bounded
    * rule: "latest per user" inherently needs one row per distinct
    * user, so state is O(user cardinality), NOT O(stream) and NOT
    * watermark-evicted. For unbounded key universes (e.g. session ids
    * rather than users), use [[liveLatestStatusTtl]] — the same update
    * rule with timeout-based eviction; as written THIS variant fits
    * the reference's bounded-membership domain.
    */
  /** `lastId` is retained in state so same-timestamp ties resolve by
    * the SAME (ts, event_id) argmax as batch `Payments.latestStatus`
    * regardless of how events split across micro-batches.
    */
  case class UserStatus(userId: Long, lastStatus: String,
      lastTs: Timestamp, lastId: Long)
  // public: Catalyst's generated deserializer must reach the class
  case class RawEv(userId: Long, status: String, ts: Timestamp, id: Long)

  /** Shared poison-pill filter + typed projection for the
    * latest-status family (one definition, so the bounded and TTL
    * variants cannot drift on admission).
    */
  private def typedStatusEvents(events: DataFrame): Dataset[RawEv] = {
    implicit val rawEnc = Encoders.product[RawEv]
    events
      // poison-pill tolerance (same policy as PaymentStream.fromJson):
      // a null in a non-nullable encoder field would KILL the query
      .where(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").cast("long").as("userId"),
        col("event_type").as("status"), col("ts"),
        col("event_id").cast("long").as("id"))
      .as[RawEv]
  }

  /** Event-time argmax of state + batch — the single update rule both
    * latest-status variants apply.
    */
  private[streaming] def latestOf(uid: Long, evs: Iterator[RawEv],
      prior: Option[UserStatus]): UserStatus = {
    val latest = (prior.map(s =>
      RawEv(uid, s.lastStatus, s.lastTs, s.lastId)) ++ evs)
      .maxBy(e => (e.ts.getTime, e.id))
    UserStatus(uid, latest.status, latest.ts, latest.id)
  }

  def liveLatestStatus(events: DataFrame): Dataset[UserStatus] = {
    implicit val outEnc = Encoders.product[UserStatus]
    implicit val keyEnc = Encoders.scalaLong
    typedStatusEvents(events)
      .groupByKey(_.userId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[RawEv], state: GroupState[UserStatus]) =>
          val next = latestOf(uid, evs, state.getOption)
          state.update(next)
          next
      }
  }

  /** TTL twin of [[liveLatestStatus]] for UNBOUNDED key universes
    * (session ids, request ids — anywhere "one state row per distinct
    * key ever seen" is not a bounded set): identical update rule, but
    * every update arms a processing-time timeout of `ttlMs`, and a key
    * idle past its TTL is EVICTED (state removed, nothing emitted). A
    * key re-appearing after eviction is re-admitted fresh — its
    * pre-eviction history is forgotten, which is the explicit contract
    * difference from [[liveLatestStatus]] (a late event older than the
    * evicted status can briefly "regress" the reported status; the
    * batch argmax is the reconciliation path, as with xrateEnrich).
    * Activity renews the TTL, so state is O(keys active inside one TTL
    * horizon) — bounded by traffic, not by key-universe cardinality.
    */
  def liveLatestStatusTtl(events: DataFrame,
      ttlMs: Long = 3600 * 1000L): Dataset[UserStatus] = {
    implicit val outEnc = Encoders.product[UserStatus]
    implicit val keyEnc = Encoders.scalaLong
    typedStatusEvents(events)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout())(
        (uid: Long, evs: Iterator[RawEv], state: GroupState[UserStatus]) =>
          statusTtlStep(uid, evs, state, ttlMs))
  }

  /** One TTL step for one key. Visible for unit tests (the data-then-
    * timeout protocol cannot be orchestrated through MemoryStream —
    * PaymentStepSpec's rationale).
    */
  private[streaming] def statusTtlStep(uid: Long, evs: Iterator[RawEv],
      state: GroupState[UserStatus], ttlMs: Long): Iterator[UserStatus] = {
    if (state.hasTimedOut) {
      state.remove() // idle past TTL: evict, emit nothing
      Iterator.empty
    } else {
      val next = latestOf(uid, evs, state.getOption)
      state.update(next)
      state.setTimeoutDuration(ttlMs) // any activity renews the TTL
      Iterator(next)
    }
  }

  /** One event of the rate/purchase stream, keyed by currency. */
  case class XEv(currency: String, ts: Timestamp, id: Long,
      isPurchase: Boolean, value: Double)
  case class XRate(eventId: Long, currency: String, rate: Double,
      payAmount: Double)
  // public: Catalyst's generated state serializer must reach the class
  case class LastRate(tsMs: Long, id: Long, rate: Double)

  /** Streaming as-of rate enrichment — the live dual of the batch
    * `Payments.xrateAsof`: per-currency state holds the latest tick
    * (event-time compared, so an old tick arriving late cannot regress
    * it), and each purchase is enriched at arrival with the current
    * rate. Purchases before any tick are dropped, as in batch. State
    * is one (ts, id, rate) triple per currency — constant.
    *
    * At-arrival semantics (inherent to streaming): a tick arriving
    * *after* a purchase it would have priced in event time cannot
    * retro-correct the already-emitted row; the batch operator is the
    * reconciliation path for that.
    */
  def xrateEnrich(events: DataFrame): Dataset[XRate] = {
    implicit val evEnc = Encoders.product[XEv]
    implicit val outEnc = Encoders.product[XRate]
    implicit val stEnc = Encoders.product[LastRate]
    implicit val keyEnc = Encoders.STRING
    events
      .where(col("event_type").isin("click", "purchase"))
      .where(col("event_type") =!= "click" || col("value") =!= 0) // invalid quotes
      // poison-pill tolerance: null fields must not kill the query
      .where(col("ts").isNotNull && col("event_id").isNotNull &&
        col("value").isNotNull)
      .select(
        graft.operators.Payments.currencyOf.as("currency"),
        col("ts"), col("event_id").as("id"),
        (col("event_type") === "purchase").as("isPurchase"),
        col("value"))
      .as[XEv]
      .groupByKey(_.currency)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (cur: String, evs: Iterator[XEv], state: GroupState[LastRate]) => {
          val out = Seq.newBuilder[XRate]
          var last = state.getOption
          evs.toSeq.sortBy(e => (e.ts.getTime, e.id)).foreach { e =>
            if (!e.isPurchase) {
              if (last.forall(l => l.tsMs < e.ts.getTime ||
                  (l.tsMs == e.ts.getTime && l.id < e.id)))
                last = Some(LastRate(e.ts.getTime, e.id, e.value))
            } else last.foreach { l =>
              out += XRate(e.id, cur, l.rate, e.value / l.rate)
            }
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  /** Event-time sessionization on the stream: Spark's native
    * `session_window` (gap-merged windows, watermark-closed) — the
    * streaming dual of the batch gaps-and-islands `sessionStats`.
    * State per open session only.
    */
  def sessionFunnel(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming poll sampler — the reference's every-10-seconds poll
    * loop logging every `n`-th poll (kinesis-pay.php:232, :303) as a
    * live stream op: deterministic every-Nth admission (stateless,
    * partition-local — the same `event_id % n` rule as the batch
    * `Payments.pollSample`, so batch reconciliation is exact) feeding
    * a watermarked tumbling count per event type. Emits one row per
    * closed (window, type): the sampled poll-log rate a dashboard
    * watches.
    */
  def polledSample(events: DataFrame, n: Int = 10,
      windowLen: String = "10 seconds",
      watermarkDelay: String = "10 seconds"): DataFrame =
    events
      .where(col("event_id") % n === 0)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_sampled"), col("total_value"))

  /** Streaming OHLC — the live dual of the batch
    * [[graft.operators.Payments.rateOhlc]] (the reference's orderbook
    * feed, kinesis-pay.php:468-485, as a live dashboard): tumbling
    * event-time windows per currency, open/close as min_by/max_by on
    * the (ts, event_id) composite — the SAME deterministic tie-break
    * as batch, so a closed window equals the batch row for its day
    * exactly (spec-asserted). The tick gate is the shared
    * [[graft.operators.Payments.ticksOf]], so live and batch cannot
    * drift on what counts as a tick.
    *
    * Scale shape: identical to batch — all five aggregates (including
    * the argmin/argmax structs) combine map-side, the shuffle moves one
    * partial row per (currency, window) per task, and the watermark
    * bounds state to open windows.
    */
  def liveRateOhlc(events: DataFrame, windowLen: String = "1 day",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.operators.Payments.ticksOf(events)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("currency"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_rate"),
        max(col("value")).as("high_rate"),
        min(col("value")).as("low_rate"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_rate"),
        count(lit(1)).as("n_ticks"))
      .select(col("window.start").as("win_start"), col("currency"),
        col("open_rate"), col("high_rate"), col("low_rate"),
        col("close_rate"), col("n_ticks"))

  /** At-most-once admission: drop duplicate event ids arriving within
    * the watermark horizon (the reference's "transaction already
    * processed" guard, kinesis-pay.php:515-530, as a stream op).
    * State is one key per event inside the horizon — bounded.
    */
  def dedupedEvents(events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus intake: the batch cleaning gate
    * ([[graft.operators.TextOps.cleanCorpus]] — token floor, stopword
    * quality floor, exact dedup) applied AS DOCUMENTS ARRIVE, so a
    * continuously-collected corpus is curated on ingest instead of by
    * nightly batch. Same filters as batch (the projections are
    * identical Column expressions); dedup becomes
    * `dropDuplicatesWithinWatermark` on the content hash — exact-dup
    * state is one md5 per surviving doc inside the watermark horizon,
    * bounded, vs batch's global keep-first. Contract difference, by
    * streaming necessity: batch keeps the MIN doc_id of a duplicate
    * set; streaming keeps the FIRST-ARRIVED inside the horizon, and a
    * dup re-arriving after the horizon passes is re-admitted (the
    * horizon is the dedup scope — size it to the collector's replay
    * window).
    *
    * Input needs an event-time column `ingest_ts` alongside the
    * documents schema.
    */
  def cleanDocStream(docs: DataFrame, minTokens: Int = 10,
      minStopRatio: Double = 0.05,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    docs
      .select(Seq(col("doc_id"), col("lang"), col("source"),
        col("ingest_ts")) ++ graft.operators.TextOps.cleaningScores: _*)
      .where(col("n_tok") >= minTokens && col("stop_ratio") >= minStopRatio)
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
      .select("doc_id", "lang", "source", "n_tok")
  }

  /** Streaming markup front door — [[graft.operators.TextOps
    * .textExtract]] applied as a row-LOCAL stream projection, the
    * intake stage a real collector runs BEFORE any text gate (crawls
    * deliver HTML, not prose): tag strip + jusText-class boilerplate
    * line removal per arriving page, no state, no watermark, no
    * shuffle — the gate runs at ingest parallelism forever. The
    * extraction expressions are the batch op's own (the shared
    * [[graft.operators.TextOps.textExtractCols]] core), so stream and
    * batch extracts are bit-equal by construction (spec-asserted).
    *
    * Returns the page's passthrough columns (lang, source, ingest_ts,
    * …) with `text` = the extract plus the line inventories and
    * `is_empty` (every line fell to the boilerplate rules) — a FLAG,
    * not a filter: the quarantine convention, so an all-boilerplate
    * page routes to a rejects sink instead of vanishing.
    */
  def extractDocStream(pages: DataFrame, htmlCol: String = "html",
      minWords: Int = 5, maxLinkDensity: Double = 0.34): DataFrame =
    graft.operators.TextOps
      .textExtractCols(pages, htmlCol, minWords, maxLinkDensity)
      .withColumn("is_empty", col("n_content_lines") === 0)
      .withColumn("text", col("extract"))
      .drop(htmlCol, "extract")

  /** Streaming benchmark-contamination gate — "never ingest eval
    * data": each ARRIVING document is flagged when any of its word
    * `n`-grams hits a Bloom filter built ONCE (driver-side, eager)
    * over the BATCH benchmark set's shingles — the
    * [[graft.operators.Curation.decontaminateBloom]] build applied as
    * a row-LOCAL stream predicate: no state, no watermark, no
    * shuffle — the flag is a per-row array membership fold, so the
    * gate runs at ingest parallelism forever.
    *
    * Failure direction is the safe one: a Bloom filter has NO false
    * negatives, so a contaminated document is NEVER admitted; false
    * positives (rate `fpp` per distinct shingle) drop at most a few
    * clean documents — for eval-set hygiene that is the correct
    * trade, and the flag (not a hard filter) is returned so callers
    * can route rejects to a quarantine sink instead of losing them.
    * The filter bits are deterministic (Spark's BloomFilterImpl seeds
    * are fixed), so replays flag identically. Returns EVERY input
    * column (the rejected document's content included — a quarantine
    * sink needs it) plus `is_contaminated`.
    *
    * The shingle construction and the bloom build are
    * [[graft.operators.Curation.shingleFrame]] /
    * [[graft.operators.Curation.benchmarkBloom]] — the same
    * definitions the batch decontamination family joins on, so the
    * gate cannot drift from the operators that audit it.
    */
  def contamGateDocStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 4, fpp: Double = 0.03): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    import graft.functions.TextFunctions.{shingleKey, shingleStructs, tokenize}
    val bench = graft.operators.Curation.shingleFrame(benchmark, n, hashed = false)
      .select(col("shingle")).distinct()
      .localCheckpoint() // one materialization for count + bloom build
    val flag = graft.operators.Curation.benchmarkBloom(bench, fpp)
      .map(bytes =>
        // exists() short-circuits on the first bloom hit and
        // allocates nothing — this predicate runs per row on the
        // forever-running ingest path
        exists(shingleStructs(tokenize(col("text")), n),
          z => call_function("bloom_contains", lit(bytes),
            xxhash64(shingleKey(z, n, hashed = false)))))
      .getOrElse(lit(false))
    // coalesce: a null-text poison row has no gram semantics — flag
    // it false rather than null (nearDupDocStream's tolerance policy)
    docs.select(col("*"),
      coalesce(size(tokenize(col("text"))) >= n && flag, lit(false))
        .as("is_contaminated"))
  }

  /** Row-local ingest-time COMPRESSION gate — the streaming face of
    * [[graft.operators.TextOps.compressRatio]]: per arriving document,
    * the zlib deflate ratio (the codegen `deflate_len` kernel) and the
    * same two-tail verdict, with NO state, no watermark, no shuffle —
    * a pure projection the forever-running ingest path absorbs at
    * scan speed. Ratio and verdicts are the batch operator's own
    * column definitions ([[graft.operators.TextOps.zlibRatioCol]] /
    * `zlibVerdict`), so gate and audit cannot drift (the
    * contamGateDocStream discipline). Returns EVERY input column (a
    * quarantine sink needs the rejected content) plus `ratio`, `keep`,
    * `fail_reasons`; a null/empty-text poison row has no ratio
    * semantics and gates keep=false, reason `empty` — a quarantine
    * decision must be total.
    */
  def compressGateDocStream(docs: DataFrame, lowCut: Double = 0.25,
      highCut: Double = 1.0): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val nBytes = octet_length(col("text")).cast("long")
    val measured = docs.select(col("*"), nBytes.as("n_bytes"),
      call_function("deflate_len", col("text")).as("zlib_len"))
    // the division must sit INSIDE the n_bytes guard: ANSI mode makes
    // x/0 an error, not an Inf, and the verdict comparisons would
    // otherwise evaluate it for the empty row (null ratio propagates
    // null verdicts, which the keep coalesce resolves to false)
    val ratio = when(col("n_bytes") > 0, graft.operators.TextOps.zlibRatioCol)
    val (keep, why) = graft.operators.TextOps.zlibVerdict(ratio, lowCut, highCut)
    measured.select(col("*"),
      ratio.as("ratio"),
      coalesce(col("n_bytes") > 0 && keep, lit(false)).as("keep"),
      when(col("n_bytes") > 0, why).otherwise(lit("empty")).as("fail_reasons"))
      .drop("n_bytes", "zlib_len")
  }

  /** Ingest-time quality scoring under a persisted frozen bigram LM
    * ([[graft.operators.TextOps.writeLmIndex]]) — the CCNet-style
    * reference-model filter deployed AT THE STREAM HEAD: every
    * arriving snapshot scores on the SAME scale because the model
    * never retrains on the stream. Each document's bigrams left-join
    * the stored model (stream-static — stateless, no stream state for
    * the join side), the vocabulary size loads ONCE as a driver
    * literal at plan build (the contamGateDocStream eager-artifact
    * rule), and ONE watermarked per-(window, doc) aggregation emits
    * (win_start, doc_id, n_bigrams, avg_logprob) as windows close.
    *
    * Batch duality (spec-asserted): rows equal
    * [[graft.operators.TextOps.lmScoreFrom]] on the same documents
    * bit-for-bit — the log-prob column is the SHARED
    * `TextOps.lmLogProb` definition, and per-occurrence DECIMAL
    * summation is fold-order-free, so stream batching cannot shift a
    * score. Docs with < 2 tokens emit no row (the batch contract).
    */
  def lmScoreDocStream(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame, windowLen: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val (pairs, firsts, vocab) =
      graft.operators.TextOps.readLmArtifacts(spark, indexPath)
    graft.operators.TextOps.lmBigrams(
        docs.withWatermark("ingest_ts", watermarkDelay), "doc_id", "ingest_ts")
      .join(pairs, Seq("w1", "w2"), "left")
      .join(firsts, Seq("w1"), "left")
      .groupBy(window(col("ingest_ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(graft.operators.TextOps.lmLogProb(lit(vocab))).as("sum_lp"))
      .select(col("window.start").as("win_start"), col("doc_id"),
        col("n_bigrams"),
        (col("sum_lp").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_logprob"))
  }

  /** Streaming frozen-DSIR importance scoring — the
    * [[graft.operators.Curation.dsirScoreFrom]] serve leg run at the
    * stream head (the [[lmScoreDocStream]] shape): each arriving
    * document's hashed unigram+bigram features LEFT-join the STORED
    * ratio rows (stream-static join, broadcast at any scale), unseen
    * buckets take the same add-one floor row, and ONE watermarked
    * window aggregate assembles the per-doc DECIMAL sum — so an
    * ingest-time sampler can admit documents ∝ exp(log_weight) under
    * exactly the weights the batch pipeline trained. Feature
    * construction and the floor ARE the batch definitions
    * ([[graft.operators.Curation.dsirFeatures]]' expressions /
    * [[graft.operators.Curation.readDsirServeFrames]]) — closed
    * windows are bit-equal to dsirScoreFrom (spec).
    *
    * State is O(open windows × docs-in-window), bounded by the
    * watermark; the model side is static and never grows.
    */
  def dsirScoreDocStream(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame, windowLen: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val (ratio, floorRow, buckets, targetEvery, targetRem) =
      graft.operators.Curation.readDsirServeFrames(spark, indexPath)
    // the batch serve leg's own feature construction, with ingest_ts
    // carried through (one definition — the surfaces cannot drift)
    graft.operators.Curation
      .dsirFeatureRows(docs, buckets, carryCols = Seq("ingest_ts"))
      .withWatermark("ingest_ts", watermarkDelay)
      .join(ratio, Seq("b"), "left")
      .crossJoin(broadcast(floorRow))
      .groupBy(window(col("ingest_ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        sum(coalesce(col("lr"), col("floor_lr"))).as("sum_lw"))
      .select(col("window.start").as("win_start"), col("doc_id"),
        graft.operators.Curation
          .dsirTargetExpr(col("doc_id"), targetEvery, targetRem)
          .as("is_target"),
        col("n_feat"), col("sum_lw").cast("double").as("log_weight"))
  }

  /** Streaming quality-probe gate — the frozen classifier
    * ([[graft.operators.Curation.writeProbeIndex]]) applied at
    * ingest: each arriving document is scored sigmoid(w·x + b) under
    * the STORED weights and flagged `keep = score >= minScore`. The
    * sixth ingest-gate modality, and the simplest shape of all of
    * them: a stateless pure projection — no state, no watermark, no
    * shuffle — because the hashed-count embedding is computed
    * row-LOCALLY (per bucket, a count over the token array) instead
    * of through [[graft.operators.TextOps.hashEmbed]]'s two batch
    * aggregates, and the weights ride as a literal through the same
    * codegen `dot_f32` kernel.
    *
    * No-drift discipline: the per-row embedding is spec-asserted
    * bit-equal to the batch hashEmbed (same md5 bucketing, same
    * exact-integer norm², same 6-dp round-then-float), and the score
    * and label expressions ARE the batch definitions
    * ([[graft.operators.Curation.probeScoreExpr]] /
    * [[graft.operators.Curation.probeTargetExpr]]) — so the gate's
    * admit decision equals what the batch audit
    * ([[graft.operators.Curation.probeEval]]) would grade. The
    * row-local build pays O(dim · tokens) interpreted lambda work per
    * document — the price of statelessness; the batch serve leg keeps
    * the aggregate shape for full-corpus scoring.
    *
    * Tokenless documents (every token empty) are dropped, matching
    * hashEmbed's no-row contract. Returns
    * (doc_id, ingest_ts, is_target, score, keep).
    */
  def probeGateDocStream(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame,
      minScore: Double = 0.5): DataFrame =
    probeScoredStream(spark, indexPath, docs)
      .select(col("doc_id"), col("ingest_ts"),
        col("probe_is_target").as("is_target"),
        col("probe_score").as("score"))
      .withColumn("keep", col("score") >= minScore)

  /** [[probeGateDocStream]]'s scoring core in CARRIER form: every
    * input column rides through plus `probe_is_target` /
    * `probe_score`, so the composed curation chain
    * ([[curateDocStream]]) can gate on the frozen classifier without
    * dropping the document payload the sink needs. One definition —
    * the standalone gate is a projection of this frame, so the two
    * surfaces cannot drift.
    */
  private[streaming] def probeScoredStream(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{hashBucket, tokenize}
    graft.GraftFunctions.register(spark)
    val (w, b, dim, targetEvery, targetRem) =
      graft.operators.Curation.readProbeArtifacts(spark, indexPath)
    val toks = filter(tokenize(col("text")), t => t =!= "")
    // internals carry a reserved __probe_ prefix: the carrier contract
    // ("every input column rides through") must hold for inputs that
    // already have a cnts/norm2/embedding column (review finding)
    docs
      .where(size(toks) >= 1)
      .withColumn("__probe_cnts", transform(sequence(lit(0), lit(dim - 1)),
        j => size(filter(toks, t => hashBucket(t, dim) === j)).cast("long")))
      .withColumn("__probe_norm2",
        aggregate(col("__probe_cnts"), lit(0L), (acc, c) => acc + c * c))
      .withColumn("__probe_emb", transform(col("__probe_cnts"), c =>
        round(c.cast("double") / sqrt(col("__probe_norm2").cast("double")), 6)
          .cast("float")))
      .withColumn("probe_is_target", graft.operators.Curation
        .probeTargetExpr(col("doc_id"), targetEvery, targetRem))
      .withColumn("probe_score",
        graft.operators.Curation.probeScoreExpr(col("__probe_emb"), w, b))
      .drop("__probe_cnts", "__probe_norm2", "__probe_emb")
  }

  /** Streaming event-validity gate — the per-row ingest dual of
    * [[graft.operators.Payments.dataQuality]]'s scan-local rules
    * (shared rule definitions — the two surfaces cannot drift; the
    * referential rules stay batch-only, see the rules' scaladoc):
    * each arriving event carries `keep` and a comma-joined
    * `fail_reasons` naming every violated rule, so a quarantine
    * sink routes rejects with their WHY attached. Stateless pure
    * projection (codegen when-chains through concat_ws, which skips
    * the null non-failures — no higher-order array functions, the
    * §5b interpreted-lambda trap), appendable behind any source,
    * no watermark needed.
    */
  def validityGateEventStream(events: DataFrame): DataFrame = {
    val rules = graft.operators.Payments.eventValidityRules
    val why = concat_ws(",", rules.map { case (name, cond) =>
      when(coalesce(cond, lit(false)), lit(name))
    }: _*)
    events.select(col("*"), why.as("fail_reasons"))
      .withColumn("keep", col("fail_reasons") === "")
  }

  /** One document keyed by its minhash LSH band. */
  case class BandDoc(band: String, docId: Long, md5: String)
  case class NearDupFlag(docId: Long, isNeardup: Boolean, band: String)
  case class BandState(firstMd5: String)

  /** Streaming NEAR-duplicate first-pass gate — the live counterpart
    * of the batch minhash chain's candidate stage: each arriving
    * document is keyed by one LSH band (`bandLen` minima of
    * xxhash64(seedᵢ ++ token) over its DISTINCT token set — computed
    * row-locally as array_min over a per-seed transform, so banding
    * needs no aggregation state and no shuffle beyond the band
    * groupBy), and flagged `is_neardup` when its band was already
    * claimed by a DIFFERENT text inside the TTL horizon. Exact copies
    * (same md5) are NOT flagged — [[cleanDocStream]]'s
    * dropDuplicatesWithinWatermark owns exact dedup; this gate flags
    * the near-miss rewrites that slip past a content hash.
    *
    * Honest contract (the batch chain stays the authority): ONE band
    * catches a pair with probability J^bandLen (J = true Jaccard) —
    * J=0.95 → 0.81, J=0.8 → 0.41 at the default bandLen=4 — and the
    * comparison is to the band's FIRST claimant (the SemDeDup-style
    * chain rule), so this is a cheap INGEST-TIME candidate flag
    * feeding span/batch verification downstream, not a verified
    * verdict; the multi-band, exactly-verified path is the batch
    * minhash chain. State is one md5 per band active inside the TTL
    * horizon (bounded by traffic, the [[liveLatestStatusTtl]]
    * contract); eviction + re-admission unit-spec'd via
    * TestGroupState.
    */
  def nearDupDocStream(docs: DataFrame, bandLen: Int = 4,
      ttlMs: Long = 3600 * 1000L): Dataset[NearDupFlag] = {
    val (band, nToks) = textBandCols(bandLen)
    claimBands(docs
      // poison-pill tolerance (typedStatusEvents' policy): a null in a
      // non-nullable encoder field would KILL the query; a wordless
      // doc has no band semantics (size(null) is null -> dropped too)
      .where(col("doc_id").isNotNull && nToks > 0)
      .select(band.as("band"),
        col("doc_id").cast("long").as("docId"),
        md5(col("text")).as("md5"))
      .as(bandDocEnc), ttlMs)
  }

  /** THE text banding convention — `bandLen` seeded xxhash64 minima
    * over the distinct-token set, underscore-joined — as (band key,
    * token count) columns. ONE definition shared by
    * [[nearDupDocStream]] and the composed chain's claim
    * ([[curateDocStream]]): the seed scheme and the distinct-token
    * filter are what make "same text ⇒ same band" hold, and two
    * copies of them could drift (review finding).
    */
  private def textBandCols(bandLen: Int)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val toks = array_distinct(
      filter(graft.functions.TextFunctions.tokenize(col("text")),
        t => t =!= ""))
    val minima = (0 until bandLen).map(i =>
      array_min(transform(toks, t => xxhash64(concat(lit(s"mh$i:"), t)))))
    (concat_ws("_", minima.map(_.cast("string")): _*), size(toks))
  }

  /** THE band-claim protocol — first arrival claims, the stored md5
    * separates exact copies from near-miss rewrites, any activity
    * renews the TTL. ONE definition under both [[nearDupStep]] (flag
    * form) and [[claimStep]] (verdict form).
    */
  private def claimVerdict(md5: String,
      state: GroupState[BandState]): String =
    state.getOption match {
      case None =>
        state.update(BandState(md5)); "kept"
      case Some(s) =>
        if (s.firstMd5 == md5) "exact_dup" else "near_dup"
    }

  /** One gated document headed into the band claim, payload carried. */
  case class ClaimDoc(band: String, docId: Long, md5: String, text: String,
    lang: String, source: String, nTok: Long, probeScore: Double)

  /** One curated document out of the composed chain: `verdict` is
    * `kept` (band claimed — this doc lands), `exact_dup` (same band,
    * same md5 as the claimant) or `near_dup` (same band, different
    * text — the candidate flag).
    */
  case class CuratedDoc(docId: Long, text: String, lang: String,
    source: String, nTok: Long, probeScore: Double, band: String,
    verdict: String)

  /** The COMPOSED streaming curation chain — the ingest twin of the
    * batch capstone [[graft.operators.Curation.curateCorpus]]
    * (q_curate_pipeline), run as ONE query with ONE checkpoint
    * (r10 verdict item #2; production ingest does not run ten gates as
    * ten separately-checkpointed streams):
    *
    *   1. benchmark holdout (`doc_id % benchmarkEvery != 0` — the
    *      curateCorpus convention);
    *   2. cleaning gate (the batch [[graft.operators.TextOps
    *      .cleaningScores]] floors, text carried — stateless);
    *   3. contamination gate ([[contamGateDocStream]]'s Bloom
    *      predicate — stateless, no false negatives);
    *   4. frozen-probe quality gate ([[probeScoredStream]] ≥
    *      `minScore` — stateless, stored weights as literals);
    *   5. band CLAIM ([[claimStep]]): ONE keyed state subsumes BOTH
    *      dedup stages — exact copies tokenize identically, so they
    *      always share the band key (deterministic minima of the same
    *      distinct-token set), and the claimant's stored md5 separates
    *      `exact_dup` (same text — the cleanDocStream
    *      dropDuplicatesWithinWatermark semantics, here under the TTL
    *      horizon) from `near_dup` (different text in a claimed band —
    *      [[nearDupDocStream]]'s candidate flag, same honest
    *      one-band-probability contract; the batch minhash chain stays
    *      the verified authority).
    *
    * Keeping dedup inside the claim is what makes the chain ONE
    * stateful operator — a `dropDuplicatesWithinWatermark` ahead of
    * the flatMapGroupsWithState would be a second stateful exchange
    * the claim makes redundant. (It IS admitted by Spark 4's
    * unsupported-operations checker — only EventTimeTimeout
    * flatMapGroupsWithState, append-mode aggregates and stream-stream
    * joins are "cannot be followed" operations, and this claim uses
    * ProcessingTimeTimeout; [[graft.streaming.DocStream
    * .fromWarc]] feeding it relies on exactly that chained form
    * for its CONTENT-INDEPENDENT stage-0 URL dedup, where the key is
    * not derivable from the claim's text state. Redundancy, not
    * admissibility, is why TEXT dedup stays folded in here.)
    * Within a micro-batch, claims go to the LOWEST docId (the batch
    * keep-first convention — parity-spec'd); across batches the
    * claimant is first-arrival inside the TTL horizon, the documented
    * streaming-necessity divergence. DSIR annotation and the split
    * stamp are batch-local projections and land in the sink's
    * foreachBatch ([[DocStream.curatePipeline]]), not here — they gate
    * nothing.
    */
  def curateDocStream(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, benchmark: DataFrame, probeIndexPath: String,
      minTokens: Int = 10, minStopRatio: Double = 0.05,
      benchmarkEvery: Int = 10, contamN: Int = 4, fpp: Double = 0.03,
      minScore: Double = 0.5, bandLen: Int = 4,
      ttlMs: Long = 3600 * 1000L): Dataset[CuratedDoc] = {
    implicit val outEnc = Encoders.product[CuratedDoc]
    implicit val keyEnc = Encoders.STRING
    implicit val cdEnc = Encoders.product[ClaimDoc]
    implicit val stEnc = Encoders.product[BandState]
    val train = docs.where(pmod(col("doc_id"), lit(benchmarkEvery)) =!= 0)
    val scored = train.select(Seq(col("doc_id"), col("text"), col("lang"),
        col("source"), col("ingest_ts")) ++
        graft.operators.TextOps.cleaningScores: _*)
      .where(col("n_tok") >= minTokens && col("stop_ratio") >= minStopRatio)
    val decon = contamGateDocStream(scored, benchmark, contamN, fpp)
      .where(!col("is_contaminated"))
    val probed = probeScoredStream(spark, probeIndexPath, decon)
      .where(col("probe_score") >= minScore)
    val (band, nToks) = textBandCols(bandLen)
    probed
      .where(col("doc_id").isNotNull && nToks > 0)
      .select(band.as("band"),
        col("doc_id").cast("long").as("docId"),
        md5(col("text")).as("md5"), col("text"), col("lang"),
        col("source"), col("n_tok").cast("long").as("nTok"),
        col("probe_score").cast("double").as("probeScore"))
      .as[ClaimDoc]
      .groupByKey(_.band)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout())(
        (band: String, ds: Iterator[ClaimDoc], state: GroupState[BandState]) =>
          claimStep(band, ds, state, ttlMs))
  }

  /** One band-claim step of [[curateDocStream]] — [[nearDupStep]]'s
    * protocol with the payload carried and the exact/near verdict
    * split. Visible for unit tests (TestGroupState).
    */
  private[streaming] def claimStep(band: String, ds: Iterator[ClaimDoc],
      state: GroupState[BandState], ttlMs: Long): Iterator[CuratedDoc] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // lowest docId claims (replay-stable + the batch keep-first rule)
      val sorted = ds.toSeq.sortBy(_.docId)
      val out = sorted.map { d =>
        CuratedDoc(d.docId, d.text, d.lang, d.source, d.nTok,
          d.probeScore, band, claimVerdict(d.md5, state))
      }
      state.setTimeoutDuration(ttlMs)
      out.iterator
    }
  }

  /** Streaming IMAGE near-duplicate gate (r9) — the ingest-time dual
    * of [[graft.operators.Dedup.perceptualPairsFrom]] over image
    * dHashes, and the multimodal
    * twin of [[nearDupDocStream]]: each arriving image is decoded
    * row-locally (REAL raster decode, the batch pixel-budget guard),
    * dHashed, split into the SAME pigeonhole bands as the batch op
    * (band count = next divisor of 64 above `maxHamming`, so any pair
    * within the hamming budget shares ≥1 band), and each band row is
    * flagged when its band was already claimed by a DIFFERENT payload
    * (md5 of the bytes) inside the TTL horizon. Exact byte-copies are
    * NOT flagged — an exact-dedup stage owns those — and undecodable/
    * video payloads are dropped at the gate (no band semantics), the
    * batch op's exclusion rule.
    *
    * Output is one [[NearDupFlag]] row per (image, band); an image is
    * a near-dup CANDIDATE iff any of its rows is flagged (downstream
    * aggregates by docId). Honest contract mirrors the text gate: the
    * comparison is to each band's FIRST claimant inside the TTL, so
    * this is a cheap ingest-time candidate flag feeding the verified
    * batch pass — state is one md5 per active band (bounded by
    * traffic), same [[nearDupStep]] core, same eviction/TTL unit
    * specs.
    */
  def imageDupDocStream(media: Dataset[graft.operators.MultimodalOps.MediaRow],
      maxHamming: Int = 5, ttlMs: Long = 3600 * 1000L,
      maxPixels: Long = graft.operators.MultimodalOps.DefaultMaxPixels)
      : Dataset[NearDupFlag] = {
    // the batch op's own band schedule — shared derivation, not a copy
    val (nBands, width, mask) =
      graft.operators.Dedup.pigeonholeBands(maxHamming)
    claimBands(media.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { m =>
        val img =
          // null payload = poison row (a nullable binary column
          // deserializes to null): no band semantics, drop — the
          // sibling gates' tolerance policy, and a bare .isEmpty here
          // would NPE and kill the forever-running query
          if (m.payload == null || m.format == "video" || m.payload.isEmpty)
            None
          else graft.operators.MultimodalOps.decodeForHash(m.payload, maxPixels)
        img match {
          case None => Iterator.empty // poison tolerance: no band semantics
          case Some(h) =>
            digest.reset()
            val md5hex = digest.digest(m.payload)
              .map(b => f"$b%02x").mkString
            (0 until nBands).iterator.map { b =>
              BandDoc(s"$b:${(h >> (b * width)) & mask}", m.docId, md5hex)
            }
        }
      }
    }(bandDocEnc), ttlMs)
  }

  /** Streaming AUDIO near-duplicate gate (r9 session 4) — the
    * ingest-time dual of [[graft.operators.Dedup.perceptualPairsFrom]]
    * over audio energy hashes,
    * completing the per-modality gate family (text
    * [[nearDupDocStream]], image [[imageDupDocStream]], this): each
    * arriving clip is decoded row-locally (REAL RIFF/WAV parse, the
    * batch bomb clamps), energy-delta hashed, split into the SAME
    * pigeonhole bands as the batch op, and flagged when a band was
    * already claimed by a DIFFERENT payload inside the TTL horizon.
    * Exact byte-copies are NOT flagged (an exact-dedup stage owns
    * those); undecodable / non-audio / too-short / digitally-silent
    * clips are dropped at the gate — the batch op's degenerate-hash
    * exclusion rule, which matters MORE live: an all-tie hash would
    * claim every band for the first silent clip and flag every later
    * one. Same TTL/first-claimant honesty contract and bounded state
    * as the siblings (shared [[nearDupStep]]).
    */
  def audioDupDocStream(audio: Dataset[graft.operators.AudioOps.AudioRow],
      maxHamming: Int = 5, ttlMs: Long = 3600 * 1000L,
      maxSamples: Long = graft.operators.AudioOps.DefaultMaxSamples)
      : Dataset[NearDupFlag] = {
    val (nBands, width, mask) =
      graft.operators.Dedup.pigeonholeBands(maxHamming)
    claimBands(audio.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { m =>
        val h =
          if (m.payload == null || m.format != "audio" || m.payload.isEmpty)
            None
          else graft.operators.AudioOps.decodeWav(m.payload, maxSamples)
            .flatMap(p => graft.operators.AudioOps.energyHash64(p.mono))
        h match {
          case None => Iterator.empty // poison tolerance: no band semantics
          case Some(v) =>
            digest.reset()
            val md5hex = digest.digest(m.payload)
              .map(b => f"$b%02x").mkString
            (0 until nBands).iterator.map { b =>
              BandDoc(s"$b:${(v >> (b * width)) & mask}", m.docId, md5hex)
            }
        }
      }
    }(bandDocEnc), ttlMs)
  }

  /** Streaming VIDEO near-duplicate gate (r9 session 5) — the
    * ingest-time dual of [[graft.operators.Dedup.videoDedupPairs]],
    * completing the per-modality gate family across all four
    * modalities (text, image, audio, this): each arriving clip is
    * container-parsed row-locally (REAL AVI/MJPEG decode, the batch
    * bomb clamps), its leading ≤ `maxFrames` frames are dHashed
    * through the image pixel-budget guard, and every (frameIdx, band)
    * of each frame hash claims a key in the shared
    * [[nearDupStep]] state — the batch op's banding PER ALIGNED FRAME
    * INDEX, live: a clip sharing any frame-level band with a
    * DIFFERENT payload inside the TTL horizon is flagged a candidate.
    * Exact byte-copies are NOT flagged (exact dedup owns those);
    * non-AVI / undecodable clips and clips with zero hashable frames
    * drop at the gate (no band semantics — the batch exclusion rule).
    *
    * Honesty contract mirrors the siblings: this is the CANDIDATE
    * stage only — the batch op's mean-hamming + coverage verification
    * is what kills one-shared-still false positives, so downstream
    * routes flagged clips into [[graft.operators.Dedup.videoDedupPairs]]
    * rather than dropping on the flag. State is one md5 per active
    * (frame, band) key — `maxFrames × nBands` per distinct clip
    * prefix, TTL-evicted like every sibling gate.
    */
  def videoDupDocStream(media: Dataset[graft.operators.MultimodalOps.MediaRow],
      maxHamming: Int = 5, ttlMs: Long = 3600 * 1000L, maxFrames: Int = 64,
      maxPixels: Long = graft.operators.MultimodalOps.DefaultMaxPixels)
      : Dataset[NearDupFlag] = {
    val (nBands, width, mask) =
      graft.operators.Dedup.pigeonholeBands(maxHamming)
    claimBands(media.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { m =>
        val frames =
          if (m.payload == null || m.format != "video" || m.payload.isEmpty)
            Seq.empty
          else graft.operators.VideoOps.decodeAvi(m.payload, maxFrames)
            .map(_.frames).getOrElse(Seq.empty)
        val hashes = frames.iterator.zipWithIndex.flatMap { case (f, i) =>
          graft.operators.MultimodalOps.decodeForHash(f, maxPixels)
            .map(h => (i, h)).iterator
        }.toSeq
        if (hashes.isEmpty) Iterator.empty // poison/degenerate tolerance
        else {
          digest.reset()
          val md5hex = digest.digest(m.payload).map(b => f"$b%02x").mkString
          hashes.iterator.flatMap { case (i, h) =>
            (0 until nBands).iterator.map { b =>
              BandDoc(s"f$i:$b:${(h >> (b * width)) & mask}", m.docId, md5hex)
            }
          }
        }
      }
    }(bandDocEnc), ttlMs)
  }

  /** Streaming EMBEDDING near-duplicate gate (r10) — completes the
    * per-modality ingest gate family (text / image / audio / video /
    * embeddings): each arriving vector is keyed by its hyperplane-LSH
    * buckets through [[graft.operators.Similarity.lshBuckets]] ITSELF
    * (the batch op is a pure per-row projection — literal planes,
    * codegen `dot_f32`, zero aggregation state — so the stream runs
    * the identical bucket derivation, not a copy), and each
    * (vec, table) row is flagged when its bucket was already claimed
    * by a DIFFERENT vector content (md5 over the exact float values)
    * inside the TTL horizon. Exact copies are NOT flagged (identical
    * values ⇒ identical md5 — an exact-dedup stage owns those); null /
    * wrong-dim / non-finite vectors are dropped at the gate (no
    * bucket semantics, and a NaN dot would claim arbitrary buckets).
    *
    * Honest contract (the sibling gates' rule): one table catches a
    * pair with probability p(cos)^nPlanes and the comparison is to
    * the bucket's FIRST claimant, so this is an ingest-time CANDIDATE
    * flag feeding the exact-cosine batch verification
    * ([[graft.operators.Similarity.nearDupPairsLsh]] remains the
    * authority); state is one md5 per active (table, bucket) —
    * bounded by traffic, same [[nearDupStep]] core and TTL/eviction
    * unit specs.
    */
  def embedDupVecStream(embeddings: DataFrame, nTables: Int = 8,
      nPlanes: Int = 3, dim: Int = 64,
      ttlMs: Long = 3600 * 1000L): Dataset[NearDupFlag] = {
    val clean = embeddings.where(
      col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === dim &&
        forall(col("embedding"), v => !isnan(v) && !v.isNull))
    val buckets =
      graft.operators.Similarity.lshBuckets(clean, nTables, nPlanes, dim)
    claimBands(buckets
      .select(
        concat_ws("_", col("table_id").cast("string"),
          col("bucket").cast("string")).as("band"),
        col("vec_id").cast("long").as("docId"),
        md5(concat_ws(",", transform(col("embedding"),
          v => v.cast("string")))).as("md5"))
      .as(bandDocEnc), ttlMs)
  }

  /** One token routed to its owning shard. */
  case class TokShard(shard: Long, tok: String)
  case class HeavyHitter(shard: Long, token: String, estCount: Long)
  case class MgState(entries: Map[String, Long])

  /** LIVE heavy-hitter tokens — the streaming dual of
    * [[graft.operators.TextOps.heavyHitters]], same Misra-Gries core
    * ([[graft.plans.MisraGries]] — one definition, the surfaces
    * cannot drift): the token stream is hash-sharded
    * (`xxhash64(tok) mod shards` — every occurrence of a token lands
    * on ONE shard, so per-token guarantees come from that shard's
    * substream alone), each shard folds its tokens into a
    * `capacity`-bounded MG summary held in group state, and each
    * micro-batch re-emits the shard's current summary (Update mode:
    * downstream reads the LAST (shard, token) row as the running
    * estimate). A token EVICTED from its shard's summary between
    * consecutive batches emits one `estCount = 0` TOMBSTONE row (r9,
    * per ADVICE — tracked entries always carry est ≥ 1, so zero
    * unambiguously means "no longer tracked"): without it the last
    * row downstream read for an evicted token was its stale pre-
    * eviction estimate, indistinguishable from a live one. The MG
    * undercount bound holds for the tombstone too (an evicted token's
    * true count is ≤ the decrement total ≤ N_s/(capacity+1)).
    *
    * Guarantees per token (N_s = its shard's stream length so far):
    * est ≤ true ≤ est + N_s/(capacity+1) — TIGHTER than one global
    * summary, since sharding divides N. State is `shards × capacity`
    * counters — bounded a priori, which is why this op needs NO
    * timeout/TTL: unlike per-entity FSMs the key domain is the fixed
    * shard set, not the unbounded token vocabulary.
    *
    * `shards` is the parallelism knob (the [[graft.operators.Curation.packSequences]]
    * convention): at scale set ≈ cores; the per-batch shuffle carries
    * one (shard, token) pair per DISTINCT batch token, never raw
    * occurrences (map-side count pre-fold below).
    */
  def liveHeavyHitters(docs: DataFrame, capacity: Int = 256,
      shards: Int = 32): Dataset[HeavyHitter] = {
    implicit val outEnc = Encoders.product[HeavyHitter]
    implicit val keyEnc = Encoders.scalaLong
    implicit val tsEnc = Encoders.product[TokShard]
    implicit val stEnc = Encoders.product[MgState]
    val toks = filter(graft.functions.TextFunctions.tokenize(col("text")),
      t => t =!= "")
    docs
      .where(col("text").isNotNull)
      .select(explode(toks).as("tok"))
      .select(pmod(xxhash64(col("tok")), lit(shards.toLong)).as("shard"),
        col("tok"))
      .as[TokShard]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (shard: Long, ts: Iterator[TokShard], state: GroupState[MgState]) =>
          mgShardStep(shard, ts, state, capacity))
  }

  /** One shard step: fold the batch's tokens into the shard's MG
    * summary, emit the full current summary (≤ capacity rows).
    * Within-batch occurrences are pre-counted and fed through the
    * MERGE rule rather than token-by-token inserts — same bounds,
    * O(distinct) instead of O(occurrences) map operations — and the
    * pre-count also makes the fold independent of the micro-batch
    * iterator order (replay determinism; [[nearDupStep]]'s rationale).
    * Visible for unit tests (TestGroupState).
    */
  private[streaming] def mgShardStep(shard: Long, ts: Iterator[TokShard],
      state: GroupState[MgState], capacity: Int): Iterator[HeavyHitter] = {
    val prev = state.getOption.map(_.entries).getOrElse(Map.empty)
    val buf = scala.collection.mutable.HashMap.from(prev)
    val batch = scala.collection.mutable.HashMap.empty[String, Long]
    ts.foreach(t => batch.update(t.tok, batch.getOrElse(t.tok, 0L) + 1))
    graft.plans.MisraGries.merge(buf, batch, capacity)
    state.update(MgState(buf.toMap))
    // zero-count tombstones for entries the merge evicted since the
    // last emitted summary — downstream's last-row-wins read then
    // distinguishes "currently tracked" from "evicted batches ago"
    val evicted = (prev.keySet -- buf.keySet).toSeq.sorted
      .map(t => HeavyHitter(shard, t, 0L))
    (buf.toSeq.sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) => HeavyHitter(shard, t, c) } ++ evicted)
      .iterator
  }

  /** One band step. Visible for unit tests (TestGroupState — the
    * data-then-timeout protocol cannot be orchestrated through
    * MemoryStream; [[statusTtlStep]]'s rationale).
    */
  case class LineOcc(lineHash: String, docId: Long, lineId: Long,
    line: String)
  case class LineFlag(docId: Long, lineId: Long, line: String,
    keep: Boolean)
  case class LineSeen(ownDoc: Long, ownLine: Long)

  /** Streaming LINE-level exact dedup — the ingest twin of
    * [[graft.operators.TextOps.lineDedup]] and the shape Dolma's
    * paragraph dedup actually RUNS as (Soldaini et al. 2402.00159
    * §2.3 updates a Bloom filter online: the first occurrence of a
    * paragraph lands, later occurrences drop — an arrival-order
    * claim, exactly this protocol with exact state instead of a
    * Bloom's false-positive risk): each arriving doc explodes into
    * trimmed non-empty lines ROW-LOCALLY (no shuffle before the
    * claim), lines of at least `minChars` characters key by their
    * sha256 and CLAIM on first arrival — later occurrences inside the
    * TTL horizon emit `keep = false`; shorter lines are exempt and
    * ride through a stateless branch (the batch operator's guard: a
    * legitimate short repeat like "Introduction" must not burn state,
    * let alone drop). Within a micro-batch the claim goes to the
    * LOWEST (doc_id, line_id) — the batch operator's lexicographic
    * struct-min ownership, so replays flag the same occurrences.
    *
    * Contract vs batch, stated: batch ownership is GLOBAL min over
    * the whole corpus; the stream claims by ARRIVAL order under a TTL
    * (the [[liveLatestStatusTtl]] state-bound contract) — the same
    * claim-vs-recompute trade [[nearDupDocStream]] documents. State
    * is one (ownDoc, ownLine) pair per distinct live line — bounded
    * by traffic, and the hot boilerplate line is ONE state row no
    * matter how many pages carry it.
    */
  def lineDedupDocStream(docs: DataFrame, minChars: Int = 30,
      ttlMs: Long = 3600 * 1000L): Dataset[LineFlag] = {
    implicit val outEnc = Encoders.product[LineFlag]
    implicit val keyEnc = Encoders.STRING
    implicit val occEnc = Encoders.product[LineOcc]
    implicit val stEnc = Encoders.product[LineSeen]
    val lines = docs
      // poison-pill tolerance (typedStatusEvents' policy)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("docId"),
        posexplode(filter(transform(split(col("text"), "\\r?\\n"),
          l => trim(l)), l => l =!= "")).as(Seq("lineId", "line")))
      .select(col("docId"), col("lineId").cast("long").as("lineId"),
        col("line"))
    val exempt = lines
      .where(length(col("line")) < minChars)
      .select(col("docId"), col("lineId"), col("line"),
        lit(true).as("keep"))
      .as[LineFlag]
    val claimed = lines
      .where(length(col("line")) >= minChars)
      .select(sha2(col("line"), 256).as("lineHash"),
        col("docId"), col("lineId"), col("line"))
      .as[LineOcc]
      .groupByKey(_.lineHash)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout())(
        (h: String, os: Iterator[LineOcc], st: GroupState[LineSeen]) =>
          lineClaimStep(h, os, st, ttlMs))
    claimed.unionByName(exempt)
  }

  private[streaming] def lineClaimStep(hash: String,
      os: Iterator[LineOcc], state: GroupState[LineSeen],
      ttlMs: Long): Iterator[LineFlag] = {
    if (state.hasTimedOut) {
      state.remove() // idle past TTL: evict, emit nothing
      Iterator.empty
    } else {
      // micro-batch iterator order is not deterministic across
      // retries; claim by lowest (docId, lineId) — the batch
      // operator's ownership order — so replays keep the same line
      val sorted = os.toSeq.sortBy(o => (o.docId, o.lineId))
      val out = sorted.map { o =>
        val keep = state.getOption match {
          case None => state.update(LineSeen(o.docId, o.lineId)); true
          case Some(s) => s.ownDoc == o.docId && s.ownLine == o.lineId
        }
        LineFlag(o.docId, o.lineId, o.line, keep)
      }
      state.setTimeoutDuration(ttlMs) // any activity renews the TTL
      out.iterator
    }
  }

  private val bandDocEnc = Encoders.product[BandDoc]

  /** The five near-dup gates' shared tail: group the band rows by band
    * and run [[nearDupStep]] in keyed state with a processing-time TTL.
    * Each gate owns only its banding.
    */
  private def claimBands(rows: Dataset[BandDoc],
      ttlMs: Long): Dataset[NearDupFlag] = {
    implicit val outEnc = Encoders.product[NearDupFlag]
    implicit val keyEnc = Encoders.STRING
    implicit val stEnc = Encoders.product[BandState]
    rows.groupByKey(_.band)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout())(
        (band: String, ds: Iterator[BandDoc], state: GroupState[BandState]) =>
          nearDupStep(band, ds, state, ttlMs))
  }

  private[streaming] def nearDupStep(band: String, ds: Iterator[BandDoc],
      state: GroupState[BandState], ttlMs: Long): Iterator[NearDupFlag] = {
    if (state.hasTimedOut) {
      state.remove() // idle past TTL: evict, emit nothing
      Iterator.empty
    } else {
      // micro-batch iterator order is not deterministic across retries;
      // claim the band by lowest docId so replays flag the same docs
      val sorted = ds.toSeq.sortBy(_.docId)
      val out = sorted.map { d =>
        NearDupFlag(d.docId, claimVerdict(d.md5, state) == "near_dup", band)
      }
      state.setTimeoutDuration(ttlMs) // any activity renews the TTL
      out.iterator
    }
  }
}
