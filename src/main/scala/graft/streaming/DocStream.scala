package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/** Streaming corpus intake. Source adapters turn a landing directory
  * into a document stream `(doc_id, text, lang, source, ingest_ts)`:
  * JSONL docs ([[fromFiles]]), JSONL crawled pages ([[fromHtmlFiles]])
  * or WARC archives ([[fromWarc]]). [[curatePipeline]] runs any of
  * them through the composed curation chain into a checkpointed,
  * idempotent landing; [[cleanPipeline]] is the lighter clean-only
  * intake into a lang-partitioned parquet corpus — the streaming
  * counterpart of batch `cleanCorpus` → `CorpusStore.write`.
  *
  * In both, the file source's processed-file log lives under the
  * CHECKPOINT dir, so a killed query resumes where it stopped.
  * [[cleanPipeline]]'s parquet sink keeps its commit log under
  * `<outDir>/_spark_metadata`, so its output is exactly-once across
  * restarts (readers see only committed files), PROVIDED checkpoint
  * and output dirs are lifecycle-managed together: recreating one
  * while keeping the other desynchronizes the two logs (duplicate
  * re-emits or an inconsistent committed-file view).
  */
object DocStream {

  val docSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("text", StringType)
    .add("lang", StringType)
    .add("source", StringType)
    .add("ingest_ts", TimestampType)

  val pageSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("html", StringType)
    .add("lang", StringType)
    .add("source", StringType)
    .add("ingest_ts", TimestampType)

  /** JSONL file-stream of documents; malformed records are dropped
    * (poison-pill tolerance, same policy as the payment ingest).
    */
  def fromFiles(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    jsonLines(spark, dir, docSchema, "text", maxFilesPerTrigger)

  /** JSONL file-stream of crawled PAGES (`html` instead of `text`, the
    * same poison-pill policy) through [[StreamingOps.extractDocStream]]
    * (the batch extractor's own expressions — tag strip, boilerplate
    * line rules, entity decode): the streaming twin of the batch
    * [[graft.operators.Curation.curateCorpusFromHtml]]'s front door
    * (q_extract_pipeline). Extraction is a row-local stateless
    * projection, so it adds no stateful exchange and no checkpoint.
    *
    * All-boilerplate pages (every line fell to the word-floor /
    * link-density rules) carry an empty extract and fall at the
    * curation chain's token floor — a DETERMINISTIC stateless reject,
    * re-runnable from the raw page archive, so per the gate-reject
    * policy it is dropped, not quarantined.
    */
  def fromHtmlFiles(spark: SparkSession, dir: String, minWords: Int = 5,
      maxLinkDensity: Double = 0.34,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    extracted(jsonLines(spark, dir, pageSchema, "html", maxFilesPerTrigger),
      minWords, maxLinkDensity)

  /** A WARC landing directory as a document stream — the full crawl
    * intake: archives → [[graft.sources.WarcSource.pagesStream]]
    * (shared batch parser, poison-tolerant) → robots gates → stage-0
    * canonical-URL dedup → [[StreamingOps.extractDocStream]]. With
    * the batch q_warc_extract owning the crawl-dump → extraction
    * composition, this owns its streaming twin. WARC-Date is the
    * stream's event time (the watermark column), so replayed archives
    * dedup against the same state windows a live intake used.
    */
  def fromWarc(spark: SparkSession, dir: String, minWords: Int = 5,
      maxLinkDensity: Double = 0.34,
      urlDedupWatermark: String = "10 minutes",
      maxFilesPerTrigger: Option[Int] = None,
      robotsRules: Option[DataFrame] = None,
      robotsRulesFull: Option[DataFrame] = None): DataFrame = {
    require(robotsRules.isEmpty || robotsRulesFull.isEmpty,
      "fromWarc: pass robotsRules (disallow-prefix) OR " +
        "robotsRulesFull (RFC 9309 with Allow), not both — the full " +
        "gate's carve-outs would be re-dropped by the prefix gate")
    // stage-0 URL-level dedup, the published order (C4/RefinedWeb dedup
    // by canonical URL BEFORE any text work): re-fetches of one page
    // under decorated URLs drop here, before extraction pays for them.
    // The drop is SILENT by design — unlike a claim verdict, the
    // rejected row is the same RESOURCE as the kept one and the WARC
    // archive itself is the audit trail; quarantine stays reserved for
    // content-level decisions.
    // the robots opt-out is honored FIRST (a stateless deterministic
    // reject — re-runnable from the archive, so dropped not
    // quarantined, the gate-reject policy): a noindex page never
    // reaches the dedup state or the extractor
    val gated0 = graft.sources.WarcSource
      .pagesStream(spark, dir, maxFilesPerTrigger)
      .where(!graft.operators.WebOps.noindexCol(col("html")))
      .withColumn("url_canonical",
        graft.operators.WebOps.urlCanonicalCol(col("url")))
    // the robots.txt FILE-level twin (r13 verdict #7): when a parsed
    // (host, prefix) rules frame rides along ([[graft.operators.WebOps
    // .robotsTxtRules]] parses raw bodies), disallowed pages drop
    // BEFORE the dedup state and the extractor pay for them — a
    // stream-static LEFT ANTI join against the hosts-sized broadcast
    // rules table (the batch [[graft.operators.WebOps.robotsTxtGate]]
    // prefix semantics; same gate-reject policy as noindex: the
    // verdict is deterministic from the archive, so dropped not
    // quarantined — [[graft.operators.WebOps.robotsTxtAudit]] over the
    // same archive is the audit trail)
    val gated1 = robotsRules match {
      case None => gated0
      case Some(rules) =>
        gated0
          .withColumn("__host",
            graft.operators.WebOps.hostOf(col("url")))
          .withColumn("__path", regexp_extract(col("url_canonical"),
            "^[a-z][a-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1))
          .join(broadcast(rules.select(col("host").as("__rhost"),
              col("prefix").as("__prefix"))),
            col("__host") === col("__rhost") &&
              startswith(col("__path"), col("__prefix")), "left_anti")
          .drop("__host", "__path")
    }
    // the FULL RFC 9309 twin (late r14): the packed-rules row-local
    // argmax is stream-transparent, so the intake drop predicate IS
    // the batch gate's — one stream-static 1:1 join against the
    // hosts-sized packed array frame, then a stateless filter; a
    // longer Allow carve-out survives here exactly as it does in
    // [[graft.operators.WebOps.robotsTxtGateFull]] (the prefix-only
    // option above would drop it — hence the either/or contract)
    val gated = robotsRulesFull match {
      case None => gated1
      case Some(rules) =>
        val packed = graft.operators.WebOps.packedRobotsRules(rules)
          .select(col("host").as("__rhost"), col("rules").as("__rules"))
        gated1
          .withColumn("__host",
            graft.operators.WebOps.hostOf(col("url")))
          .withColumn("__path", regexp_extract(col("url_canonical"),
            "^[a-z][a-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1))
          .join(broadcast(packed),
            col("__host") === col("__rhost"), "left")
          .where(!graft.operators.WebOps.robotsDisallowedCol(
            col("__path"), col("__rules")))
          .drop("__host", "__path", "__rhost", "__rules")
    }
    val pages = gated
      .withWatermark("ingest_ts", urlDedupWatermark)
      .dropDuplicatesWithinWatermark("url_canonical")
    extracted(pages, minWords, maxLinkDensity)
  }

  /** The text and page adapters' shared JSON-lines reader: rows of
    * `schema` whose `body` column holds the document; malformed or
    * incomplete records are dropped, lang/source defaulted.
    */
  private def jsonLines(spark: SparkSession, dir: String,
      schema: StructType, body: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("text")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.load(dir)
      .select(from_json(col("value").cast("string"), schema).as("d"))
      .where(col("d.doc_id").isNotNull && col(s"d.$body").isNotNull &&
        col("d.ingest_ts").isNotNull)
      .select(col("d.doc_id").as("doc_id"), col(s"d.$body").as(body),
        coalesce(col("d.lang"), lit("und")).as("lang"),
        coalesce(col("d.source"), lit("unknown")).as("source"),
        col("d.ingest_ts").as("ingest_ts"))
  }

  /** Pages (an `html` column) → the document columns. */
  private def extracted(pages: DataFrame, minWords: Int,
      maxLinkDensity: Double): DataFrame =
    StreamingOps.extractDocStream(pages, "html", minWords, maxLinkDensity)
      .select("doc_id", "text", "lang", "source", "ingest_ts")

  /** The streaming CURATION pipeline, the one composition behind every
    * intake — the checkpointed twin of the batch capstone
    * q_curate_pipeline: `docs` (from [[fromFiles]], [[fromHtmlFiles]]
    * or [[fromWarc]]) → the composed gate chain
    * ([[StreamingOps.curateDocStream]]: holdout → clean → contam →
    * frozen probe → band claim, ONE stateful operator, ONE
    * checkpoint) → per-batch DSIR annotation under the FROZEN stored
    * importance model + the deterministic split stamp → idempotent
    * (lang, split)-partitioned parquet landing, with claim rejects
    * recorded under `<outDir>/_quarantine/batch=<id>` (verdict + band
    * attached) rather than dropped — see the in-body rationale.
    *
    * Exactly-once, the [[PaymentConfirm]] discipline, each link
    * individually spec'd: the source's offsets (a file source's
    * processed-file log) live under the checkpoint; the claim state emits deterministic
    * verdicts on replay (lowest-docId claims); and the landing scopes
    * an OVERWRITE to the micro-batch's own `batch=<id>` directory, so
    * foreachBatch's at-least-once crash replay rewrites the same files
    * instead of appending duplicates. Readers `spark.read.parquet
    * (outDir)` and see (batch, lang, split) partition columns.
    *
    * The DSIR annotation runs the BATCH serve leg
    * ([[graft.operators.Curation.dsirScoreFrom]]) on each micro-batch
    * — bit-equal to the streaming gate by the existing duality specs,
    * and batch-local because log_weight gates nothing here (it is the
    * sampler's input downstream); docs with no scorable features keep
    * a null log_weight rather than being dropped (the landing is the
    * corpus of record).
    */
  def curatePipeline(spark: SparkSession, docs: DataFrame,
      benchmark: DataFrame, probeIndexPath: String, dsirIndexPath: String,
      outDir: String, checkpointDir: String, minTokens: Int = 10,
      minStopRatio: Double = 0.05, benchmarkEvery: Int = 10,
      minScore: Double = 0.5, valPct: Int = 10, testPct: Int = 10,
      ttlMs: Long = 3600 * 1000L): StreamingQuery = {
    val curated = StreamingOps.curateDocStream(spark, docs, benchmark,
      probeIndexPath, minTokens, minStopRatio, benchmarkEvery,
      minScore = minScore, ttlMs = ttlMs)
    val landBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      // snapshot the kept slice ONCE, FIRST: everything after reads it
      // (the emptiness guard, the DSIR join's both sides, the write),
      // and — load-bearing — the truncated lineage keeps the per-batch
      // plans small: without it, dsirScoreFrom's analysis walks the
      // FULL gate-chain expression tree per batch (measured: the
      // analyzer spun minutes on the md5-heavy probe/band expressions
      // re-embedded under the feature explode). Guarding on a separate
      // pre-checkpoint isEmpty action would RE-EXECUTE the gate chain
      // and the state exchange once per test (review finding) — the
      // checkpoint of an idle-tick's empty frame is one trivial job,
      // the cheaper side of that trade.
      val rows = batch
        .select(col("docId").as("doc_id"), col("text"), col("lang"),
          col("source"), col("nTok").as("n_tok"),
          col("probeScore").as("probe_score"), col("band"),
          col("verdict"))
        .localCheckpoint()
      try {
        // skip empty frames: the claim's ProcessingTimeTimeout keeps
        // the engine scheduling micro-batches to fire potential
        // evictions (nearDupDocStream's documented behavior) — an
        // idle tick may not leave an empty batch=<id> directory behind
        // claim rejects land in QUARANTINE, not the void: the
        // stateless gates' rejects are deterministic — re-runnable on
        // the raw archive — but a claim verdict depends on ARRIVAL
        // ORDER and TTL state, so it is exactly the decision that
        // cannot be re-derived later, and the near-dup flag is a
        // probabilistic candidate (a band collision of genuinely
        // different docs false-positives) — dropping it silently
        // would lose good documents with no audit trail. The
        // underscore prefix hides the directory from partition
        // discovery, so corpus readers never see quarantined rows;
        // a batch verification pass reads them directly (verdict +
        // band attached — the WHY) and re-admits survivors.
        // WRITE ORDER is load-bearing (the artifacts-first /
        // commit-LAST house rule): quarantine first, the VISIBLE
        // landing last — a reader (or a test poll) that sees this
        // batch's kept rows may rely on its quarantine rows being
        // durable; the reverse order let a stop() between the two
        // writes surface kept docs whose same-batch rejects had no
        // audit row yet (a crash there still replays the whole batch,
        // but the interim state broke the quarantine promise).
        val rejected = rows.where(col("verdict") =!= "kept")
        if (!rejected.isEmpty) {
          rejected.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/_quarantine/batch=$batchId")
        }
        val kept = rows.where(col("verdict") === "kept")
          .drop("band", "verdict")
        if (!kept.isEmpty) {
          val lw = graft.operators.Curation
            .dsirScoreFrom(spark, dsirIndexPath, kept)
            .select(col("doc_id"), col("log_weight"))
          kept.join(lw, Seq("doc_id"), "left")
            .withColumn("split",
              graft.operators.TextOps.splitOf(valPct, testPct))
            // one file per (batch, lang, split), not (task, ...): the
            // CorpusStore small-files rule on a forever-running intake
            .repartition(col("lang"), col("split"))
            .write.mode("overwrite").partitionBy("lang", "split")
            .parquet(s"$outDir/batch=$batchId")
        }
      } finally {
        // free the checkpointed blocks deterministically: on a
        // forever-running intake, waiting for driver GC to trigger
        // the ContextCleaner lets per-batch text payloads accumulate
        // in executor storage (review finding); a plan that is not a
        // LogicalRDD (API drift) degrades to the GC path, not a crash
        rows.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
        }.foreach(_.unpersist(false))
      }
    }
    curated.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(landBatch)
      .start()
  }

  /** The full intake pipeline: files → parse → clean → lang-partitioned
    * parquet, checkpointed. Returns the running query; callers own
    * stop().
    */
  def cleanPipeline(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, minTokens: Int = 10,
      minStopRatio: Double = 0.05, watermarkDelay: String = "10 minutes",
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val cleaned = StreamingOps.cleanDocStream(
      fromFiles(spark, inDir, maxFilesPerTrigger),
      minTokens, minStopRatio, watermarkDelay)
      // one file per (batch, lang), not (task, lang): the same
      // small-files argument as CorpusStore.write — a long-running
      // intake with frequent triggers must not explode the listing
      .repartition(org.apache.spark.sql.functions.col("lang"))
    cleaned.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("lang")
      .outputMode("append")
      .start()
  }
}
