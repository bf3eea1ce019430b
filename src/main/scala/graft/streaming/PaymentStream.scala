package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/** Stream-ingest adapter: turns raw record streams into typed
  * [[PaymentEvent]]s for [[PaymentMonitor]].
  *
  * Production wiring is source-agnostic `readStream`: a Kinesis-style
  * connector delivers records with an opaque `data` payload column —
  * point `raw()` at the connector's format name and options and feed
  * `fromJson(df, "data")`. Tests drive the exact same parse path with
  * MemoryStream, which is how the end-to-end spec covers it (no
  * connector jars required).
  */
object PaymentStream {

  /** Payload schema: the reference's payment poll response fields
    * (kinesis-pay.php:239-249) reduced to the FSM's inputs.
    */
  val payloadSchema: StructType = new StructType()
    .add("paymentId", LongType)
    .add("ts", TimestampType)
    .add("kind", StringType)

  /** Generic raw stream: `spark.readStream.format(fmt).options(...)`.
    * e.g. format="rate" for smoke tests; a kinesis connector format +
    * (streamName, region, ...) options in production.
    */
  def raw(spark: SparkSession, format: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(format).options(options).load()

  /** Connector-backed ingest: the named `payfeed` DataSourceV2 binding
    * ([[graft.sources.PayFeedSource]]) resolved through its registered
    * short format name — the exact call shape a production
    * Kinesis-style connector swap uses (`raw(spark, fmt, opts)` with
    * the connector's own format name and options), with the identical
    * parse + FSM stages downstream. Options pass through to the
    * connector (shards / recordsPerRound / rounds / malformedEvery for
    * the stub; streamName / region / ... for a live one).
    */
  def fromFeed(spark: SparkSession,
      options: Map[String, String] = Map.empty): Dataset[PaymentEvent] =
    fromJson(raw(spark, graft.sources.PayFeedSource.ShortName, options), "value")

  /** File-backed ingest: every file landing under `dir` is a batch of
    * JSON-lines payment records — the in-sandbox stand-in for a
    * Kinesis-style connector with the same operational semantics: the
    * source's processed-file log lives in the query checkpoint, so a
    * killed query resumes exactly where it stopped, and with a
    * file-commit-log sink the whole pipeline is exactly-once across
    * restarts. Swapping in a real connector is `raw(spark, fmt, opts)`
    * + [[fromJson]] — the parse and FSM stages are identical.
    */
  def fromFiles(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[PaymentEvent] = {
    val reader = spark.readStream.format("text")
    // backpressure: bound how much backlog one micro-batch ingests, so
    // recovery after downtime degrades latency, not stability
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    fromJson(reader.load(dir), "value")
  }

  /** Socket-backed ingest: newline-delimited JSON payment records on
    * a TCP socket — the push-delivery stand-in for a Kinesis-style
    * connector (the reference's live poll loop, kinesis-pay.php:
    * 286-356, inverted to push). Same parse ([[fromJson]]) and FSM
    * stages as every other source; the spec drives a real
    * `ServerSocket` through it. OPERATIONAL CAVEAT, by design of
    * Spark's socket source: the socket has no replayable offset log,
    * so a restart loses in-flight lines — it is the low-latency
    * smoke-test shape, while [[fromFiles]]/[[filePipeline]] is the
    * exactly-once checkpointed deployment shape.
    */
  def fromSocket(spark: SparkSession, host: String,
      port: Int): Dataset[PaymentEvent] =
    fromJson(raw(spark, "socket",
      Map("host" -> host, "port" -> port.toString)), "value")

  /** The full live deployment shape (reference ingest loop,
    * kinesis-pay.php:286-356): file-stream source → JSON parse →
    * payment FSM → redacted JSONL audit sink, checkpointed. Returns
    * the running query; callers own stop(). Micro-batches run as fast
    * as possible; `maxFilesPerTrigger` bounds per-batch backlog intake.
    */
  def filePipeline(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, watermarkDelay: String = "10 seconds",
      expiryMs: Long = PaymentMonitor.ExpiryMs,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val outcomes = PaymentMonitor.outcomes(
      fromFiles(spark, inDir, maxFilesPerTrigger), watermarkDelay, expiryMs)
    graft.sources.InvoiceLog.writeStream(outcomes.toDF(), outDir,
      checkpointDir)
  }

  /** Name of the observation [[fromJson]] attaches: `lines` (input
    * lines) and `malformed` (lines dropped as unparseable). A streaming
    * query reports it per micro-batch in
    * `StreamingQueryProgress.observedMetrics`.
    */
  val LinesObserved = "payment_lines"

  /** Parse a string/binary JSON payload column into typed events.
    * Malformed records become nulls and are dropped (poison-pill
    * tolerance — one bad record must not kill the stream), but not
    * silently: the [[LinesObserved]] observation counts every line and
    * every dropped one.
    */
  def fromJson(raw: DataFrame, payloadCol: String = "value"): Dataset[PaymentEvent] = {
    implicit val enc = Encoders.product[PaymentEvent]
    raw
      .select(from_json(col(payloadCol).cast("string"), payloadSchema).as("e"))
      .withColumn("valid", col("e.paymentId").isNotNull && col("e.ts").isNotNull &&
        col("e.kind").isNotNull)
      .observe(LinesObserved, count(lit(1)).as("lines"),
        count(when(!col("valid"), 1)).as("malformed"))
      .where(col("valid"))
      .select(col("e.paymentId"), col("e.ts"), col("e.kind"))
      .as[PaymentEvent]
  }
}
