package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/** Stream-ingest adapters: each turns a raw record stream into the
  * typed [[PaymentEvent]]s that [[PaymentConfirm.pipeline]] runs.
  *
  * Production wiring is source-agnostic `readStream`: a Kinesis-style
  * connector delivers records with an opaque `data` payload column —
  * load it with `spark.readStream.format(fmt).options(opts).load()`
  * and feed `fromJson(df, "data")`. Tests drive the exact same parse
  * path with MemoryStream (no connector jars required).
  */
object PaymentStream {

  /** Payload schema: the reference's payment poll response fields
    * (kinesis-pay.php:239-249) reduced to the FSM's inputs.
    */
  val payloadSchema: StructType = new StructType()
    .add("paymentId", LongType)
    .add("ts", TimestampType)
    .add("kind", StringType)

  /** Connector-backed ingest: the named `payfeed` DataSourceV2 binding
    * ([[graft.sources.PayFeedSource]]) resolved through its registered
    * short format name — the exact call shape a production
    * Kinesis-style connector swap uses (`spark.readStream.format(fmt)
    * .options(opts).load()` with the connector's own format name and
    * options, then [[fromJson]]). Options pass through to the
    * connector (shards / recordsPerRound / rounds / malformedEvery for
    * the stub; streamName / region / ... for a live one).
    */
  def fromFeed(spark: SparkSession,
      options: Map[String, String] = Map.empty): Dataset[PaymentEvent] =
    fromJson(spark.readStream.format(graft.sources.PayFeedSource.ShortName)
      .options(options).load(), "value")

  /** File-backed ingest: every file landing under `dir` is a batch of
    * JSON-lines payment records — the in-sandbox stand-in for a
    * Kinesis-style connector with the same operational semantics: the
    * source's processed-file log lives in the query checkpoint, so a
    * killed query resumes exactly where it stopped, and
    * [[PaymentConfirm.pipeline]]'s idempotent sink makes the whole
    * chain exactly-once across restarts. Swapping in a real connector
    * is [[fromFeed]]'s shape — the parse and FSM stages are identical.
    */
  def fromFiles(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): Dataset[PaymentEvent] = {
    val reader = spark.readStream.format("text")
    // backpressure: bound how much backlog one micro-batch ingests, so
    // recovery after downtime degrades latency, not stability
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    fromJson(reader.load(dir), "value")
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
