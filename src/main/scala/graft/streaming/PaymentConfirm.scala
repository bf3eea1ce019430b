package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The outbound confirm leg (kinesis-pay.php:487-509, approvePayment):
  * once a payment resolves `processed`, the reference POSTs a confirm
  * to the payment API and records the paid amount on the invoice as
  * `"<amount> <currency>"` (AMOUNT_PAID, with the amount chosen by
  * currency — paymentKauAmount for KAU, else paymentKagAmount).
  *
  * Here [[pipeline]] runs that leg behind the FSM: a `foreachBatch`
  * seam looks each micro-batch's resolved payments up in the
  * invoice/amount dimension and lands exactly one confirm record per
  * processed payment in the masked [[graft.sources.InvoiceLog]] audit
  * sink.
  *
  * The dimension is a snapshot: `amounts` is read once, when the
  * confirm query starts (or when [[confirmRecords]] is called), into a
  * `paymentId → (currency, amount)` map broadcast for the query's
  * lifetime and released when the query ends. Rows added to the
  * frame's source later are seen by the next query start, exactly as
  * a cached or file-backed frame already behaved.
  *
  * Exactly-once, by construction, each link spec-asserted:
  *  1. the FSM emits at most one outcome per paymentId (resolved-marker
  *     retention, PaymentMonitor);
  *  2. `confirmRecords` is a projection + per-row lookup in a map with
  *     one entry per paymentId (a dimension with a duplicated id is
  *     refused when it is resolved) — one row in, at most one row out;
  *  3. [[graft.sources.InvoiceLog.writeBatch]] scopes an OVERWRITE to
  *     the micro-batch's own `batch=<id>` directory, so foreachBatch's
  *     at-least-once crash replay (same batchId, same rows) rewrites
  *     the same files instead of appending duplicates.
  *
  * Scale shape: the per-batch work is a narrow map-side lookup plus a
  * partitioned JSON write — one Spark job per micro-batch, no extra
  * shuffle beyond the FSM's own keyed state exchange, and no per-batch
  * collect or hash-table rebuild of the dimension. The dimension is
  * collected once per query, so it must fit in driver and executor
  * memory, the same bound a broadcast join has.
  */
object PaymentConfirm {

  /** What a payment's confirm records: its currency and the amount
    * that currency picks, at the output's `decimal(12,2)` scale.
    */
  final case class Terms(currency: String, amount: java.math.BigDecimal)

  /** Resolves `amounts` (`paymentId, currency, kauAmount, kagAmount`)
    * once: picks each payment's amount by currency
    * (kinesis-pay.php:506-508) and broadcasts the `paymentId → Terms`
    * map. A dimension holding a paymentId twice is refused, naming the
    * ids: two entries would confirm one payment twice.
    */
  private def resolve(amounts: DataFrame): Broadcast[Map[Long, Terms]] = {
    val rows = amounts.where(col("paymentId").isNotNull)
      .select(col("paymentId").cast("long"), col("currency"),
        when(col("currency") === "KAU", col("kauAmount"))
          .otherwise(col("kagAmount"))
          // scale-2 DECIMAL canonicalizes the text form (same
          // convention as the batch Payments.confirmAmounts) — a
          // scale-18 input would otherwise render trailing zeros
          .cast("decimal(12,2)"))
      .collect()
    val dups = rows.groupBy(_.getLong(0)).collect { case (id, rs) if rs.length > 1 => id }
    require(dups.isEmpty,
      s"amounts must hold one row per paymentId; duplicated: " +
        dups.toSeq.sorted.take(20).mkString(", ") +
        (if (dups.size > 20) s" (${dups.size} ids)" else ""))
    amounts.sparkSession.sparkContext.broadcast(
      rows.map(r => r.getLong(0) -> Terms(r.getString(1), r.getDecimal(2))).toMap)
  }

  /** The confirm records of `outcomes`' processed rows, each looked up
    * in the resolved dimension; a payment with no entry gets none.
    */
  private def confirms(outcomes: DataFrame, terms: Broadcast[Map[Long, Terms]]): DataFrame = {
    val lookup = udf((id: Long) => terms.value.getOrElse(id, null))
    outcomes.where(col("status") === "processed")
      .withColumn("terms", lookup(col("paymentId")))
      .where(col("terms").isNotNull)
      .select(col("paymentId"), col("terms.currency").as("currency"),
        col("terms.amount").cast("decimal(12,2)").as("amount"), col("resolvedTs"))
      .select(col("paymentId"), col("currency"), col("amount"),
        concat(col("amount").cast("string"), lit(" "), col("currency"))
          .as("amount_paid"),
        col("resolvedTs"))
  }

  /** One confirm record per `processed` outcome in `outcomes`:
    * `(paymentId, currency, amount, amount_paid, resolvedTs)` with
    * `amount_paid` in the reference's `"<amount> <currency>"` text
    * form and `amount` picked by currency from the dimension's
    * kau/kag columns (kinesis-pay.php:506-508). `amounts` must carry
    * `paymentId, currency, kauAmount, kagAmount`, one row per
    * paymentId; a processed payment missing from it is a referential
    * break the batch reconcile surfaces (Payments.invoiceReconcile) —
    * it gets no confirm, which keeps the audit log free of half-formed
    * confirms.
    *
    * `amounts` is resolved here, eagerly, by the same code the stream
    * uses; its broadcast is freed once the returned frame is garbage.
    * Works identically on a static frame or a streaming micro-batch —
    * pure narrow ops, no shuffle.
    */
  def confirmRecords(outcomes: DataFrame, amounts: DataFrame): DataFrame =
    confirms(outcomes, resolve(amounts))

  /** The payment chain as ONE checkpointed query — the reference's
    * poll → resolve → approve → record loop (kinesis-pay.php:232-303 +
    * :487-509): `events`, from any [[PaymentStream]] adapter → payment
    * FSM ([[PaymentMonitor.outcomes]]) → confirm lookup → masked
    * idempotent sink. Per micro-batch, confirm records land in the
    * JSONL audit log through [[graft.sources.InvoiceLog.writeBatch]]
    * (digit runs in `amount_paid` come out masked — the log is the
    * postback log the reference masks at kinesis-pay.php:459; the
    * DECIMAL `amount` column stays exact). `amounts` is resolved once,
    * before the query starts; its broadcast is destroyed when the
    * query terminates. This is the one place the chain's exactly-once
    * links compose; the source's replayable offsets live in the same
    * checkpoint. Callers own stop().
    */
  def pipeline(events: Dataset[PaymentEvent], amounts: DataFrame,
      outDir: String, checkpointDir: String,
      watermarkDelay: String = "10 seconds",
      expiryMs: Long = PaymentMonitor.ExpiryMs): StreamingQuery = {
    val outcomes = PaymentMonitor.outcomes(events, watermarkDelay, expiryMs)
    val terms = resolve(amounts)
    val landBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
      graft.sources.InvoiceLog.writeBatch(confirms(batch, terms), outDir, batchId)
    val query =
      try outcomes.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch(landBatch)
        .start()
      catch { case e: Throwable => terms.destroy(); throw e }
    val release = new ReleaseOnEnd(query, terms)
    query.sparkSession.streams.addListener(release)
    // a query that ended before the listener was added posted its
    // termination already; it is inactive by then
    if (!query.isActive) release.run()
    query
  }

  /** Destroys `terms` once `query` has terminated, however it ends. */
  private final class ReleaseOnEnd(query: StreamingQuery, terms: Broadcast[_])
      extends StreamingQueryListener {
    private val done = new AtomicBoolean(false)
    def run(): Unit = if (done.compareAndSet(false, true)) {
      query.sparkSession.streams.removeListener(this)
      terms.destroy()
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.runId == query.runId) run()
  }

  /** [[pipeline]] over the file source ([[PaymentStream.fromFiles]]). */
  def filePipeline(spark: org.apache.spark.sql.SparkSession, inDir: String,
      amounts: DataFrame, outDir: String, checkpointDir: String,
      watermarkDelay: String = "10 seconds",
      expiryMs: Long = PaymentMonitor.ExpiryMs): StreamingQuery =
    pipeline(PaymentStream.fromFiles(spark, inDir), amounts, outDir,
      checkpointDir, watermarkDelay, expiryMs)
}
