package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.InvoiceLog
import graft.streaming.{PaymentConfirm, PaymentStream}

/** The outbound confirm leg (kinesis-pay.php:487-509): exactly one
  * AMOUNT_PAID record per FSM-resolved payment through the masked
  * InvoiceLog sink, surviving kill + checkpoint resume.
  */
class PaymentConfirmSpec extends SparkSuite {
  import spark.implicits._

  private def amounts = Seq(
    (1L, "KAU", BigDecimal("12.34"), BigDecimal("987.65")),
    (2L, "KAG", BigDecimal("55.00"), BigDecimal("44.10")),
    (3L, "KAU", BigDecimal("7.77"), BigDecimal("1.23")),
    (4L, "KAG", BigDecimal("9.99"), BigDecimal("3.21")))
    .toDF("paymentId", "currency", "kauAmount", "kagAmount")

  private def outcomes(ids: Long*) = ids.map(id => (id, "processed",
    Timestamp.valueOf("2024-01-01 10:00:00"), Timestamp.valueOf("2024-01-01 10:03:00")))
    .toDF("paymentId", "status", "createdTs", "resolvedTs")

  /** A confirm query over a fresh MemoryStream of raw event lines. */
  private final class Leg(root: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val out = s"$root/out"
    def start(dim: DataFrame) = PaymentConfirm.pipeline(
      PaymentStream.fromJson(input.toDF(), "value"), dim, out, s"$root/ckpt",
      watermarkDelay = "0 seconds")
    /** Lines for a payment created and processed at minute `m`. */
    def paid(id: Long, m: Int): Seq[String] = Seq(
      f"""{"paymentId": $id, "ts": "2024-01-01T10:$m%02d:00", "kind": "create"}""",
      f"""{"paymentId": $id, "ts": "2024-01-01T10:$m%02d:30", "kind": "processed"}""")
    def log(): Array[Row] = spark.read.schema(
      "paymentId LONG, currency STRING, amount DECIMAL(12,2), " +
        "amount_paid STRING, resolvedTs TIMESTAMP").json(out)
      .where(col("paymentId").isNotNull) // empty replayed batches leave no rows
      .collect()
  }

  test("confirmRecords: processed only, amount picked by currency, reference text form") {
    val outcomes = Seq(
      (1L, "processed", Timestamp.valueOf("2024-01-01 10:00:00"),
        Timestamp.valueOf("2024-01-01 10:03:00")),
      (2L, "processed", Timestamp.valueOf("2024-01-01 10:01:00"),
        Timestamp.valueOf("2024-01-01 10:04:00")),
      (3L, "rejected", Timestamp.valueOf("2024-01-01 10:02:00"),
        Timestamp.valueOf("2024-01-01 10:05:00")),
      (4L, "expired", Timestamp.valueOf("2024-01-01 10:02:30"),
        Timestamp.valueOf("2024-01-01 10:12:30")))
      .toDF("paymentId", "status", "createdTs", "resolvedTs")
    val got = PaymentConfirm.confirmRecords(outcomes, amounts)
      .select("paymentId", "amount_paid").collect()
      .map(r => r.getAs[Long]("paymentId") -> r.getAs[String]("amount_paid"))
      .toMap
    // only terminal `processed` payments confirm; KAU rows take the
    // kau amount, KAG rows the kag amount (kinesis-pay.php:506-508)
    assert(got == Map(1L -> "12.34 KAU", 2L -> "44.10 KAG"))
  }

  test("confirm stream: exactly one masked confirm per resolved payment across kill/resume") {
    val leg = new Leg(Files.createTempDirectory("graft-confirm").toFile.getPath)
    val q1 = leg.start(amounts)
    try {
      leg.input.addData(
        """{"paymentId": 1, "ts": "2024-01-01T10:00:00", "kind": "create"}""",
        """{"paymentId": 1, "ts": "2024-01-01T10:03:00", "kind": "processed"}""",
        """{"paymentId": 2, "ts": "2024-01-01T10:04:00", "kind": "create"}""")
      q1.processAllAvailable()
    } finally q1.stop() // kill: p1 confirmed, p2 still pending
    // resume from the SAME checkpoint: p2's pending state survived;
    // p1 must NOT confirm again; a rejection must never confirm
    val q2 = leg.start(amounts)
    try {
      leg.input.addData(
        """{"paymentId": 2, "ts": "2024-01-01T10:06:00", "kind": "rejected"}""",
        """{"paymentId": 3, "ts": "2024-01-01T10:07:00", "kind": "create"}""",
        """{"paymentId": 3, "ts": "2024-01-01T10:08:00", "kind": "processed"}""")
      q2.processAllAvailable()
    } finally q2.stop()
    val log = leg.log()
    val byId = log.groupBy(_.getAs[Long]("paymentId"))
    assert(byId.keySet == Set(1L, 3L),
      s"confirms for processed payments only, got ${log.toSeq}")
    assert(byId.values.forall(_.length == 1), "exactly one confirm each")
    val p1 = byId(1L).head
    // the audit sink masks digit runs in string columns
    // (kinesis-pay.php:459); the DECIMAL amount stays exact
    assert(p1.getAs[String]("amount_paid") == "***.*** KAU")
    assert(p1.getAs[java.math.BigDecimal]("amount").toPlainString == "12.34")
    assert(p1.getAs[String]("currency") == "KAU")
  }

  test("a replayed micro-batch overwrites its own output — no duplicate confirms") {
    val root = Files.createTempDirectory("graft-confirm-idem").toFile.getPath
    val confirms = PaymentConfirm.confirmRecords(outcomes(1L), amounts)
    // crash-replay: foreachBatch delivers the SAME batchId twice
    InvoiceLog.writeBatch(confirms, root, batchId = 42L)
    InvoiceLog.writeBatch(confirms, root, batchId = 42L)
    val back = spark.read.schema(
      "paymentId LONG, currency STRING, amount DECIMAL(12,2), " +
        "amount_paid STRING, resolvedTs TIMESTAMP").json(root)
    assert(back.count() == 1, "same batch id must not append a second copy")
  }

  test("a dimension holding a paymentId twice is refused, naming the ids") {
    val dim = amounts.union(Seq(
      (2L, "KAU", BigDecimal("1.00"), BigDecimal("2.00")),
      (4L, "KAU", BigDecimal("3.00"), BigDecimal("4.00")))
      .toDF("paymentId", "currency", "kauAmount", "kagAmount"))
    // two dimension rows would confirm payment 2 twice
    val e = intercept[IllegalArgumentException](
      PaymentConfirm.confirmRecords(outcomes(1L, 2L), dim).collect())
    assert(e.getMessage.contains("duplicated: 2, 4"), e.getMessage)
    val leg = new Leg(Files.createTempDirectory("graft-confirm-dup").toFile.getPath)
    val active = spark.streams.active.length
    intercept[IllegalArgumentException](leg.start(dim))
    assert(spark.streams.active.length == active, "a refused dimension starts no query")
  }

  test("confirm stream: amounts is resolved at query start; a payment missing from it gets no confirm") {
    val leg = new Leg(Files.createTempDirectory("graft-confirm-dim").toFile.getPath)
    val q1 = leg.start(amounts)
    try {
      // payment 9 has no dimension row: no confirm, and the query runs on
      leg.input.addData(leg.paid(9L, 0): _*)
      q1.processAllAvailable()
      leg.input.addData(leg.paid(1L, 1): _*)
      q1.processAllAvailable()
      assert(q1.isActive && q1.exception.isEmpty)
    } finally q1.stop()
    // a restart with a new dimension confirms with the new amounts
    val q2 = leg.start(Seq((3L, "KAU", BigDecimal("8.88"), BigDecimal("0.50")))
      .toDF("paymentId", "currency", "kauAmount", "kagAmount"))
    try {
      leg.input.addData(leg.paid(3L, 2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val got = leg.log().map(r =>
      r.getAs[Long]("paymentId") -> r.getAs[java.math.BigDecimal]("amount").toPlainString)
    assert(got.sorted.toSeq == Seq(1L -> "12.34", 3L -> "8.88"))
  }

  test("a confirm micro-batch runs one Spark job, with no broadcast exchange, and reports its line counts") {
    val jobs = new ConcurrentLinkedQueue[(String, String)]() // (query id, batch id)
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val drained = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "confirm-spec-drain")
          drained.countDown()
        else Option(e.properties.getProperty("sql.streaming.queryId")).foreach(q =>
          jobs.add(q -> e.properties.getProperty("streaming.sql.batchId")))
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val leg = new Leg(Files.createTempDirectory("graft-confirm-jobs").toFile.getPath)
    val q = leg.start(amounts)
    try {
      leg.input.addData(leg.paid(1L, 0) ++ leg.paid(2L, 0): _*)
      q.processAllAvailable()
      leg.input.addData(leg.paid(3L, 1): _*)
      q.processAllAvailable()
      // both listeners sit on the shared queue: once a later job's
      // start is delivered, every event of the stream's batches is too
      spark.sparkContext.setJobGroup("confirm-spec-drain", "listener drain")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    val withInput = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString)
    assert(withInput.length == 2)
    val perBatch = jobs.asScala.filter(_._1 == q.id.toString).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    withInput.foreach(b => assert(perBatch.get(b).contains(1), s"jobs per batch: $perBatch"))
    val writes = plans.asScala.filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
    assert(writes.nonEmpty, "the confirm writes were seen")
    val broadcasts = plans.asScala.flatMap(qe => PlanNodes.collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b
    })
    assert(broadcasts.isEmpty, s"confirm plans hold a broadcast exchange: $broadcasts")
    assert(leg.log().map(_.getAs[Long]("paymentId")).sorted.toSeq == Seq(1L, 2L, 3L))
    val observed = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => Option(p.observedMetrics.get(PaymentStream.LinesObserved)).map(_.getAs[Long]("lines")))
    assert(observed.toSeq == Seq(Some(4L), Some(2L)), s"line counts per batch: ${observed.toSeq}")
  }

  private object PlanNodes extends AdaptiveSparkPlanHelper
}
