package graft

import java.nio.file.Files

import graft.streaming.{PaymentConfirm, PaymentStream}

/** The reference's full loop as ONE checkpointed pipeline
  * (PaymentConfirm.pipeline over PaymentStream.fromFeed): payfeed
  * connector → JSON parse → payment FSM → confirm lookup → masked
  * idempotent InvoiceLog sink,
  * killed mid-stream and resumed — exactly one masked confirm per
  * processed payment across the restart.
  */
class PayFeedPipelineSpec extends SparkSuite {
  import spark.implicits._

  // 2 shards x 4 records/round, lifecycle mode: even seqs are creates,
  // odd seqs the matching `processed` terminals -> payment ids are the
  // even seqs of [0, shards*rpr*rounds)
  private val shards = 2
  private val rpr = 4
  private def feedOpts(rounds: Int) = Map(
    "shards" -> shards.toString, "recordsPerRound" -> rpr.toString,
    "rounds" -> rounds.toString, "lifecycle" -> "true")
  private def expectedIds(rounds: Int): Seq[Long] =
    (0L until (shards * rpr * rounds).toLong).filter(_ % 2 == 0)

  private def amountsFor(rounds: Int) =
    expectedIds(rounds).map { id =>
      val cur = if (id % 4 == 0) "KAU" else "KAG"
      (id, cur, BigDecimal(id) + BigDecimal("0.25"),
        BigDecimal(id) + BigDecimal("0.75"))
    }.toDF("paymentId", "currency", "kauAmount", "kagAmount")

  test("payfeed → FSM → confirm: one masked confirm per processed payment across kill/resume") {
    val root = Files.createTempDirectory("graft-feedpipe").toFile
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    val amounts = amountsFor(rounds = 4)
    def run(rounds: Int): Unit = {
      val q = PaymentConfirm.pipeline(
        PaymentStream.fromFeed(spark, feedOpts(rounds)), amounts,
        out, ckpt, watermarkDelay = "0 seconds")
      try q.processAllAvailable() finally q.stop()
    }
    run(rounds = 2) // rounds 0-1, then the query is KILLED
    run(rounds = 4) // feed advanced; resume must confirm ONLY rounds 2-3

    val rows = spark.read
      .schema("paymentId LONG, currency STRING, amount STRING, " +
        "amount_paid STRING, resolvedTs TIMESTAMP")
      .json(s"$out/batch=*")
      .collect()
    val perId = rows.groupBy(_.getAs[Long]("paymentId"))
    assert(perId.keySet == expectedIds(4).toSet,
      s"every created payment resolves processed and confirms exactly once; " +
        s"got ids ${perId.keySet.toSeq.sorted}")
    assert(perId.values.forall(_.length == 1),
      s"no duplicate confirms across the restart: " +
        s"${perId.filter(_._2.length > 1).keys.toSeq.sorted}")
    // the sink is the reference's masked postback log: digit runs in
    // every string column come out redacted, so amount_paid carries
    // the masked "<amount> <currency>" form with the currency intact
    assert(rows.forall { r =>
      val ap = r.getAs[String]("amount_paid")
      ap.contains("***") && !ap.exists(_.isDigit) &&
        ap.endsWith(" " + r.getAs[String]("currency"))
    }, "amount_paid must be masked but keep the reference text form")
  }

  test("lifecycle feed: a corrupt create leaves an orphan terminal, absorbed not confirmed") {
    val root = Files.createTempDirectory("graft-feedpipe-orphan").toFile
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    // malformedEvery=4 corrupts seqs 0,4,8,... — all CREATES (even
    // seqs); their terminals arrive orphaned and must never confirm
    val q = PaymentConfirm.pipeline(PaymentStream.fromFeed(spark,
        feedOpts(rounds = 2) + ("malformedEvery" -> "4")),
      amountsFor(rounds = 2), out, ckpt, watermarkDelay = "0 seconds")
    try q.processAllAvailable() finally q.stop()
    val ids = spark.read
      .schema("paymentId LONG, currency STRING, amount STRING, " +
        "amount_paid STRING, resolvedTs TIMESTAMP")
      .json(s"$out/batch=*")
      .collect().map(_.getAs[Long]("paymentId")).toSeq.sorted
    val expected = expectedIds(2).filter(_ % 4 != 0)
    assert(ids == expected,
      s"corrupt creates must not confirm, intact ones must: got $ids")
  }
}
