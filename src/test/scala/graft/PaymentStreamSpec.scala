package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import org.apache.spark.sql.functions.col

import graft.streaming.{PaymentConfirm, PaymentMonitor, PaymentStream}

/** End-to-end ingest: raw JSON records → typed parse → FSM → sink,
  * over MemoryStream, the built-in rate and socket sources and the
  * checkpointed file source.
  */
class PaymentStreamSpec extends SparkSuite {
  import spark.implicits._

  test("raw JSON stream drives the FSM; malformed records are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val events = PaymentStream.fromJson(input.toDF(), "value")
    val q = PaymentMonitor.outcomes(events, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("stream_outcomes")
      .outputMode("append").start()
    try {
      input.addData(
        """{"paymentId": 1, "ts": "2024-01-01T10:00:00", "kind": "create"}""",
        """not json at all""",
        """{"paymentId": 1, "ts": "2024-01-01T10:03:00", "kind": "processed"}""")
      q.processAllAvailable()
      val out = spark.table("stream_outcomes").collect()
      assert(out.length == 1)
      assert(out.head.getAs[Long]("paymentId") == 1L)
      assert(out.head.getAs[String]("status") == "processed")
      assert(out.head.getAs[Timestamp]("resolvedTs") ==
        Timestamp.valueOf("2024-01-01 10:03:00"))
    } finally q.stop()
  }

  test("raw(): a built-in connector format drives the parse seam end-to-end") {
    import org.apache.spark.sql.functions._
    // the connector seam itself: readStream.format(fmt).options(opts)
    // is exactly what a Kinesis-style connector swap calls — prove it
    // with a format that actually ships in Spark (`rate`), synthesizing
    // a payload column from the connector's records with every 3rd one
    // malformed (fromJson's poison-pill drop path)
    val rawDf = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
    val payload = rawDf.select(
      when(col("value") % 3 === 0, lit("{not json"))
        .otherwise(to_json(struct(col("value").as("paymentId"),
          col("timestamp").as("ts"), lit("create").as("kind")))).as("data"))
    val q = PaymentStream.fromJson(payload, "data")
      .writeStream.format("memory").queryName("raw_seam")
      .outputMode("append").start()
    try {
      // rate generates continuously; wait until enough rows flowed
      val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
      var n = 0L
      while (n < 10 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = spark.table("raw_seam").count()
        if (n < 10) Thread.sleep(200)
      }
      val ids = spark.table("raw_seam").collect().map(_.getAs[Long]("paymentId"))
      assert(ids.length >= 10, s"expected >=10 parsed events, got ${ids.length}")
      // every malformed record (value % 3 == 0) was dropped, others kept
      assert(ids.forall(_ % 3 != 0))
      assert(ids.toSet.size == ids.length, "rate ids are unique")
    } finally q.stop()
  }

  test("socket source → parse → FSM: a real TCP stream drives the same pipeline") {
    import java.net.ServerSocket
    import java.nio.charset.StandardCharsets.UTF_8
    // real server socket on an ephemeral port; Spark's socket source
    // CONNECTS to it, then every accepted line flows through the same
    // fromJson parse + FSM as the file/connector paths
    val server = new ServerSocket(0)
    val lines = Seq(
      """{"paymentId": 7, "ts": "2024-01-01T10:00:00", "kind": "create"}""",
      """garbage line""",
      """{"paymentId": 7, "ts": "2024-01-01T10:02:00", "kind": "processed"}""")
    val writer = new Thread(() => {
      val s = server.accept()
      try {
        val outS = s.getOutputStream
        outS.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
        outS.flush()
        // keep the connection open until the query is done reading
        Thread.sleep(30000)
      } catch { case _: InterruptedException => () } finally s.close()
    })
    writer.setDaemon(true); writer.start()
    val events = PaymentStream.fromJson(spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort.toString)
      .load(), "value")
    val q = PaymentMonitor.outcomes(events, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("socket_outcomes")
      .outputMode("append").start()
    try {
      // the socket source buffers lines as they arrive; poll until the
      // resolved outcome lands (bounded — the data is 3 lines)
      val deadline = System.currentTimeMillis() + 90000
      var out = Array.empty[org.apache.spark.sql.Row]
      while (out.isEmpty && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        out = spark.table("socket_outcomes").collect()
        if (out.isEmpty) Thread.sleep(200)
      }
      assert(out.length == 1, "expected exactly one resolved outcome")
      assert(out.head.getAs[Long]("paymentId") == 7L)
      assert(out.head.getAs[String]("status") == "processed")
    } finally {
      q.stop(); writer.interrupt(); server.close()
    }
  }

  test("file pipeline: exactly-once across a kill and a maxFilesPerTrigger change") {
    import java.io.File
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-e2e").toFile
    val in = new File(root, "in"); in.mkdirs()
    val out = new File(root, "out").getPath
    val ckpt = new File(root, "ckpt").getPath
    // files land atomically (write outside, rename in), as a real
    // collector would — the file source must never see partial files
    def land(name: String, lines: String*): Unit = {
      val tmp = new File(root, name)
      Files.write(tmp.toPath, lines.mkString("\n").getBytes)
      assert(tmp.renameTo(new File(in, name)))
    }
    val amounts = Seq(
      (1L, "KAU", BigDecimal("12.34"), BigDecimal("987.65")),
      (2L, "KAG", BigDecimal("55.00"), BigDecimal("44.10")),
      (3L, "KAU", BigDecimal("7.77"), BigDecimal("1.23")))
      .toDF("paymentId", "currency", "kauAmount", "kagAmount")
    def run(maxFilesPerTrigger: Option[Int]): Unit = {
      val q = PaymentConfirm.pipeline(
        PaymentStream.fromFiles(spark, in.getPath, maxFilesPerTrigger),
        amounts, out, ckpt, watermarkDelay = "0 seconds")
      try q.processAllAvailable() finally q.stop()
    }
    land("b1.jsonl",
      """{"paymentId": 1, "ts": "2024-01-01T10:00:00", "kind": "create"}""",
      """{"paymentId": 1, "ts": "2024-01-01T10:03:00", "kind": "processed"}""",
      """{"paymentId": 2, "ts": "2024-01-01T10:04:00", "kind": "create"}""")
    run(maxFilesPerTrigger = None) // kill mid-stream: p2 still pending
    land("b2.jsonl",
      """{"paymentId": 2, "ts": "2024-01-01T10:06:00", "kind": "processed"}""",
      """{"paymentId": 3, "ts": "2024-01-01T10:07:00", "kind": "create"}""",
      """{"paymentId": 3, "ts": "2024-01-01T10:08:00", "kind": "rejected"}""")
    // resume from the SAME checkpoint with a different intake bound:
    // p2's pending state must have survived, b1 must not be replayed
    run(maxFilesPerTrigger = Some(1))
    val log = spark.read.schema(
      "paymentId LONG, currency STRING, amount DECIMAL(12,2), " +
        "amount_paid STRING, resolvedTs TIMESTAMP").json(out)
      .where(col("paymentId").isNotNull).collect()
      .map(r => (r.getAs[Long]("paymentId"),
        r.getAs[java.math.BigDecimal]("amount").toPlainString,
        r.getAs[String]("amount_paid")))
    assert(log.sorted.toSeq == Seq((1L, "12.34", "***.*** KAU"),
      (2L, "44.10", "***.*** KAG")),
      s"one masked confirm each for p1 and p2, none for p3: ${log.toSeq}")
  }

  test("fromJson counts input lines and malformed lines in the query's observed metrics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = PaymentMonitor.outcomes(PaymentStream.fromJson(input.toDF(), "value"),
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("observed_outcomes")
      .outputMode("append").start()
    try {
      input.addData(
        """{"paymentId": 1, "ts": "2024-01-01T10:00:00", "kind": "create"}""",
        """not json at all""",
        """{"paymentId": 2, "ts": "not-a-time", "kind": "create"}""",
        """{"paymentId": 1, "ts": "2024-01-01T10:03:00", "kind": "processed"}""")
      q.processAllAvailable()
      input.addData(
        """{"paymentId": 3, "ts": """,
        """{"paymentId": 3, "ts": "2024-01-01T10:05:00", "kind": "create"}""")
      q.processAllAvailable()
    } finally q.stop()
    val observed = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => Option(p.observedMetrics.get(PaymentStream.LinesObserved)))
    assert(observed.length == 2 && observed.forall(_.isDefined),
      s"every batch with input reports the counts: ${observed.toSeq}")
    val counts = observed.flatten.map(r => (r.getAs[Long]("lines"), r.getAs[Long]("malformed")))
    assert(counts.toSeq == Seq((4L, 2L), (2L, 1L)))
  }
}
