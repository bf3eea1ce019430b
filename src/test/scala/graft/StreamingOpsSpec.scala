package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.streaming.StreamingOps

class StreamingOpsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // events-shaped stream rows
  private case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  test("windowedFunnel: closed windows emit counts + exact totals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.windowedFunnel(df, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:01:00"), 1L, "purchase", 10.0),
        (2L, ts("2024-01-01 10:02:00"), 2L, "purchase", 5.5),
        (3L, ts("2024-01-01 10:03:00"), 1L, "view", 0.0))
      q.processAllAvailable()
      // advance watermark past the 10:00-10:10 window
      input.addData((4L, ts("2024-01-01 10:30:00"), 1L, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("funnel_out").collect()
        .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n"), r.getAs[Double]("total_value"))).toSet
      assert(out == Set(
        (ts("2024-01-01 10:00:00"), "purchase", 2L, 15.5),
        (ts("2024-01-01 10:00:00"), "view", 1L, 0.0)))
    } finally q.stop()
  }

  test("liveLatestStatus: event-time argmax survives late arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.liveLatestStatus(df)
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("update").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "pending", 0.0),
        (2L, ts("2024-01-01 10:05:00"), 1L, "processed", 0.0))
      q.processAllAvailable()
      // late event older than current state must NOT regress the status
      input.addData((3L, ts("2024-01-01 10:01:00"), 1L, "rejected", 0.0))
      q.processAllAvailable()
      val last = spark.table("latest_out").collect()
        .maxBy(_.getAs[Timestamp]("lastTs").getTime)
      assert(last.getAs[String]("lastStatus") == "processed")
    } finally q.stop()
  }

  test("xrateEnrich: purchases priced at the latest prior tick, state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.xrateEnrich(df)
      .writeStream.format("memory").queryName("xrate_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 9.0), // KAG, no tick yet -> dropped
        (3L, ts("2024-01-01 10:01:00"), 1L, "click", 2.0),    // KAG tick @2
        (5L, ts("2024-01-01 10:02:00"), 1L, "purchase", 8.0)) // KAG -> rate 2, amt 4
      q.processAllAvailable()
      // next batch: state carried; also a LATE old tick must not regress
      input.addData(
        (7L, ts("2024-01-01 09:00:00"), 1L, "click", 1000.0), // late, older than state
        (9L, ts("2024-01-01 10:10:00"), 1L, "purchase", 6.0)) // KAG -> still rate 2
      q.processAllAvailable()
      val out = spark.table("xrate_out").collect()
        .map(r => (r.getAs[Long]("eventId"), r.getAs[Double]("rate"),
          r.getAs[Double]("payAmount"))).toSet
      assert(out == Set((5L, 2.0, 4.0), (9L, 2.0, 3.0)))
    } finally q.stop()
  }

  test("sessionFunnel: gap-merged sessions close on the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.sessionFunnel(df, gap = "30 minutes",
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
        (2L, ts("2024-01-01 10:10:00"), 1L, "view", 2.0), // merges (gap 10m)
        (3L, ts("2024-01-01 12:00:00"), 1L, "view", 4.0)) // new session
      q.processAllAvailable()
      input.addData((4L, ts("2024-01-01 15:00:00"), 2L, "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("sess_out").collect()
        .map(r => (r.getAs[Timestamp]("sess_start"), r.getAs[Long]("user_id"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(out.contains((ts("2024-01-01 10:00:00"), 1L, 2L, 3.0)))
      assert(out.contains((ts("2024-01-01 12:00:00"), 1L, 1L, 4.0)))
    } finally q.stop()
  }

  test("polledSample: every-Nth admission, counts per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.polledSample(df, n = 10,
      windowLen = "10 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("poll_out")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, ts("2024-01-01 10:00:01"), 1L, "poll", 1.0), // admitted
        (11L, ts("2024-01-01 10:00:02"), 1L, "poll", 2.0), // dropped (11 % 10)
        (20L, ts("2024-01-01 10:00:03"), 1L, "poll", 3.0), // admitted
        (30L, ts("2024-01-01 10:00:12"), 1L, "poll", 4.0)) // next window
      q.processAllAvailable()
      // advance the watermark past both windows
      input.addData((40L, ts("2024-01-01 10:05:00"), 1L, "poll", 0.0))
      q.processAllAvailable()
      val out = spark.table("poll_out").collect()
        .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_sampled"), r.getAs[Double]("total_value"))).toSet
      assert(out == Set(
        (ts("2024-01-01 10:00:00"), "poll", 2L, 4.0),
        (ts("2024-01-01 10:00:10"), "poll", 1L, 4.0)))
    } finally q.stop()
  }

  test("polledSample batch/stream parity: window totals reconcile with Payments.pollSample") {
    // the documented contract: the same code runs on batch frames, and
    // its per-type totals must equal the batch sampler's aggregate
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val windowed = StreamingOps.polledSample(events, n = 10,
      windowLen = "1 day", watermarkDelay = "0 seconds")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.sum("n_sampled").as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("total_value"), 2).as("total_value"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("total_value")))).toMap
    val batch = graft.operators.Payments.pollSample(events, n = 10).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("total_value")))).toMap
    assert(windowed == batch)
  }

  test("dedupedEvents: duplicate event ids within the horizon are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.dedupedEvents(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0),
        (1L, ts("2024-01-01 10:00:05"), 1L, "purchase", 10.0), // dup id
        (2L, ts("2024-01-01 10:01:00"), 2L, "view", 0.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("liveLatestStatusTtl: flows end-to-end on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.liveLatestStatusTtl(df, ttlMs = 3600 * 1000L)
      .writeStream.format("memory").queryName("latest_ttl_out")
      .outputMode("update").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "pending", 0.0),
        (2L, ts("2024-01-01 10:05:00"), 1L, "processed", 0.0))
      // NOT processAllAvailable(): with ProcessingTimeTimeout armed the
      // engine keeps scheduling micro-batches (each clock advance may
      // fire a timeout), so "all available" never settles — poll the
      // sink with a deadline instead
      val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
      while (spark.table("latest_ttl_out").isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(200)
      val rows = spark.table("latest_ttl_out").collect()
      assert(rows.nonEmpty, "no output within deadline")
      val last = rows.maxBy(_.getAs[Timestamp]("lastTs").getTime)
      assert(last.getAs[String]("lastStatus") == "processed")
    } finally q.stop()
  }

  test("liveRateOhlc: closed windows equal the batch rateOhlc rows") {
    import org.apache.spark.sql.functions.{col, to_date}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.liveRateOhlc(df, "1 day", "0 seconds")
      .writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    try {
      val day1 = Seq(
        (2L, ts("2024-01-01 09:00:00"), 1L, "click", 5.0), // KAU open
        (4L, ts("2024-01-01 11:00:00"), 1L, "click", 9.0), // KAU high
        (6L, ts("2024-01-01 10:00:00"), 1L, "click", 3.0), // KAU low, out of order
        (8L, ts("2024-01-01 12:00:00"), 1L, "click", 7.0), // KAU close
        (1L, ts("2024-01-01 09:30:00"), 1L, "click", 2.0), // KAG open (ts tie,
        (3L, ts("2024-01-01 09:30:00"), 1L, "click", 4.0), //   close by event_id)
        (10L, ts("2024-01-01 10:30:00"), 1L, "click", 0.0), // invalid tick
        (12L, ts("2024-01-01 10:40:00"), 1L, "purchase", 6.0)) // not a tick
      input.addData(day1: _*)
      q.processAllAvailable()
      // next-day tick advances the watermark past day 1, closing it
      input.addData((14L, ts("2024-01-02 10:00:00"), 1L, "click", 8.0))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Date]("day").toString, r.getAs[String]("currency"),
          r.getAs[Double]("open_rate"), r.getAs[Double]("high_rate"),
          r.getAs[Double]("low_rate"), r.getAs[Double]("close_rate"),
          r.getAs[Long]("n_ticks"))
      val live = spark.table("ohlc_out")
        .withColumn("day", to_date(col("win_start")))
        .collect().map(key).toSet
      val batch = graft.operators.Payments.rateOhlc(
        day1.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(key).toSet
      assert(live == batch, s"live $live != batch $batch")
      assert(live.size == 2) // KAU + KAG for day 1; day 2 still open
      // the tie-broken KAG row: open id 1 (2.0), close id 3 (4.0)
      assert(live.exists(t => t._2 == "KAG" && t._3 == 2.0 && t._6 == 4.0))
    } finally q.stop()
  }

  test("contamGateDocStream: contaminated docs flagged, disjoint and short admitted") {
    implicit val sqlCtx = spark.sqlContext
    val benchmark = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "source")
    val q = StreamingOps.contamGateDocStream(df, benchmark)
      .writeStream.format("memory").queryName("contam_gate")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "x y alpha beta gamma delta epsilon w", "en", "s0"), // shares 4-grams
        (2L, "one two three four five six seven", "en", "s0"), // disjoint
        (3L, "tiny", "en", "s0")) // < n tokens: no gram semantics
      q.processAllAvailable()
      val out = spark.table("contam_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Boolean]("is_contaminated")).toMap
      assert(out == Map(1L -> true, 2L -> false, 3L -> false))
    } finally q.stop()
  }

  test("contamGateDocStream: no false negatives vs exact decontaminate (batch duality)") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val flagged = StreamingOps.contamGateDocStream(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(10)) === 0))
      .where(col("is_contaminated"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val exact = graft.operators.Curation.decontaminate(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(exact.subsetOf(flagged),
      "a bloom gate must never admit a truly contaminated doc")
  }

  test("compressGateDocStream: verdicts equal the batch compressRatio; poison rows gate total") {
    implicit val sqlCtx = spark.sqlContext
    val rep = Array.fill(120)("spam").mkString(" ")
    val div = (0 until 120).map(i => s"w${i * 7919}").mkString(" ")
    val input = MemoryStream[(Long, String, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "source")
    val q = StreamingOps.compressGateDocStream(df)
      .writeStream.format("memory").queryName("zlib_gate")
      .outputMode("append").start()
    try {
      input.addData((0L, rep, "en", "s0"), (1L, div, "en", "s0"),
        (2L, "", "en", "s0"))
      q.processAllAvailable()
      val out = spark.table("zlib_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("keep"), r.getAs[String]("fail_reasons"),
            Option(r.getAs[java.lang.Double]("ratio"))))).toMap
      // batch duality: same verdicts and SAME ratios as the audit op
      val batch = graft.operators.TextOps.compressRatio(
        Seq((0L, rep), (1L, div)).toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("keep"), r.getAs[String]("fail_reasons"),
            r.getAs[Double]("ratio")))).toMap
      assert(out(0L)._1 == batch(0L)._1 && out(0L)._2 == batch(0L)._2 &&
        out(0L)._3.contains(batch(0L)._3))
      assert(out(1L)._1 == batch(1L)._1 && out(1L)._3.contains(batch(1L)._3))
      // the batch op EXCLUDES empty docs; the gate must still decide
      assert(out(2L) == ((false, "empty", None)))
      // every input column survives (quarantine needs the content)
      assert(spark.table("zlib_gate").columns.toSet ==
        Set("doc_id", "text", "lang", "source", "ratio", "keep", "fail_reasons"))
    } finally q.stop()
  }

  test("lmScoreDocStream: closed-window scores equal the batch " +
      "lmScoreFrom bit-for-bit; short docs emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    // frozen model trained on a batch reference corpus
    val train = Seq((100L, "a b a b c"), (101L, "a b c d"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lmstream").toString
    graft.operators.TextOps.writeLmIndex(train, dir)
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = StreamingOps.lmScoreDocStream(spark, dir, df, "1 minute",
        "0 seconds")
      .writeStream.format("memory").queryName("lm_gate")
      .outputMode("append").start()
    try {
      val scored = Seq(
        (0L, "a b c a"),        // all-seen bigrams
        (1L, "x y z"),          // all-unseen: pure Laplace floor
        (2L, "a q b c"),        // mixed seen/unseen
        (3L, "single"), (4L, "")) // < 2 tokens: no row
      input.addData(scored.map { case (id, t) =>
        (id, t, ts("2024-01-01 09:00:10")) }: _*)
      q.processAllAvailable()
      // a next-window doc advances the watermark, closing 09:00
      input.addData((9L, "a b", ts("2024-01-01 09:05:00")))
      q.processAllAvailable()
      val live = spark.table("lm_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob"))))
        .toMap
      val batch = graft.operators.TextOps.lmScoreFrom(spark, dir,
          scored.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob"))))
        .toMap
      assert(live == batch, s"live $live != batch $batch")
      assert(!live.contains(3L) && !live.contains(4L))
      assert(live.keySet == Set(0L, 1L, 2L))
    } finally q.stop()
  }

  test("validityGateEventStream: per-row verdicts reconcile with the batch dataQuality counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Option[Long], Double)]
    val df = input.toDF().toDF("event_id", "user_id", "value")
    val q = StreamingOps.validityGateEventStream(df)
      .writeStream.format("memory").queryName("validity_gate")
      .outputMode("append").start()
    try {
      input.addData((1L, Some(7L), 1.0), (2L, Some(8L), -2.5),
        (3L, None, 3.0), (4L, None, -1.0))
      q.processAllAvailable()
      val out = spark.table("validity_gate").collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Boolean]("keep"), r.getAs[String]("fail_reasons"))))
        .toMap
      assert(out == Map(
        1L -> ((true, "")),
        2L -> ((false, "negative_event_value")),
        3L -> ((false, "null_event_user")),
        4L -> ((false, "negative_event_value,null_event_user"))), s"got $out")
      // batch duality: the gate's per-rule reject counts equal
      // dataQuality's scan-local rule counts over the same rows
      import spark.implicits._
      val events = Seq((1L, Some(7L), 1.0), (2L, Some(8L), -2.5),
        (3L, Option.empty[Long], 3.0), (4L, Option.empty[Long], -1.0))
        .toDF("event_id", "user_id", "value")
      val none = Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
      val noneL = Seq.empty[(Long, Int, Double)]
        .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      val noneC = Seq.empty[(Long, Int)].toDF("c_custkey", "c_nationkey")
      val batch = graft.operators.Payments
        .dataQuality(none, noneL, noneC, events).collect()
        .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
        .toMap
      val gateCounts = Seq("negative_event_value", "null_event_user")
        .map(rule => rule -> out.values.count(_._2.split(",").contains(rule)).toLong)
        .toMap
      assert(gateCounts == batch.view.filterKeys(gateCounts.keySet).toMap,
        s"gate $gateCounts vs batch $batch")
    } finally q.stop()
  }

  test("liveHeavyHitters: running summaries converge to exact counts (exact regime)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.liveHeavyHitters(df, capacity = 64, shards = 4)
      .writeStream.format("memory").queryName("live_hh")
      .outputMode("update").start()
    try {
      val batch1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      val batch2 = Seq((3L, "alpha alpha delta"), (4L, "beta"))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // update-mode sink: later rows supersede; estimates are
      // monotone in the exact regime, so max = the final summary
      val got = spark.table("live_hh").collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[String]("token"),
          r.getAs[Long]("estCount")))
        .groupBy(t => (t._1, t._2))
        .map { case ((_, tok), g) => tok -> g.map(_._3).max }
      val exact = (batch1 ++ batch2).flatMap(_._2.split(" "))
        .groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      assert(got == exact,
        s"capacity above vocab must converge to exact counts: $got vs $exact")
      // each token is owned by exactly one shard
      val owners = spark.table("live_hh").collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("shard"))
        .groupBy(_._1).map { case (t, g) => t -> g.map(_._2).distinct }
      assert(owners.values.forall(_.size == 1),
        s"token must hash to one shard: $owners")
    } finally q.stop()
  }

  test("cleanDocStream: quality gate + exact dedup applied on ingest") {
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox is one of the animals in the list of words"
    val input = MemoryStream[(Long, String, String, String, Timestamp)]
    val df = input.toDF()
      .toDF("doc_id", "text", "lang", "source", "ingest_ts")
    val q = StreamingOps.cleanDocStream(df, minTokens = 5,
        minStopRatio = 0.05, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("clean_docs")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, good, "en", "s0", ts("2024-01-01 10:00:00")),
        (2L, "too short", "en", "s0", ts("2024-01-01 10:00:01")), // token floor
        (3L, "x y z w v u q r s t m n o p", "zz", "s1",
          ts("2024-01-01 10:00:02")), // no stopwords → quality floor
        (4L, good, "en", "s0", ts("2024-01-01 10:00:03"))) // exact dup of 1
      q.processAllAvailable()
      val out = spark.table("clean_docs").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(out == Set(1L), s"got $out")
      // a NEW distinct doc still flows through
      input.addData((5L, good + " extended variant", "en", "s1",
        ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      assert(spark.table("clean_docs").collect()
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 5L))
    } finally q.stop()
  }

  test("extractDocStream: stream extraction bit-equal to batch " +
      "textExtract; all-boilerplate pages flagged, never dropped") {
    implicit val sqlCtx = spark.sqlContext
    val prose = "the quick brown fox jumps over the lazy dog " +
      "again and again every single day this year"
    val html1 = "<html><head><script>var t=0;</script></head><body>" +
      "<nav><a href='/'>Home</a> | <a href='/a'>About</a></nav>" +
      s"<p>$prose</p><footer>(c) corp</footer></body></html>"
    // every line is nav/footer boilerplate: extract must be empty,
    // the row must still land (quarantine convention)
    val html2 = "<html><body><nav><a href='/'>Home</a> " +
      "<a href='/b'>B</a></nav><footer>(c) corp</footer></body></html>"
    val input = MemoryStream[(Long, String, String, String, Timestamp)]
    val pages = input.toDF()
      .toDF("doc_id", "html", "lang", "source", "ingest_ts")
    val q = StreamingOps.extractDocStream(pages)
      .writeStream.format("memory").queryName("extract_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, html1, "en", "web", ts("2024-01-01 10:00:00")),
        (2L, html2, "en", "web", ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      val out = spark.table("extract_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("text"), r.getAs[Boolean]("is_empty"),
            r.getAs[Double]("kept_ratio"), r.getAs[String]("lang"))))
        .toMap
      assert(out.keySet == Set(1L, 2L), "flag, never drop")
      assert(!out(1L)._2 && out(1L)._1 == prose, out(1L).toString)
      assert(out(2L)._2 && out(2L)._1 == "", out(2L).toString)
      assert(out(1L)._4 == "en", "passthrough columns must survive")
      // the stream extract is the batch op bit-for-bit
      val batch = graft.operators.TextOps.textExtract(
          Seq((1L, html1), (2L, html2)).toDF("doc_id", "html"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("extract"), r.getAs[Double]("kept_ratio"))))
        .toMap
      out.foreach { case (id, (text, _, kr, _)) =>
        assert(batch(id) == ((text, kr)), s"doc $id drifts from batch")
      }
    } finally q.stop()
  }

  test("nearDupDocStream: same token set flagged, exact dup and disjoint not") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.nearDupDocStream(df)
      .writeStream.format("memory").queryName("neardup_docs")
      .outputMode("update").start()
    try {
      // NOT processAllAvailable(): ProcessingTimeTimeout keeps the
      // engine scheduling micro-batches, so "all available" never
      // settles — poll the sink with a deadline (liveLatestStatusTtl's
      // rationale)
      def await(n: Int): Map[Long, Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[Long, Boolean]
        while (out.size < n && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("neardup_docs").collect()
            .map(r => r.getAs[Long]("docId") -> r.getAs[Boolean]("isNeardup"))
            .toMap
        }
        out
      }
      input.addData(
        (1L, "alpha beta gamma delta"),
        (5L, "zeta eta theta iota"))
      assert(await(2).keySet == Set(1L, 5L))
      input.addData(
        // same DISTINCT token set as doc 1 (reordered + one repeat):
        // identical minima -> same band, different md5 -> near-dup
        (7L, "delta gamma beta alpha alpha"),
        // exact md5 copy of doc 1: same band but NOT near-dup (exact
        // dedup belongs to cleanDocStream)
        (8L, "alpha beta gamma delta"),
        (9L, "totally different words here now"))
      val out = await(5)
      assert(out == Map(1L -> false, 5L -> false, 7L -> true,
        8L -> false, 9L -> false), s"got $out")
    } finally q.stop()
  }

  test("robotsTxtGateFull is stream-transparent: the SAME function " +
      "over a MemoryStream pages frame reproduces the batch verdicts " +
      "(stream-static join + row-local argmax, zero state)") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(
      ("a.example.com", "/", false),
      ("a.example.com", "/p/10", true),
      ("a.example.com", "/*.json$", false))
      .toDF("host", "prefix", "allow")
    val pageRows = Seq(
      (1L, "http://a.example.com/p/9"),
      (2L, "http://a.example.com/p/10/doc"),
      (3L, "http://a.example.com/p/10/x.json"),
      (4L, "http://z.example.com/q"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.WebOps.robotsTxtGateFull(
        input.toDF().toDF("doc_id", "url"), rules)
      .writeStream.format("memory").queryName("robots_full_stream")
      .outputMode("append").start()
    try {
      input.addData(pageRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("robots_full_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("disallowed"),
            Option(r.getAs[String]("matched_prefix")))))
        .toMap
      val batch = graft.operators.WebOps.robotsTxtGateFull(
          pageRows.toDF("doc_id", "url"), rules).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("disallowed"),
            Option(r.getAs[String]("matched_prefix")))))
        .toMap
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // and the verdicts themselves are the RFC ones: carve-out in,
      // json anchored out (longest-match inside the carve-out space),
      // rule-free host allowed
      assert(batch(2L) == ((false, Some("/p/10"))), s"$batch")
      assert(batch(3L) == ((true, Some("/*.json$"))), s"$batch")
      assert(batch(4L) == ((false, None)), s"$batch")
    } finally q.stop()
  }

  test("scriptMix is stream-transparent: the SAME projection over a " +
      "MemoryStream docs frame reproduces the batch scorecard (pure " +
      "projection, zero state) — the intake can gate on script before " +
      "lang-ID exactly as batch curation does") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "ab Яр"), (2L, "中文網頁"),
      (3L, "...."))
    def keyed(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("dominant_script"), r.getAs[Long]("n_script"),
          r.getAs[Long]("dominant_ppm")))).toMap
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.scriptMix(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("script_mix_stream")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = keyed(spark.table("script_mix_stream").collect())
      val batch = keyed(graft.operators.TextOps.scriptMix(
        rows.toDF("doc_id", "text")).collect())
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch(2L)._1 == "cjk" && batch(3L)._1 == "none")
    } finally q.stop()
  }

  test("lineDedupDocStream: cross-batch repeated long line drops, " +
      "first claimant and the short exempt line keep, unique lines " +
      "ride through") {
    implicit val sqlCtx = spark.sqlContext
    val boiler = "please subscribe to the newsletter and share today"
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.lineDedupDocStream(df)
      .writeStream.format("memory").queryName("line_dedup_docs")
      .outputMode("update").start()
    try {
      // poll-with-deadline: ProcessingTimeTimeout keeps micro-batches
      // scheduling, so processAllAvailable never settles
      def await(n: Int): Map[(Long, Long), Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[(Long, Long), Boolean]
        while (out.size < n && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("line_dedup_docs").collect()
            .map(r => (r.getAs[Long]("docId"), r.getAs[Long]("lineId")) ->
              r.getAs[Boolean]("keep"))
            .toMap
        }
        out
      }
      input.addData((1L, s"$boiler\nalpha unique body line one\nOK"))
      assert(await(3).values.forall(identity),
        "first batch: claimant + unique + exempt all keep")
      // second batch: the boilerplate line repeats ACROSS batches (the
      // claim state carries), a new unique line keeps, OK stays exempt
      input.addData((2L, s"$boiler\nbeta unique body line two\nOK"))
      val out = await(6)
      assert(out((2L, 0L)) == false, s"repeated line must drop: $out")
      assert(out((2L, 1L)) && out((2L, 2L)), s"unique + exempt keep: $out")
      assert(out((1L, 0L)) && out((1L, 1L)) && out((1L, 2L)),
        s"first batch verdicts stand: $out")
    } finally q.stop()
  }

  test("embedDupVecStream: scaled copy flagged, exact copy and first " +
      "claimants not, degenerate vectors dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val df = input.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.embedDupVecStream(df, dim = 4)
      .writeStream.format("memory").queryName("neardup_vecs")
      .outputMode("update").start()
    try {
      def await(ids: Set[Long]): Map[Long, Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[Long, Boolean]
        while (!ids.subsetOf(out.keySet) && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("neardup_vecs").collect()
            .groupBy(_.getAs[Long]("docId"))
            // a vector is a candidate iff ANY of its (table, bucket)
            // rows is flagged — the per-band output contract
            .map { case (id, rows) =>
              id -> rows.exists(_.getAs[Boolean]("isNeardup")) }
        }
        out
      }
      val v1 = Array(1.0f, 0.2f, -0.3f, 0.5f)
      // v5 is ANTIPODAL to v1: every hyperplane sign flips, so the
      // two deterministically share no bucket in any table (a merely
      // "different" direction can share a 3-bit bucket by chance)
      val v5 = v1.map(x => -3.0f * x)
      input.addData((1L, v1), (5L, v5))
      val first = await(Set(1L, 5L))
      assert(first == Map(1L -> false, 5L -> false), s"got $first")
      input.addData(
        (7L, v1.map(_ * 2.0f)), // same direction, new values: flagged
        (8L, v1), // exact copy of v1: same md5, NOT flagged
        (9L, v1.map(-_)), // v5's direction, new values: flagged
        (2L, Array(1.0f, 2.0f)), // wrong dim: dropped
        (3L, Array(Float.NaN, 1.0f, 1.0f, 1.0f))) // NaN: dropped
      val out = await(Set(7L, 8L, 9L))
      assert(out == Map(1L -> false, 5L -> false, 7L -> true,
        8L -> false, 9L -> true), s"got $out")
      assert(!out.contains(2L) && !out.contains(3L))
    } finally q.stop()
  }

  test("audioDupDocStream: edited clip flagged, byte-copy and distinct not, junk and silence dropped") {
    implicit val sqlCtx = spark.sqlContext

    def clip(edit: Boolean, seed: Int = 0): Array[Byte] = {
      val rnd = new scala.util.Random(11 + seed)
      // 64 noise-burst segments, amplitudes seeded — the energy-delta
      // hash's native structure; the edit boosts one segment (a few
      // delta bits, not the whole hash)
      val pcm = Array.ofDim[Short](64 * 100)
      for (s <- 0 until 64) {
        val amp = 3000 + rnd.nextInt(12000)
        val r2 = new scala.util.Random(1000 + s)
        for (j <- 0 until 100)
          pcm(s * 100 + j) = (r2.nextInt(2 * amp + 1) - amp).toShort
      }
      if (edit) for (j <- 0 until 100)
        pcm(3200 + j) = (pcm(3200 + j) * 2).toShort
      graft.operators.AudioOps.writeWav(pcm, 8000)
    }

    val input = MemoryStream[(Long, Array[Byte], String)]
    val audio = {
      implicit val enc = org.apache.spark.sql.Encoders.product[
        graft.operators.AudioOps.AudioRow]
      input.toDF().toDF("docId", "payload", "format")
        .as[graft.operators.AudioOps.AudioRow]
    }
    val q = StreamingOps.audioDupDocStream(audio)
      .writeStream.format("memory").queryName("audiodup_stream")
      .outputMode("update").start()
    try {
      def await(n: Int): Map[Long, Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[Long, Boolean]
        while (out.size < n && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("audiodup_stream").collect()
            .groupBy(_.getAs[Long]("docId"))
            .map { case (id, rows) =>
              id -> rows.exists(_.getAs[Boolean]("isNeardup")) }
        }
        out
      }
      input.addData((1L, clip(edit = false), "audio"))
      assert(await(1) == Map(1L -> false))
      input.addData(
        (2L, clip(edit = false), "audio"), // byte-identical: NOT flagged
        (3L, clip(edit = true), "audio"), // one-segment boost: flagged
        (4L, clip(edit = false, seed = 99), "audio"), // distinct: not
        (5L, "not audio".getBytes("UTF-8"), "audio"), // dropped
        (6L, graft.operators.AudioOps.writeWav( // silence: dropped
          Array.fill[Short](4000)(0), 8000), "audio"),
        (7L, null, "audio")) // null payload: dropped
      val out = await(4)
      assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false),
        s"got $out")
    } finally q.stop()
  }

  test("imageDupDocStream: edited image flagged, byte-copy and distinct not, junk dropped") {
    implicit val sqlCtx = spark.sqlContext

    def img(edit: Boolean, seed: Int = 0): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(7 + seed)
      for (bx <- 0 until 8; by <- 0 until 8) {
        val c = rnd.nextInt(0xffffff)
        for (x <- bx * 8 until bx * 8 + 8; y <- by * 8 until by * 8 + 8)
          im.setRGB(x, y, c)
      }
      if (edit) // one block changed: a few dHash bits, not the whole hash
        for (x <- 0 until 8; y <- 0 until 8) im.setRGB(x, y, 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }

    val input = MemoryStream[(Long, Array[Byte], String)]
    val media = {
      implicit val enc = org.apache.spark.sql.Encoders.product[
        graft.operators.MultimodalOps.MediaRow]
      input.toDF().toDF("docId", "payload", "format")
        .as[graft.operators.MultimodalOps.MediaRow]
    }
    val q = StreamingOps.imageDupDocStream(media)
      .writeStream.format("memory").queryName("imagedup_stream")
      .outputMode("update").start()
    try {
      def await(n: Int): Map[Long, Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[Long, Boolean]
        while (out.size < n && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("imagedup_stream").collect()
            .groupBy(_.getAs[Long]("docId"))
            .map { case (id, rows) =>
              id -> rows.exists(_.getAs[Boolean]("isNeardup")) }
        }
        out
      }
      input.addData((1L, img(edit = false), "image"))
      assert(await(1) == Map(1L -> false))
      input.addData(
        (2L, img(edit = false), "image"), // byte-identical: NOT flagged
        (3L, img(edit = true), "image"), // one-block edit: flagged
        (4L, img(edit = false, seed = 99), "image"), // distinct: not
        (5L, "not an image".getBytes("UTF-8"), "image"), // dropped
        (6L, null, "image")) // null payload: dropped
      val out = await(4)
      assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false),
        s"got $out")
    } finally q.stop()
  }

  test("videoDupDocStream: frame-sharing clip flagged, byte-copy and " +
      "disjoint not, junk dropped") {
    implicit val sqlCtx = spark.sqlContext

    def jpeg(seed: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var st = seed
      for (y <- 0 until 32; x <- 0 until 32) {
        st = st * 1103515245 + 12345
        im.setRGB(x, y, st >>> 8 & 0xffffff)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    // shared frame FIXTURES (byte-identical across clips → identical
    // frame dHashes → identical band keys at the same frame index)
    val f = (1 to 7).map(jpeg).toArray
    def avi(frames: Array[Byte]*): Array[Byte] =
      graft.operators.VideoOps.writeAviMjpeg(frames.toSeq, 32, 32, fps = 10)

    val input = MemoryStream[(Long, Array[Byte], String)]
    val media = {
      implicit val enc = org.apache.spark.sql.Encoders.product[
        graft.operators.MultimodalOps.MediaRow]
      input.toDF().toDF("docId", "payload", "format")
        .as[graft.operators.MultimodalOps.MediaRow]
    }
    // maxHamming=2 → 4 bands of 16 bits: byte-identical shared frames
    // still collide on every band, while accidental 16-bit band
    // collisions between unrelated noise frames are ~4/65536 per pair
    // (the flake the 8-bit default schedule would reintroduce)
    val q = StreamingOps.videoDupDocStream(media, maxHamming = 2)
      .writeStream.format("memory").queryName("videodup_stream")
      .outputMode("update").start()
    try {
      def await(n: Int): Map[Long, Boolean] = {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        var out = Map.empty[Long, Boolean]
        while (out.size < n && System.nanoTime() < deadline) {
          Thread.sleep(200)
          out = spark.table("videodup_stream").collect()
            .groupBy(_.getAs[Long]("docId"))
            .map { case (id, rows) =>
              id -> rows.exists(_.getAs[Boolean]("isNeardup")) }
        }
        out
      }
      val clipA = avi(f(0), f(1), f(2))
      input.addData((1L, clipA, "video"))
      assert(await(1) == Map(1L -> false))
      input.addData(
        (2L, clipA, "video"), // byte-identical container: NOT flagged
        (3L, avi(f(0), f(1), f(3)), "video"), // shares frames 0,1: flagged
        (4L, avi(f(4), f(5), f(6)), "video"), // disjoint frames: not
        (5L, "not a container".getBytes("UTF-8"), "video"), // dropped
        (6L, f(0), "image"), // image format: the AVI path must not run
        (7L, null, "video")) // null payload: dropped
      val out = await(4)
      assert(out == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false),
        s"got $out")
    } finally q.stop()
  }

  test("dsirScoreDocStream: closed-window scores equal the batch " +
      "dsirScoreFrom bit-for-bit; unseen buckets take the floor") {
    implicit val sqlCtx = spark.sqlContext
    val train = (Seq(7L, 17L).map(_ -> "alpha beta alpha") ++
      Seq(100L -> "alpha gamma", 101L -> "beta gamma gamma"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dsirstream").toString
    graft.operators.Curation.writeDsirIndex(train, dir)
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = StreamingOps.dsirScoreDocStream(spark, dir, df, "1 minute",
        "0 seconds")
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      val scored = Seq(
        (0L, "alpha beta gamma"),   // all-seen features
        (7L, "zzz unseen tokens"),  // all-unseen: pure floor
        (2L, "alpha zzz"),          // mixed
        (3L, ""))                   // tokenless: no row
      input.addData(scored.map { case (id, t) =>
        (id, t, ts("2024-01-01 09:00:10")) }: _*)
      q.processAllAvailable()
      input.addData((9L, "alpha", ts("2024-01-01 09:05:00")))
      q.processAllAvailable()
      val live = spark.table("dsir_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("is_target"), r.getAs[Long]("n_feat"),
            r.getAs[Double]("log_weight"))))
        .toMap
      val batch = graft.operators.Curation.dsirScoreFrom(spark, dir,
          scored.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("is_target"), r.getAs[Long]("n_feat"),
            r.getAs[Double]("log_weight"))))
        .toMap
      assert(live.keySet == Set(0L, 7L, 2L), s"got ${live.keySet}")
      assert(live == batch, s"live $live != batch $batch")
      assert(live(7L)._1, "doc 7 carries the stand-in target label")
    } finally q.stop()
  }

  test("probeGateDocStream: row-local scores equal the batch serve " +
      "bit-for-bit; tokenless docs drop; keep tracks the threshold") {
    implicit val sqlCtx = spark.sqlContext
    // frozen probe trained on a batch corpus with both stand-in
    // classes (ids 7 and 17 are positives under the % 10 == 7 rule)
    val train = (0L until 20L).map(i =>
      (i, if (i % 10 == 7) s"good trusted article number $i"
        else s"spam junk page $i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-probestream").toString
    graft.operators.Curation.writeProbeIndex(train, dir)
    val input = MemoryStream[(Long, String, Timestamp)]
    val df = input.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = StreamingOps.probeGateDocStream(spark, dir, df)
      .writeStream.format("memory").queryName("probe_gate")
      .outputMode("append").start()
    try {
      val arriving = Seq(
        (7L, "good trusted article number 7"),
        (3L, "spam junk page 3"),
        (21L, "an unseen mixture of good and junk words"),
        (5L, ""), (6L, "   ")) // tokenless: hashEmbed's no-row contract
      input.addData(arriving.map { case (id, t) =>
        (id, t, ts("2024-01-01 09:00:10")) }: _*)
      q.processAllAvailable()
      val live = spark.table("probe_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("is_target"), r.getAs[Double]("score"),
            r.getAs[Boolean]("keep"))))
        .toMap
      val batch = graft.operators.Curation.probeScoreFrom(spark, dir,
          arriving.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("is_target"), r.getAs[Double]("score"))))
        .toMap
      assert(live.keySet == Set(7L, 3L, 21L), s"got ${live.keySet}")
      assert(live.view.mapValues(v => (v._1, v._2)).toMap == batch,
        s"live $live != batch $batch")
      live.values.foreach { case (_, score, keep) =>
        assert(keep == (score >= 0.5)) }
    } finally q.stop()
  }
}
