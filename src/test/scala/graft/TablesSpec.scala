package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType

import graft.sources.Tables

/** Loader contract around the events table's two writer generations:
  * the nanos machinery (set the session flag when unset, REFUSE to
  * override an explicit user `false` — Spark 4 has no per-read escape
  * hatch for TIMESTAMP(NANOS)) engages ONLY when the file actually
  * carries a NANOS column; the current MICROS/NTZ generation loads
  * with zero session side effects, and its NTZ→instant normalization
  * refuses a non-UTC session loudly instead of silently shifting
  * every instant. A table resolves once per session: a repeat load
  * launches no Spark job, and a new session sees rewritten files.
  */
class TablesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("events (MICROS generation) loads without touching an explicit nanosAsLong=false") {
    val s2 = spark.newSession()
    s2.conf.set(Tables.NanosFlag, "false")
    // the file needs no legacy flag, so the load must neither refuse
    // nor flip the user's setting (the nanos machinery is conditional
    // on the file, not unconditional)
    val events = Tables(s2, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(s2.conf.get(Tables.NanosFlag) == "false")
  }

  test("events NTZ load refuses a non-UTC session loudly") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalStateException](Tables(s2, dir, "events"))
    assert(e.getMessage.contains("session.timeZone"),
      s"refusal must name the conf: ${e.getMessage}")
  }

  test("events NTZ load accepts UTC-EQUIVALENT zone ids (Etc/UTC, GMT, +00:00)") {
    // zone equivalence, not string equality: these are common
    // container/JVM defaults with the identical instant mapping
    Seq("Etc/UTC", "GMT", "+00:00").foreach { z =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", z)
      assert(Tables(s2, dir, "events").schema("ts").dataType == TimestampType,
        s"zone '$z' must load")
    }
  }

  test("events NANOS generation: footer-detected, loaded, truncated to micros") {
    // the fixtures stopped shipping TIMESTAMP(NANOS), so write one
    // with parquet-mr directly (Spark cannot) — the footer probe (r9,
    // replacing the exception-text match ADVICE flagged) must detect
    // it and the nanos machinery must engage and truncate ns → µs
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val f = new org.apache.hadoop.fs.Path(s"$tmp/events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(f, conf))
      .withConf(conf).build()
    val nanos = 1704067200L * 1000000000L + 123456789L // 2024-01-01 + .123456789s
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally w.close()
    val events = Tables(spark.newSession(), tmp, "events")
    assert(events.schema("ts").dataType == TimestampType)
    val got = events.selectExpr("unix_micros(ts) AS m").collect().head.getLong(0)
    assert(got == 1704067200123456L,
      s"ns must truncate to µs (DuckDB-matching), got $got")
  }

  test("events loads with ts normalized to micros TimestampType") {
    val events = Tables(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    val r = events.selectExpr("min(cast(ts as long)) AS lo",
      "max(cast(ts as long)) AS hi").collect().head
    assert(r.getLong(0) > 631152000L, "ts must be after 1990")
    assert(r.getLong(1) < 4102444800L, "ts must be before 2100")
  }

  test("events loads on a session that NEVER set the nanos flag") {
    // The advertised fallback path: a fresh session (driver-built, no
    // pre-set conf). newSession() inherits the suite builder's =true,
    // so unset restores the never-explicitly-set state; the registered
    // SQLConf default ("false") must NOT trip the refusal guard.
    val s2 = spark.newSession()
    s2.conf.unset(Tables.NanosFlag)
    assert(s2.conf.get(Tables.NanosFlag, null) == null, "flag must read as unset")
    val events = Tables(s2, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.limit(1).count() == 1)
  }

  test("non-events tables never touch the nanos session conf") {
    val s2 = spark.newSession()
    // "false" is the observable canary: events would refuse, and any
    // loader write would change it
    s2.conf.set(Tables.NanosFlag, "false")
    assert(Tables(s2, dir, "orders").limit(1).count() == 1)
    assert(s2.conf.get(Tables.NanosFlag) == "false")
  }

  /** Spark jobs launched by `body` on this thread, counted by job
    * group. The listener bus delivers job events asynchronously and in
    * order, so a marker job's start event means every earlier start
    * has been counted.
    */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val synced = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => synced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "sync")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(synced.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("a repeat load in one session launches no Spark job and returns the same rows") {
    val s2 = spark.newSession()
    Seq("events", "orders").foreach { n =>
      val (first, firstJobs) = jobsOf(s2)(Tables(s2, dir, n))
      assert(firstJobs >= 1, s"$n: the first load resolves the table")
      val (again, againJobs) = jobsOf(s2)(Tables(s2, dir, n))
      assert(againJobs == 0, s"$n: a repeat load ran $againJobs job(s)")
      assert(again.schema == first.schema)
      val rows = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(again) == rows(first), s"$n: a repeat load changed rows")
    }
    // several registry keys self-join two loads of one table: each
    // load's own key column must match row to row
    val (a, b) = (Tables(s2, dir, "orders"), Tables(s2, dir, "orders"))
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == a.count())
  }

  test("a new session sees a table rewritten after the first session loaded it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$tmp/orders.parquet"
    val s1 = spark.newSession()
    import s1.implicits._
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(path)
    assert(Tables(s1, tmp, "orders").count() == 2)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("o_orderkey", "o_comment")
      .write.mode("overwrite").parquet(path)
    val fresh = Tables(spark.newSession(), tmp, "orders")
    assert(fresh.columns.toSeq == Seq("o_orderkey", "o_comment"))
    assert(fresh.count() == 3)
  }
}
