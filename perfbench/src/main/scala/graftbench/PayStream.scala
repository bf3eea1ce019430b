package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.PaymentConfirm

/** `pay-stream`: the deployed confirm pipeline,
  * `PaymentConfirm.filePipeline` (file ingest → payment FSM → confirm
  * join → masked idempotent sink), fed by an open-loop generator.
  *
  * Phase 1 writes JSON-lines files at a fixed event rate, on a
  * schedule that does not slow when the pipeline does; every event's
  * `ts` is its scheduled creation time. Its first `LeadBatches`
  * micro-batches are set-up: a fresh query's first batches take 1.5 to
  * 5 times as long as later ones (query start, JIT), and timing them
  * made the latency figures depend on how fast that transient settled.
  * The window then measures the payments created over the next
  * `seconds` less 2 s. Phase 2 writes a fixed backlog before a second
  * query starts and times its drain.
  *
  * The seed sets the status mix, the share of terminals delivered
  * before their create (inside the 10 s watermark), duplicate creates,
  * malformed lines, and the amounts dimension. The FSM expiry is
  * scaled from the reference's 10 minutes to 3 s so both expiry paths
  * run inside a window.
  */
object PayStream extends Workload {
  val name = "pay-stream"
  val RatePerS = 2000       // phase-1 event lines per second
  val FileEveryMs = 200     // generator file cadence
  val BacklogLines = 40000  // phase-2 backlog
  val ExpiryMs = 3000L
  val LimitMs = 10000.0     // latency limit on p99: the reference's poll interval
  val MaxGenLagMs = 2000L   // a generator this late invalidates the run
  val DrainTimeoutMs = 60000L
  val LeadBatches = 6       // set-up: phase-1 micro-batches with input before the window
  val LeadMaxMs = 30000L    // the longest set-up lead-in
  val LastLineMs = ExpiryMs + 1500 // a payment's last line is due this soon after its create

  /** One payment of the event script. `fate` is processed, rejected,
    * expired (no terminal), late (processed after expiry) or malformed
    * (unparseable create, valid processed terminal).
    */
  final case class Payment(id: Long, fate: String, createMs: Long, termMs: Long,
      createDelayMs: Long, dupCreate: Boolean, currency: String,
      kau: java.math.BigDecimal, kag: java.math.BigDecimal) {
    def expectsConfirm: Boolean = fate == "processed"
    def amount: java.math.BigDecimal = if (currency == "KAU") kau else kag
    /** When the last event its confirm needs is due: the terminal, or
      * a create the script delivers after it. Latency runs from here,
      * so the script's own delivery delay is not counted as pipeline time.
      */
    def readyMs: Long = math.max(termMs, createMs + createDelayMs)
  }

  /** An event line due at `dueMs`, of the payment created at `payCreateMs`. */
  final case class Line(dueMs: Long, text: String, payCreateMs: Long)

  /** Seeded event script for payments created over `[t0, t0+spanMs)`. */
  def script(seed: Long, firstId: Long, n: Int, t0: Long, spanMs: Long)
      : (Seq[Payment], Seq[Line]) = {
    val r = new scala.util.Random(seed * 7919 + firstId)
    // the seed sets the mix
    val pRej = 0.12 + r.nextDouble() * 0.06
    val pExp = 0.05 + r.nextDouble() * 0.03
    val pLate = 0.02 + r.nextDouble() * 0.02
    val pBad = 0.02 + r.nextDouble() * 0.02
    val pEarly = 0.08 + r.nextDouble() * 0.04
    val pDup = 0.05 + r.nextDouble() * 0.03
    val pays = (0 until n).map { i =>
      val u = r.nextDouble()
      val fate =
        if (u < pRej) "rejected" else if (u < pRej + pExp) "expired"
        else if (u < pRej + pExp + pLate) "late"
        else if (u < pRej + pExp + pLate + pBad) "malformed" else "processed"
      val c = t0 + spanMs * i / n
      val term = fate match {
        case "late" => c + ExpiryMs + 300 + r.nextInt(900)
        case _ => c + 100 + r.nextInt(1400)
      }
      // a create delivered after its terminal, stamped with its creation time
      val early = fate == "processed" && r.nextDouble() < pEarly
      val delay = if (early) term - c + 200 + r.nextInt(1000) else 0L
      // duplicate creates only for payments whose create parses
      Payment(firstId + i, fate, c, term, delay, fate != "malformed" && r.nextDouble() < pDup,
        if (r.nextBoolean()) "KAU" else "KAG",
        java.math.BigDecimal.valueOf(100 + r.nextInt(99900), 2),
        java.math.BigDecimal.valueOf(100 + r.nextInt(99900), 2))
    }
    def ev(id: Long, ms: Long, kind: String) =
      s"""{"paymentId":$id,"ts":"${java.time.Instant.ofEpochMilli(ms)}","kind":"$kind"}"""
    val lines = pays.flatMap { p =>
      def line(dueMs: Long, text: String) = Line(dueMs, text, p.createMs)
      val create =
        if (p.fate == "malformed") {
          if (p.id % 2 == 0) line(p.createMs, s"""{"paymentId":${p.id},"ts":"not-a-time","kind":"create"}""")
          else line(p.createMs, s"""{"paymentId":${p.id},"ts":""")
        } else line(p.createMs + p.createDelayMs, ev(p.id, p.createMs, "create"))
      val dup = if (p.dupCreate) Seq(line(p.createMs + 500, ev(p.id, p.createMs, "create"))) else Nil
      val term = p.fate match {
        case "expired" => Nil
        case "rejected" => Seq(line(p.termMs, ev(p.id, p.termMs, "rejected")))
        case _ => Seq(line(p.termMs, ev(p.id, p.termMs, "processed")))
      }
      create +: (dup ++ term)
    }.sortBy(_.dueMs)
    (pays, lines)
  }

  private val amountsSchema = new StructType().add("paymentId", LongType)
    .add("currency", StringType).add("kauAmount", DecimalType(12, 2))
    .add("kagAmount", DecimalType(12, 2))

  private def amounts(ctx: Ctx, pays: Seq[Payment]): DataFrame = {
    val rows = pays.map(p => Row(p.id, p.currency, p.kau, p.kag))
    val df = ctx.spark.createDataFrame(rows.asJava, amountsSchema).cache()
    df.count()
    df
  }

  /** Collects every query progress, and each batch's commit time. */
  final class Progress extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.add(e.progress)
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      all.asScala.filter(_.runId == q.runId).toSeq
  }

  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L).longValue

  /** Writes `lines` as one JSON-lines file, atomically (hidden temp
    * file, then rename — the file source skips dot-files).
    */
  private def writeFile(dir: String, n: Int, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, f".tmp-$n%06d")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, Paths.get(dir, f"part-$n%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A running pipeline over fresh directories. */
  final class Pipe(ctx: Ctx, tag: String, pays: Seq[Payment]) {
    val root = s"${ctx.workDir}/stream-$tag"
    val in = s"$root/in"
    val out = s"$root/out"
    Files.createDirectories(Paths.get(in))
    val amountsDf = amounts(ctx, pays)
    var query: StreamingQuery = _
    var startMs = 0L
    def start(): Unit = {
      startMs = System.currentTimeMillis()
      query = PaymentConfirm.filePipeline(ctx.spark, in, amountsDf, out,
        s"$root/checkpoint", expiryMs = ExpiryMs)
    }
    def inputRows(prog: Progress): Long = prog.of(query).map(_.numInputRows).sum
    /** Waits until `lines` input lines have been processed. */
    def drain(prog: Progress, lines: Long): Boolean = {
      val until = System.currentTimeMillis() + DrainTimeoutMs
      while (inputRows(prog) < lines && System.currentTimeMillis() < until &&
          query.exception.isEmpty) Thread.sleep(20)
      inputRows(prog) >= lines
    }
    def stop(): Unit = { query.stop(); amountsDf.unpersist() }
  }

  /** Confirms landed by `pipe`, checked against the script: exactly one
    * per processed payment with the generator's amount, none for any
    * other payment. Returns (violations, latency ms per confirmed
    * payment, measured from its `readyMs`).
    */
  def check(ctx: Ctx, pipe: Pipe, prog: Progress, pays: Seq[Payment])
      : (Seq[String], Map[Long, Double]) = {
    val commit = prog.of(pipe.query).map(p => p.batchId -> endMs(p)).toMap
    val schema = new StructType().add("paymentId", LongType).add("currency", StringType)
      .add("amount", DecimalType(12, 2)).add("amount_paid", StringType)
      .add("resolvedTs", TimestampType).add("batch", LongType)
    val got =
      if (!Files.exists(Paths.get(pipe.out))) Array.empty[Row]
      else ctx.spark.read.schema(schema).json(pipe.out)
        .select("paymentId", "amount", "batch").collect()
    val byId = got.groupBy(_.getLong(0))
    val bad = mutable.ArrayBuffer.empty[String]
    val lat = mutable.Map.empty[Long, Double]
    pays.foreach { p =>
      val rows = byId.getOrElse(p.id, Array.empty[Row])
      if (p.expectsConfirm) {
        if (rows.length != 1) bad += s"payment ${p.id}: ${rows.length} confirms, expected 1"
        else if (rows(0).getDecimal(1).compareTo(p.amount) != 0)
          bad += s"payment ${p.id}: amount ${rows(0).getDecimal(1)}, expected ${p.amount}"
        else commit.get(rows(0).getLong(2)).foreach(c => lat(p.id) = (c - p.readyMs).toDouble)
      } else if (rows.nonEmpty) bad += s"payment ${p.id} (${p.fate}): unexpected confirm"
    }
    val known = pays.map(_.id).toSet
    got.filterNot(r => known(r.getLong(0))).foreach(r => bad += s"confirm for unknown ${r.getLong(0)}")
    (bad.toSeq, lat.toMap)
  }

  /** Phase 1's generator: writes the script's lines at their due
    * times, one file per tick. Once `cutoff` is set it skips payments
    * created at or after it, and it ends when every line of an earlier
    * payment is written.
    */
  final class Generator(dir: String, t0: Long, lines: Seq[Line]) {
    @volatile var cutoff = Long.MaxValue
    @volatile var lagMax = 0L
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val files = mutable.ArrayBuffer.empty[(Long, Long)] // (write ms, cumulative lines)
    // lines grouped by the tick that writes them, before the clock starts
    private val ticks = lines.groupBy(l => math.max(0L, (l.dueMs - t0 + FileEveryMs - 1) / FileEveryMs))
    private val lastTick = if (ticks.isEmpty) 0L else ticks.keys.max
    val thread = new Thread(() => {
      var i = 0
      var k = 0L
      def due = t0 + k * FileEveryMs
      while (k <= lastTick && (cutoff == Long.MaxValue || due <= cutoff + LastLineMs)) {
        val sleep = due - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        val c = cutoff
        ticks.get(k).map(_.filter(_.payCreateMs < c)).filter(_.nonEmpty).foreach { ls =>
          writeFile(dir, i, ls.map(_.text)); i += 1
          written.addAndGet(ls.size)
          val at = System.currentTimeMillis()
          lagMax = math.max(lagMax, at - due)
          files.synchronized { files += ((at, written.get)) }
        }
        k += 1
      }
    }, "pay-stream-generator")
    thread.setDaemon(true)
  }

  private var prog: Progress = _
  private var pays1: Seq[Payment] = Nil
  private var pipe1: Pipe = _
  private var gen: Generator = _
  private var c0 = 0L
  private var windowMs = 0L
  private var leadBatches = 0

  /** Set-up: phase 1 starts, and runs until `LeadBatches` micro-batches
    * with input have committed (at most `LeadMaxMs`); then the window
    * opens and payments created from then on are measured.
    */
  def warm(ctx: Ctx, seconds: Double): Unit = {
    prog = new Progress
    ctx.spark.streams.addListener(prog)
    c0 = Codegen.compiles
    // creates stop 2 s before the window's end, so terminals (up to
    // expiry + 1.2 s after their create) land near it; ~2.1 lines per payment
    val createMs = math.max(1000L, (seconds * 1000).toLong - 2000)
    val spanMs = LeadMaxMs + createMs
    val nPay = (RatePerS * spanMs / 1000.0 / 2.1).toInt
    // the pipeline's amounts do not depend on the clock; the schedule
    // starts once the query has (the first start can take seconds)
    pipe1 = new Pipe(ctx, "p1", script(ctx.seed, 1000000L, nPay, 0L, spanMs)._1)
    pipe1.start()
    val t0 = System.currentTimeMillis() + 300
    val (pays, lines) = script(ctx.seed, 1000000L, nPay, t0, spanMs)
    pays1 = pays
    gen = new Generator(pipe1.in, t0, lines)
    gen.thread.start()
    def batches = prog.of(pipe1.query).count(_.numInputRows > 0)
    while (batches < LeadBatches && System.currentTimeMillis() < t0 + LeadMaxMs &&
        pipe1.query.exception.isEmpty) Thread.sleep(20)
    leadBatches = batches
    windowMs = System.currentTimeMillis()
    gen.cutoff = windowMs + createMs
  }

  def measure(ctx: Ctx, seconds: Double): Report = {
    // ── phase 1: fixed-rate open loop ──
    gen.thread.join()
    val genEnd = System.currentTimeMillis()
    val drained1 = pipe1.drain(prog, gen.written.get)
    val p1Progress = prog.of(pipe1.query).filter(_.numInputRows > 0)
    val p1EndMs = if (p1Progress.isEmpty) genEnd else p1Progress.map(endMs).max
    pipe1.stop()
    // every written payment is checked; those created in the window are timed
    val sent = pays1.filter(_.createMs < gen.cutoff)
    val (bad1, latSent) = check(ctx, pipe1, prog, sent)
    val timed = sent.filter(_.createMs >= windowMs)
    val timedIds = timed.map(_.id).toSet
    val lat1 = latSent.filter { case (id, _) => timedIds(id) }
    val lines1 = gen.written.get
    val p1CodegenCompiles = Codegen.compiles - c0

    // ── phase 2: drain a pre-written backlog ──
    val b0 = System.currentTimeMillis()
    val nPay2 = (BacklogLines / 2.1).toInt
    val (pays2, lines2) = script(ctx.seed, 2000000L, nPay2, b0 - 2000, 2000)
    val pipe2 = new Pipe(ctx, "p2", pays2)
    lines2.grouped(2000).zipWithIndex.foreach { case (ls, i) => writeFile(pipe2.in, i, ls.map(_.text)) }
    pipe2.start()
    val drained2 = pipe2.drain(prog, lines2.size)
    val p2 = prog.of(pipe2.query)
    val drainS = (if (p2.isEmpty) DrainTimeoutMs else p2.map(endMs).max - pipe2.startMs) / 1000.0
    pipe2.stop()
    val (bad2, _) = check(ctx, pipe2, prog, pays2)

    // ── metrics ──
    val confirmIds = timed.filter(_.expectsConfirm).map(_.id)
    // a processed payment without a timely confirm misses the limit
    val lat = confirmIds.map(id => lat1.getOrElse(id, math.max(LimitMs, DrainTimeoutMs.toDouble)))
    val wallS = math.max(1e-3, (p1EndMs - windowMs) / 1000.0)
    // a payment (terminal → confirm) is this workload's op
    val e2e = Map(
      "olap_qps" -> lat1.size / wallS,
      "olap_latency_p50_ms" -> Stats.median(lat),
      "olap_latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "stream_latency_p50_ms" -> Stats.median(lat),
      "stream_latency_p99_ms" -> Stats.quantile(lat, 0.99),
      "stream_catchup_eps" -> lines2.size / drainS)
    val problems = bad1 ++ bad2 ++
      (if (drained1) Nil else Seq("phase 1 did not drain")) ++
      (if (drained2) Nil else Seq("phase 2 did not drain"))
    problems.take(10).foreach(p => Main.note(s"FAILED $p"))
    val p99 = e2e("stream_latency_p99_ms")
    Main.note(f"phase 1: $lines1 lines, ${sent.size} payments (${timed.size} in the window " +
      f"after $leadBatches set-up batches), ${confirmIds.size} confirm latencies, " +
      f"${p1Progress.size} batches, p99 $p99%.0f ms " +
      f"(limit ${LimitMs}%.0f ms ${if (p99 <= LimitMs) "met" else "MISSED"}); " +
      f"generator lag max ${gen.lagMax} ms")
    Main.note("phase 1 batches (input rows/ms): " + p1Progress.sortBy(_.batchId)
      .map(p => s"${p.numInputRows}/${p.durationMs.getOrDefault("triggerExecution", 0L)}")
      .mkString(" "))
    Main.note(f"phase 2: ${lines2.size} backlog lines drained in $drainS%.2f s")
    val genOk = gen.lagMax <= MaxGenLagMs
    if (!genOk) Main.note(s"INVALID run: generator fell ${gen.lagMax} ms behind schedule")
    val layers =
      if (!ctx.traceOn) Map.empty[String, Double]
      else streamLayers(ctx, pipe1, p1Progress, gen.files.synchronized(gen.files.toSeq),
        gen.lagMax, p1CodegenCompiles)
    Report(attempted = sent.size + pays2.size, failed = problems.size,
      wrong = bad1.size + bad2.size, e2e = e2e, layers = layers,
      samples = lat.size, valid = genOk)
  }

  /** Per-layer metrics of phase 1, per micro-batch. The set-up batches
    * are included: the listener's counters cover the whole query.
    */
  private def streamLayers(ctx: Ctx, pipe: Pipe, ps: Seq[StreamingQueryProgress],
      files: Seq[(Long, Long)], genLagMax: Long, compiles: Long): Map[String, Double] = {
    org.apache.spark.BenchAccess.drainListeners(ctx.spark.sparkContext)
    def phase(k: String) = Stats.median(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    def zero(x: Double) = if (x.isNaN) 0.0 else x
    val n = math.max(1, ps.size).toDouble
    val g = ctx.listener.stats(pipe.query.runId.toString)
    val mb = 1024.0 * 1024.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    val execMs = ps.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum
    m("catalyst.plan_ms") = zero(phase("queryPlanning"))
    m("codegen.compiles") = compiles / n
    m("spark.exec_ms") = execMs / n
    m("spark.driver_gap_ms") = ps.map { p =>
      val e = endMs(p)
      g.idleMs(e - p.durationMs.getOrDefault("triggerExecution", 0L), e).toDouble
    }.sum / n
    m("spark.jobs") = g.jobs / n
    m("spark.stages") = g.stages / n
    m("spark.tasks") = g.tasks / n
    m("spark.task_s") = g.runMs / 1000.0 / n
    m("spark.core_busy_frac") = if (execMs > 0) g.runMs / (execMs * ctx.cores) else 0.0
    m("spark.task_wait_s") = g.waitMs / 1000.0 / n
    m("spark.gc_s") = g.gcMs / 1000.0 / n
    m("spark.deser_s") = g.deserMs / 1000.0 / n
    m("spark.shuffle_write_mb") = g.shuffleWrite / mb / n
    m("spark.shuffle_read_mb") = g.shuffleRead / mb / n
    m("spark.spill_mb") = g.spill / mb / n
    m("spark.result_mb") = g.result / mb / n
    m("spark.failed_tasks") = g.failedTasks / n
    m("sources.bytes_read_mb") = g.inBytes / mb / n
    m("sources.rows_read") = g.inRecords / n
    m("sources.latestOffset_ms") = zero(phase("latestOffset"))
    m("sources.getBatch_ms") = zero(phase("getBatch"))
    m("streaming.batches") = ps.size.toDouble
    m("streaming.batch_ms.p50") = zero(phase("triggerExecution"))
    m("streaming.rows_per_batch.p50") = zero(Stats.median(ps.map(_.numInputRows.toDouble)))
    m("streaming.addBatch_ms.p50") = zero(phase("addBatch"))
    m("streaming.queryPlanning_ms.p50") = zero(phase("queryPlanning"))
    m("streaming.walCommit_ms.p50") = zero(phase("walCommit"))
    m("streaming.commitOffsets_ms.p50") = zero(phase("commitOffsets"))
    val state = ps.lastOption.toSeq.flatMap(_.stateOperators)
    m("streaming.state.rows_total") = state.map(_.numRowsTotal.toDouble).sum
    m("streaming.state.memory_mb") = state.map(_.memoryUsedBytes / mb).sum
    m("streaming.state.commit_ms.p50") = zero(Stats.median(ps.flatMap(_.stateOperators)
      .map(_.commitTimeMs.toDouble)))
    // backlog at each batch end: files written but not yet fully ingested
    var consumed = 0L
    m("streaming.backlog_files.max") = ps.sortBy(_.batchId).map { p =>
      consumed += p.numInputRows
      val at = endMs(p)
      files.count { case (w, cum) => w <= at && cum > consumed }.toDouble
    }.foldLeft(0.0)(math.max)
    m("streaming.gen_lag_ms.max") = genLagMax.toDouble
    m("trace.overhead_frac") = ctx.listener.busyNs / 1e9 / math.max(1e-3, execMs / 1000.0)
    Layers.cache(ctx, m)
    m.toMap
  }
}
