package graftbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a batch mix: `key` names its reference digest,
  * `inputRows` the rows of the tables it reads.
  */
final case class OpSpec(kind: String, param: String, inputRows: Long,
    build: () => DataFrame) {
  def key: String = if (param.isEmpty) kind else s"$kind|$param"
}

/** What one op did. Latencies of failed ops are kept (never dropped
  * from an aggregate); `phase` is "warm", "rewarm" or "measure".
  */
final case class OpResult(seq: Int, spec: OpSpec, phase: String, startUs: Long,
    endUs: Long, failure: Option[String], rows: Long, traced: Boolean,
    compiles: Long, compileMs: Double) {
  def ms: Double = (endUs - startUs) / 1000.0
  def ok: Boolean = failure.isEmpty
  def group: String = s"op-$seq"
}

/** Runs ops one at a time (a closed loop with one client): operator
  * call, planning, execution of the digest aggregate, output check.
  * Each op runs in its own Spark job group, which attributes task
  * counters to it and lets a watchdog cancel it at `timeoutMs`.
  */
final class BatchRunner(spark: SparkSession, ref: Reference, timeoutMs: Long,
    tracer: Tracer) {
  private val sc = spark.sparkContext
  private val watchdog = Executors.newSingleThreadScheduledExecutor()
  private val seqs = new java.util.concurrent.atomic.AtomicInteger(0)
  private val off = new Tracer(false)
  private val done = mutable.ArrayBuffer.empty[OpResult]

  def results: Seq[OpResult] = done.synchronized(done.sortBy(_.seq).toSeq)

  /** Runs one op on the calling thread; safe to call from several. */
  def run(spec: OpSpec, phase: String, traced: Boolean): OpResult = {
    val seq = seqs.incrementAndGet()
    val group = s"op-$seq"
    val t = if (traced) tracer else off
    sc.setJobGroup(group, spec.key, interruptOnCancel = true)
    val cancel = watchdog.schedule(
      (() => sc.cancelJobGroup(group)): Runnable, timeoutMs, TimeUnit.MILLISECONDS)
    val c0 = if (traced) Codegen.compiles else 0L
    val m0 = if (traced) Codegen.compileMsTotal else 0.0
    val t0 = Clock.nowUs
    var rows = -1L
    val failure: Option[String] =
      try t.span("op", 0, group) { opId =>
        val df = t.span("operators", opId, group)(_ => spec.build())
        val digest = Digest.frame(df)
        t.span("catalyst", opId, group)(_ => digest.queryExecution.executedPlan)
        val row = t.span("spark", opId, group)(_ => digest.collect().head)
        rows = row.getLong(0)
        t.span("check", opId, group)(_ => ref.check(spec.key, rows, row.getString(1)))
          .map("wrong: " + _)
      } catch {
        case e: Throwable => Some(s"error: ${spec.key}: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      } finally {
        cancel.cancel(false)
        sc.clearJobGroup()
      }
    val t1 = Clock.nowUs
    val late = if ((t1 - t0) / 1000 > timeoutMs) Some(s"timeout: ${spec.key}") else None
    if (traced) BenchAccess.drainListeners(sc)
    val r = OpResult(seq, spec, phase, t0, t1, failure.orElse(late), rows, traced,
      if (traced) Codegen.compiles - c0 else 0L,
      if (traced) Codegen.compileMsTotal - m0 else 0.0)
    Main.note(f"op $seq%4d $phase%-7s ${r.ms}%9.1f ms  ${spec.key}" +
      r.failure.map(" FAILED " + _).getOrElse(""))
    done.synchronized(done += r)
    r
  }

  def close(): Unit = watchdog.shutdownNow()
}

/** A closed-loop batch workload: two warm passes over every op kind
  * during set-up, then whole rounds of a seeded op sequence, one op at
  * a time.
  */
abstract class BatchWorkload extends Workload {
  /** The warm pass: one op of every kind, as lanes that run
    * concurrently, one thread per core; the ops of one lane run in
    * order (ops that share a memoized fixture go in one lane). Set-up
    * runs it twice: after one pass the first measured round was still
    * half again as slow as later ones (JIT), and its slowest queries
    * set the top percentiles.
    */
  def warmLanes(ctx: Ctx): Seq[Seq[OpSpec]]
  /** The measured op sequence for the run's seed. */
  def sequence(ctx: Ctx): Iterator[OpSpec]
  /** Every op key the reference file must cover for the run's seed. */
  def allOps(ctx: Ctx): Seq[OpSpec]
  /** Ops in one round of the mix. */
  def roundOps: Int
  /** Seconds of `--seconds` per measured round: the window runs
    * ceil(seconds / roundSeconds) whole rounds, a fixed amount of work,
    * so every run of a given length measures the same kind mix.
    */
  def roundSeconds: Double
  def referenceFile: String
  def opKinds: Seq[String]
  def timeoutMs: Long

  private var runner: BatchRunner = _
  private var ref: Reference = _

  def warm(ctx: Ctx, seconds: Double): Unit = {
    ref = new Reference(s"${ctx.benchDir}/reference/$referenceFile")
    runner = new BatchRunner(ctx.spark, ref, timeoutMs, ctx.tracer)
    val pool = Executors.newFixedThreadPool(ctx.cores)
    def pass(phase: String): Unit = warmLanes(ctx).map(lane => pool.submit((() =>
      lane.foreach(op => runner.run(op, phase, traced = false))): Runnable)).foreach(_.get)
    try { pass("warm"); pass("rewarm") }
    finally pool.shutdown()
  }

  def measure(ctx: Ctx, seconds: Double): Report = {
    System.gc() // every window starts from a collected heap
    val t0 = Clock.nowUs
    ctx.record match {
      case Some(out) =>
        // reference recording: every key once, nothing timed
        allOps(ctx).foreach(op => runner.run(op, "measure", traced = false))
        ref.writeObserved(out)
      case None =>
        val ops = sequence(ctx)
        val n = roundOps * math.max(1, math.ceil(seconds / roundSeconds).toInt)
        // in a traced run every other op is traced; the untraced ones
        // give the same run's baseline for the tracing-overhead figure
        (0 until n).foreach { i =>
          runner.run(ops.next(), "measure", traced = ctx.traceOn && i % 2 == 0)
        }
    }
    val windowS = (Clock.nowUs - t0) / 1e6
    runner.close()
    BatchReport(ctx, runner.results, windowS, timeoutMs, opKinds)
  }
}

/** Turns op results into the benchmark's metrics. */
object BatchReport {
  def apply(ctx: Ctx, all: Seq[OpResult], windowS: Double, timeoutMs: Long,
      kinds: Seq[String]): Report = {
    val measured = all.filter(_.phase == "measure")
    // a failed op counts as missing the latency limit: its sample is
    // at least the op timeout, and it never drops out
    val lat = measured.map(r => if (r.ok) r.ms else math.max(r.ms, timeoutMs.toDouble))
    val ok = measured.filter(_.ok)
    val inRows = ok.map(_.spec.inputRows.toDouble).sum
    val busyS = ok.map(_.ms).sum / 1000.0
    // closed loop: an op is due when the previous one ends, so its
    // latency from due time is its own latency
    val e2e = Map(
      "olap_qps" -> ok.size / windowS,
      "olap_latency_p50_ms" -> Stats.median(lat),
      "olap_latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "stream_latency_p50_ms" -> Stats.median(lat),
      "stream_latency_p99_ms" -> Stats.quantile(lat, 0.99),
      "stream_catchup_eps" -> (if (busyS > 0) inRows / busyS else 0.0))
    val failures = all.flatMap(_.failure)
    val wrong = failures.count(_.startsWith("wrong"))
    var layers = Map.empty[String, Double]
    if (ctx.traceOn) layers = Layers.batch(ctx, all, kinds)
    Main.note(f"ops: ${all.size} (${all.count(_.phase != "measure")} warm, " +
      f"${measured.size} measured over $windowS%.2f s), failed ${failures.size}")
    Report(attempted = all.size, failed = failures.size, wrong = wrong,
      e2e = e2e, layers = layers, samples = measured.size)
  }
}

/** Per-layer metrics of a traced batch run. Counts and times are means
  * per traced op of the measured window.
  */
object Layers {
  def batch(ctx: Ctx, all: Seq[OpResult], kinds: Seq[String]): Map[String, Double] = {
    BenchAccess.drainListeners(ctx.spark.sparkContext)
    val measured = all.filter(_.phase == "measure")
    val traced = measured.filter(_.traced)
    val plain = measured.filterNot(_.traced)
    val spans = ctx.tracer.all
    val byTag = spans.groupBy(_.tag)
    def spanMs(r: OpResult, name: String): Double =
      byTag.getOrElse(r.group, Nil).filter(_.name == name).map(_.durUs).sum / 1000.0
    def per(f: OpResult => Double): Double =
      if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size
    def gs(r: OpResult) = ctx.listener.stats(r.group)
    val mb = 1024.0 * 1024.0
    val taskS = traced.map(r => gs(r).runMs / 1000.0).sum
    val wallS = traced.map(_.ms).sum / 1000.0
    val rowsRead = traced.map(r => gs(r).inRecords.toDouble).sum
    val rowsOut = traced.map(r => math.max(0L, r.rows).toDouble).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("operators.call_ms") = per(r => spanMs(r, "operators"))
    m("operators.eager_jobs") = per { r =>
      val s = byTag.getOrElse(r.group, Nil).find(_.name == "operators")
      s.map(sp => gs(r).jobStartMs.count(t => t * 1000 >= sp.startUs - 1000 &&
        t * 1000 <= sp.endUs).toDouble).getOrElse(0.0)
    }
    m("catalyst.plan_ms") = per(r => spanMs(r, "catalyst"))
    m("codegen.compiles") = per(_.compiles.toDouble)
    m("codegen.compile_ms") = per(_.compileMs)
    m("spark.exec_ms") = per(r => spanMs(r, "spark"))
    m("spark.driver_gap_ms") = per { r =>
      byTag.getOrElse(r.group, Nil).find(_.name == "spark")
        .map(sp => gs(r).idleMs(sp.startUs / 1000, sp.endUs / 1000).toDouble).getOrElse(0.0)
    }
    m("spark.jobs") = per(gs(_).jobs.toDouble)
    m("spark.stages") = per(gs(_).stages.toDouble)
    m("spark.tasks") = per(gs(_).tasks.toDouble)
    m("spark.task_s") = per(gs(_).runMs / 1000.0)
    m("spark.core_busy_frac") = if (wallS > 0) taskS / (wallS * ctx.cores) else 0.0
    m("spark.task_wait_s") = per(gs(_).waitMs / 1000.0)
    m("spark.gc_s") = per(gs(_).gcMs / 1000.0)
    m("spark.deser_s") = per(gs(_).deserMs / 1000.0)
    m("spark.shuffle_write_mb") = per(gs(_).shuffleWrite / mb)
    m("spark.shuffle_read_mb") = per(gs(_).shuffleRead / mb)
    m("spark.spill_mb") = per(gs(_).spill / mb)
    m("spark.result_mb") = per(gs(_).result / mb)
    m("spark.failed_tasks") = per(gs(_).failedTasks.toDouble)
    m("sources.bytes_read_mb") = per(gs(_).inBytes / mb)
    m("sources.rows_read") = per(gs(_).inRecords.toDouble)
    m("sources.rows_read_per_result") = if (rowsOut > 0) rowsRead / rowsOut else 0.0
    // set-up time beyond what the same ops cost once warm: first-use
    // codegen and JIT, and the registry's memoized fixture and index
    // builds (first warm pass's wall time less each kind's steady latency)
    val warmOps = all.filter(_.phase == "warm")
    val warmWallS = if (warmOps.isEmpty) 0.0
      else (warmOps.map(_.endUs).max - warmOps.map(_.startUs).min) / 1e6
    val steadyS = measured.filter(_.ok).groupBy(_.spec.kind).values
      .map(rs => Stats.median(rs.map(_.ms))).sum / 1000.0
    m("fixtures.build_s") = math.max(0.0, warmWallS - steadyS)
    Layers.cache(ctx, m)
    kinds.foreach { k =>
      m(s"op.$k.p50_ms") = Stats.median(measured.filter(r => r.ok && r.spec.kind == k).map(_.ms))
    }
    // tracing overhead: traced vs untraced ops of the same kind
    val ratios = kinds.flatMap { k =>
      val a = traced.filter(r => r.ok && r.spec.kind == k).map(_.ms)
      val b = plain.filter(r => r.ok && r.spec.kind == k).map(_.ms)
      if (a.nonEmpty && b.nonEmpty) Some(Stats.median(a) / Stats.median(b) - 1) else None
    }
    m("trace.overhead_frac") = if (ratios.isEmpty) 0.0 else Stats.median(ratios)
    Main.note(s"layer self time (ms, traced ops): " + ctx.tracer.selfUs.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${v / 1000.0}%.1f" }.mkString(" "))
    m.toMap
  }

  /** Storage held by cached frames (the registry's memoized fixtures). */
  def cache(ctx: Ctx, m: mutable.Map[String, Double]): Unit = {
    val infos = ctx.spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    m("cache.storage_mb") = infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    m("cache.rdds") = infos.length.toDouble
  }
}
