package graftbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val traceOn: Boolean,
    val cores: Int, val benchDir: String, val workDir: String, val dataDir: String,
    val record: Option[String], val listener: GroupListener) {
  val tracer = new Tracer(traceOn)
  def starDir: String = s"$dataDir/star"
  def corpusDir(dupPct: Int): String = s"$dataDir/corpus$dupPct"

  /** Row count of a generated table: `events`, or `corpus5/documents`. */
  def tableRows(table: String): Long = table.split('/') match {
    case Array(_, "documents") => Data.CorpusDocs
    case Array(_, "embeddings") => Data.CorpusVecs
    case Array(t) =>
      val z = Data.StarSize(Data.StarSf)
      Map("region" -> 5L, "nation" -> 25L, "customer" -> z.customers,
        "supplier" -> z.suppliers, "part" -> z.parts, "orders" -> z.orders,
        "lineitem" -> z.lineitems, "events" -> z.events)(t)
  }
}

/** One workload's outcome. `failed` counts failed, wrong and timed-out
  * ops; `valid` is false when the load generator fell behind.
  */
final case class Report(attempted: Long, failed: Long, wrong: Long,
    e2e: Map[String, Double], layers: Map[String, Double], samples: Int,
    valid: Boolean = true)

trait Workload {
  def name: String
  /** Set-up work after session start: the warm pass, fixture builds.
    * `seconds` is the coming window's length.
    */
  def warm(ctx: Ctx, seconds: Double): Unit
  /** The measured window. */
  def measure(ctx: Ctx, seconds: Double): Report
}

/** Benchmark entry point (normally started by `perfbench/run.py`):
  *
  * {{{
  * graftbench.Main --workload pay-olap|corpus-curate|pay-stream --seed N
  *   --seconds S --trace 0|1 --bench-dir perfbench --work-dir DIR --data-dir DIR
  *   [--trace-dir DIR] [--record FILE]
  * graftbench.Main --prepare --data-dir DIR
  * }}}
  *
  * Human-readable lines start with `#`; the last stdout line is the
  * JSON result.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(PayOlap, CorpusCurate, PayStream)

  def note(s: String): Unit = println(s"# $s")

  /** Every per-layer metric, in `BENCHMARK.json` order. A traced run
    * prints all of them; a layer a workload does not use reads 0.
    */
  val PerLayer: Seq[String] = Seq(
    "operators.call_ms", "operators.eager_jobs", "catalyst.plan_ms",
    "codegen.compiles", "codegen.compile_ms",
    "spark.exec_ms", "spark.driver_gap_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_s", "spark.core_busy_frac", "spark.task_wait_s", "spark.gc_s",
    "spark.deser_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.result_mb", "spark.failed_tasks",
    "sources.bytes_read_mb", "sources.rows_read", "sources.rows_read_per_result",
    "sources.latestOffset_ms", "sources.getBatch_ms",
    "plans.hmac_sha256_hex.ns_per_row", "plans.cosine_sim.ns_per_row",
    "plans.dot_f32.ns_per_row", "plans.shingle_3gram.ns_per_row",
    "fixtures.build_s", "cache.storage_mb", "cache.rdds",
    "streaming.batches", "streaming.batch_ms.p50", "streaming.rows_per_batch.p50",
    "streaming.addBatch_ms.p50", "streaming.queryPlanning_ms.p50",
    "streaming.walCommit_ms.p50", "streaming.commitOffsets_ms.p50",
    "streaming.state.rows_total", "streaming.state.memory_mb",
    "streaming.state.commit_ms.p50", "streaming.backlog_files.max",
    "streaming.gen_lag_ms.max") ++
    PayOlap.opKinds.map(k => s"op.$k.p50_ms") :+
    "trace.overhead_frac"

  /** Session confs, echoed in every run's output. */
  def confs(cores: Int, workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
    // the two session confs graft.Bench applies
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def session(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
    confs(cores, workDir).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident memory of this JVM, from /proc (0 if unavailable). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val dataDir = opts("data-dir")
    if (args.contains("--prepare")) return prepare(cores, dataDir, opts("work-dir"))
    val workload = Workloads.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val workDir = opts("work-dir")

    val t0 = System.nanoTime()
    val spark = session(cores, workDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new GroupListener
    if (traceOn) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, seed, traceOn, cores, opts("bench-dir"), workDir, dataDir,
      opts.get("record"), listener)
    confs(cores, workDir).foreach { case (k, v) => note(s"conf $k=$v") }
    note(s"jvm max heap ${Runtime.getRuntime.maxMemory / (1024 * 1024)} MB, " +
      s"workload ${workload.name}, seed $seed, seconds $seconds, trace ${if (traceOn) 1 else 0}")

    val w0 = System.nanoTime()
    workload.warm(ctx, seconds)
    val setupS = sessionS + (System.nanoTime() - w0) / 1e9
    note(f"setup: session $sessionS%.2f s, warm pass ${setupS - sessionS}%.2f s")
    val r = workload.measure(ctx, seconds)

    var layers = r.layers
    if (traceOn) {
      layers = PerLayer.map(k => k -> 0.0).toMap ++ layers ++ kernels(spark)
      val spansFile = s"${opts.getOrElse("trace-dir", workDir)}/spans-${workload.name}-$seed.jsonl"
      ctx.tracer.dump(spansFile)
      note(s"spans written to $spansFile")
    }
    val e2e = r.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    note(f"error_rate $errorRate%.4f (${r.failed} of ${r.attempted} failed, ${r.wrong} wrong); " +
      s"${r.samples} latency samples")
    val shown = if (traceOn) layers else e2e
    val units = Units.of(shown.keySet)
    shown.toSeq.sortBy(_._1).foreach { case (k, v) => note(f"$k%-40s ${fmt(v)} ${units(k)}") }
    spark.stop()
    val correct = r.failed == 0 && r.valid
    val metrics = shown.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "${units(k)}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": $metrics}""")
    System.out.flush()
    sys.exit(0) // no stray non-daemon thread may keep the JVM alive
  }

  /** The native kernels' cost per row, via the library's own
    * micro-benchmark (best of two timed passes per kernel).
    */
  private def kernels(spark: SparkSession): Map[String, Double] = {
    val rows = 200000L
    graft.MicroBench.kernels(spark, rows).filter(_.variant == "native")
      .map(k => s"plans.${k.kernel}.ns_per_row" -> k.sec * 1e9 / k.rows).toMap
  }

  /** Generates every input data set (not part of any timed phase). */
  private def prepare(cores: Int, dataDir: String, workDir: String): Unit = {
    val spark = session(cores, workDir)
    Data.writeStar(spark, s"$dataDir/star", Data.StarSf, Data.StarSeed)
    Data.DupPct.foreach { pct =>
      Data.writeCorpus(spark, s"$dataDir/corpus$pct", Data.CorpusDocs, Data.CorpusVecs,
        pct, Data.StarSeed + pct)
    }
    spark.stop()
    note(s"inputs written to $dataDir")
  }
}

/** Units of every metric the benchmark reports. */
object Units {
  private val fixed = Map(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "olap_qps" -> "1/s",
    "olap_latency_p50_ms" -> "ms", "olap_latency_p90_ms" -> "ms",
    "stream_latency_p50_ms" -> "ms", "stream_latency_p99_ms" -> "ms",
    "stream_catchup_eps" -> "events/s")

  def of(keys: Set[String]): Map[String, String] = keys.map(k => k -> unit(k)).toMap

  def unit(k: String): String = fixed.getOrElse(k,
    if (k.endsWith("_ms") || k.contains("_ms.")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac")) "fraction"
    else if (k.endsWith("ns_per_row")) "ns/row"
    else if (k.endsWith("per_result")) "rows/row"
    else "count")
}
