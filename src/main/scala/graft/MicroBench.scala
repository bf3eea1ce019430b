package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel micro-benchmark: measures the native codegen `Expression`s
  * (`hmac_sha256_hex`, `cosine_sim`, `dot_f32`, the arrays_zip shingle
  * path) against the closest Scala-UDF formulation of the same
  * arithmetic — the evidence that each custom kernel earns its
  * complexity over the rung-below alternative (SURVEY §2C's
  * functions-not-UDFs rule, made measurable).
  *
  * Deterministic synthetic input (spark.range + hash expressions — no
  * RNG, no files), one JSON line per (kernel, variant) on stdout:
  * `{"kernel":…,"variant":"native|udf","rows":…,"sec":…}`.
  * Dev harness — not part of the driver contract.
  */
object MicroBench {

  /** One measured kernel variant: `sec` is the best of two timed runs
    * after a shared warmup.
    */
  final case class KernelTime(kernel: String, variant: String, rows: Long,
      sec: Double)

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 1M rows per 8 cores keeps per-thread work constant: at 32 threads
    // a flat 1M was overhead-dominated and hid the shingle kernel's win
    kernels(spark, 1000000L * math.max(1, cores / 8)).foreach { k =>
      println(s"""{"kernel":"${k.kernel}","variant":"${k.variant}","rows":${k.rows},"sec":${k.sec}}""")
    }
    spark.stop()
  }

  /** The measurements themselves, one (native, alternative) pair per
    * kernel.
    */
  def kernels(spark: SparkSession, rows: Long): Seq[KernelTime] = {
    GraftFunctions.register(spark)
    val out = Seq.newBuilder[KernelTime]

    // deterministic inputs: a short text per row, a 64-dim float pair
    val dim = 64
    val base = spark.range(rows).select(col("id"),
      md5(col("id").cast("string")).as("text"),
      transform(sequence(lit(1), lit(dim)),
        i => ((pmod(xxhash64(col("id"), i), lit(1000)) - 500) / 500.0)
          .cast("float")).as("va"),
      transform(sequence(lit(1), lit(dim)),
        i => ((pmod(xxhash64(col("id") + 1, i), lit(1000)) - 500) / 500.0)
          .cast("float")).as("vb"))

    // UDF twins of the native kernels: same arithmetic, rung below
    val hmacUdf = udf { (msg: String) =>
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(
        "graft-micro".getBytes("UTF-8"), "HmacSHA256"))
      mac.doFinal(msg.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val cosUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val dotUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
      dot
    }

    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // agg to one row so the noop sink cost itself stays negligible;
    // the aggregate consumes every kernel output, so nothing is pruned
    def run(kernel: String, kernelRows: Long, native: DataFrame,
        alt: DataFrame, altName: String = "udf"): Unit = {
      time(native); time(alt) // shared warmup: codegen + JIT
      val tn = math.min(time(native), time(native))
      val ta = math.min(time(alt), time(alt))
      out += KernelTime(kernel, "native", kernelRows, tn)
      out += KernelTime(kernel, altName, kernelRows, ta)
    }

    run("hmac_sha256_hex", rows,
      base.select(expr("hmac_sha256_hex(text, 'graft-micro')").as("h"))
        .agg(count(when(substring(col("h"), 1, 1) === "f", 1)).as("n")),
      base.select(hmacUdf(col("text")).as("h"))
        .agg(count(when(substring(col("h"), 1, 1) === "f", 1)).as("n")))
    run("cosine_sim", rows,
      base.select(expr("cosine_sim(va, vb)").as("c")).agg(sum("c")),
      base.select(cosUdf(col("va"), col("vb")).as("c")).agg(sum("c")))
    run("dot_f32", rows,
      base.select(expr("dot_f32(va, vb)").as("d")).agg(sum("d")),
      base.select(dotUdf(col("va"), col("vb")).as("d")).agg(sum("d")))

    // shingling: codegen'd arrays_zip-of-slices vs the interpreted
    // HigherOrderFunction transform lambda (TextFunctions docstring's
    // ~10× claim, kept honest by measurement)
    import graft.functions.TextFunctions.{shingleFromStruct, shingleStructs}
    val texts = spark.range(rows / 10).select(concat_ws(" ",
      (0 until 24).map(i => md5(concat(col("id").cast("string"), lit(i)))): _*)
      .as("text"))
    val toks = split(col("text"), " ")
    // rows here = TEXT rows actually fed to the shingler (rows/10),
    // not the outer row count — per-row throughput math must not be
    // overstated 10×
    run("shingle_3gram", rows / 10,
      texts.select(explode(shingleStructs(toks, 3)).as("z"))
        .select(shingleFromStruct(col("z"), 3).as("sh"))
        .agg(count(when(substring(col("sh"), 1, 1) === "f", 1))),
      texts.select(explode(transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2), element_at(toks, i + 3)))).as("sh"))
        .agg(count(when(substring(col("sh"), 1, 1) === "f", 1))),
      altName = "interpreted_lambda")

    out.result()
  }
}
