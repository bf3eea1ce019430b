package graft
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query-name subset (dev
    // iteration on one operator without re-running the whole registry)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [query,query,...]")
        sys.exit(2)
    }
    val spark = GraftSession.builder(Runtime.getRuntime.availableProcessors())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val dir = new Path(s"$outDir/$name")
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(dir.toString)
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // an empty dir keeps the key in the oracle compare's count (as
          // a FAIL) and drops any result left by an earlier run
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(dir, true)
          fs.mkdirs(dir)
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
