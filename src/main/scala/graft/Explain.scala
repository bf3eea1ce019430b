package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every wired query — the
  * `.explain("formatted")` audit trail (see PLANS.md). Run:
  * `sbt "runMain graft.Explain <sfDir> <outFile>"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = args match {
      case Array(s, o) => (s, o)
      case _ =>
        System.err.println("usage: Explain <sfDir> <outFile>")
        sys.exit(2)
    }
    // fixed 4 cores, not the host's: the committed plans must not
    // depend on the machine that regenerated them
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Explain`)\n\n")
    sb.append(s"Scale dir: `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.Explain <sfDir> PLANS.md\"`.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
