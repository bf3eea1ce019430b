package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

/** Writes the plan-shape audit of every wired query (see PLANS.md): one
  * row per key counting the physical plan's exchange, join and
  * cache-scan nodes. Run: `sbt "runMain graft.Explain <sfDir> <outFile>"`.
  */
object Explain {

  /** The audited node kinds, in column order. */
  private val kinds: Seq[(String, Class[_])] = Seq(
    "ShuffleExchange" -> classOf[ShuffleExchangeExec],
    "BroadcastExchange" -> classOf[BroadcastExchangeExec],
    "BroadcastHashJoin" -> classOf[BroadcastHashJoinExec],
    "SortMergeJoin" -> classOf[SortMergeJoinExec],
    "BroadcastNestedLoopJoin" -> classOf[BroadcastNestedLoopJoinExec],
    "CartesianProduct" -> classOf[CartesianProductExec],
    "InMemoryTableScan" -> classOf[InMemoryTableScanExec])

  /** Every node of `plan`, its subqueries and the cached relations it
    * scans. An adaptive plan contributes its initial plan — the one
    * `explain` prints before any stage runs — so the counts do not
    * depend on what earlier keys executed. That plan is built before
    * codegen collapse, which is why codegen stages are not counted.
    */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case p =>
      val cached = p match {
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case _ => Nil
      }
      p +: (p.children ++ p.subqueries ++ cached).flatMap(nodes)
  }

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
    sb.append("# Plan shapes (generated by `graft.Explain`)\n\n")
    sb.append(s"Scale dir: `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.Explain <sfDir> PLANS.md\"`.\n\n")
    sb.append("Node counts per key in the physical plan, subqueries and " +
      "scanned cached relations included; an adaptive plan counts as " +
      "its initial plan, whose stages are not yet code-generated.\n\n")
    sb.append(("key" +: kinds.map(_._1)).mkString("| ", " | ", " |\n"))
    sb.append(("---" +: kinds.map(_ => "---:")).mkString("|", "|", "|\n"))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val cells =
        try {
          val all = nodes(fn(spark, sfDir).queryExecution.executedPlan)
          kinds.map { case (_, kind) => all.count(kind.isInstance).toString }
        } catch { case e: Throwable =>
          val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
          Seq(s"ERROR: $msg".replace("|", "\\|"))
        }
      sb.append((name +: cells).mkString("| ", " | ", " |\n"))
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
