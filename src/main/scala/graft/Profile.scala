package graft

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only per-query profiler: runs each named query twice through a
  * noop sink (which materializes every output column) and prints, per
  * pass, the wall seconds, the Spark job / stage / task counts, the
  * summed task run, deserialization and GC time, and the stages that
  * took the most task time — the numbers that separate
  * "compute-bound" from "scheduling-bound". After pass 2 it prints the write's final
  * adaptive plan with each node's SQL metrics: `explain("formatted")`
  * shows the plan before AQE re-optimization, so coalesced partition
  * counts, runtime join choices and AQEShuffleRead nodes are only
  * visible here (the UI's SQL tab, for a UI-less host).
  *
  * Pass 1 also pays first-use costs (JVM warmup, codegen compiles);
  * pass 2 is the steady state.
  *
  * Run: `sbt "runMain graft.Profile <sfDir> <query> [query ...]"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Profile <sfDir> <query> [query ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val spark = GraftSession.builder(Runtime.getRuntime.availableProcessors())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // written on the listener-bus thread, reset on this one
    val jobs = new LongAdder
    val stages = new ConcurrentLinkedQueue[StageInfo]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.increment()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.add(s.stageInfo)
    })
    // the noop write plans its own command execution, so the final
    // plan must come from the write's QueryExecution, not the frame's
    val writes = new LinkedBlockingQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    println(f"${"query"}%-34s pass  wall_s   jobs stages  tasks task_s " +
      "deser_s  gc_s")
    args.tail.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          (1 to 2).foreach { pass =>
            // drain listener queue so counts attribute to this pass
            Thread.sleep(300)
            jobs.reset(); stages.clear(); writes.clear()
            val t0 = System.nanoTime()
            val ok =
              try {
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                true
              }
              catch { case e: Throwable =>
                System.err.println(s"[profile] $name failed: ${e.getMessage}")
                false
              }
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            // a stage's task metrics are the sums over its tasks
            val st = stages.asScala.toSeq
            def secs(f: TaskMetrics => Long) =
              st.map(i => f(i.taskMetrics)).sum / 1e3
            println(f"$name%-34s $pass%4d ${wall}%7.2f ${jobs.sum}%6d " +
              f"${st.size}%6d ${st.map(_.numTasks).sum}%6d " +
              f"${secs(_.executorRunTime)}%6.1f " +
              f"${secs(_.executorDeserializeTime)}%7.1f ${secs(_.jvmGCTime)}%5.1f")
            // the stages that took the most task time, named by the SQL
            // operators they run (RDD scopes), else by their callsite
            st.sortBy(-_.taskMetrics.executorRunTime).take(6).foreach { i =>
              val scopes = i.rddInfos.flatMap(_.scope).map(_.name).distinct
              println(f"    ${i.taskMetrics.executorRunTime / 1e3}%7.2fs " +
                f"${i.numTasks}%5d tasks  " +
                (if (scopes.nonEmpty) scopes.take(6).mkString(" | ")
                 else i.name.takeWhile(_ != '(').trim))
            }
            if (pass == 2 && ok)
              Option(writes.poll(30, TimeUnit.SECONDS)) match {
                case None =>
                  System.err.println(s"[profile] $name: no write execution seen")
                case Some(qe) => printFinalPlan(name, qe.executedPlan)
              }
          }
      }
    }
    spark.stop()
  }

  /** The executed plan, final once AQE has run, one node per line with
    * its non-zero SQL metrics — row counts and times per operator, which the
    * plan text alone cannot show. AQE wrappers and query stages hold
    * their plan outside `children`, so the walk steps into them.
    */
  private def printFinalPlan(name: String, plan: SparkPlan): Unit = {
    println(s"\n===== $name: final adaptive plan of pass 2 =====\n")
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1).filter(_._2.value != 0)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
      println(("  " * depth) + p.simpleString(25) + "  [" + ms + "]")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(plan, 0)
  }
}
