package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy shared by every entry point (`Verify`,
  * `Explain`, `Profile`, `ScaleGen`, `MicroBench`) and the test suite.
  * Callers add only what is theirs (e.g. a warehouse dir) and call
  * `getOrCreate()`.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be TIMESTAMP(NANOS); see sources.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Let AQE re-plan partitioning across the InMemoryRelation
      // boundary. The engine leans on memoized persisted frames, and
      // with Spark's default `false` every stage downstream of a cached
      // frame is pinned to the static shuffle partition count, so AQE's
      // size-based coalescing never fires for exactly the operators
      // that reuse data (measured at sf0.1: q_crawl_budget 488→26
      // tasks, q_pagerank 357→20, no regression on compute-heavy keys).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Static conf: the Janino codegen cache defaults to 100 entries
      // keyed on generated source. The query suite compiles far more
      // distinct units than that, so the LRU thrashes and a repeated
      // query re-compiles on the driver. Compilation cost is
      // plan-shaped, not data-shaped, so one size fits every scale.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
}
