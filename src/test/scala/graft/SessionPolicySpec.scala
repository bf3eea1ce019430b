package graft

/** Every entry point builds its session from `GraftSession`, so the
  * suite's own session must carry the whole policy: a conf missing
  * here means the specs exercise different plans than the code runs.
  */
class SessionPolicySpec extends SparkSuite {
  test("the suite's session carries every GraftSession policy conf") {
    assert(spark.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // static: fixed once the first session is created, so a spec
      // cannot set it later
      "spark.sql.codegen.cache.maxEntries" -> "8192",
    ).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }
}
