package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet star-schema loader.
  *
  * Reads the driver-generated TPC-H-ish tables (see TESTDATA.md).
  * Declarative `spark.read.parquet` so Catalyst gets full pushdown /
  * pruning; at 100 TB these would be partitioned/bucketed tables and
  * the same code holds — filters and column selection reach the scan.
  *
  * A table resolves ONCE per session: the first load of (dir, table)
  * runs the footer probe, the file listing and parquet schema
  * inference (one Spark job), and every later load in that session
  * wraps the same resolved relation in a new DataFrame with fresh
  * attribute ids — no job, and two loads stay as distinct as two
  * separate reads. The contract is that a table does not change
  * during a session; a caller that needs files written after its
  * first load reads them through `spark.newSession()`.
  *
  * `events.ts` has shipped in two parquet generations: TIMESTAMP
  * (NANOS) (surfaced as nanos-long under the legacy flag; normalized
  * by `div 1000` — integral TRUNCATION toward zero, matching DuckDB's
  * own nanos→micros conversion; truncation and floor coincide for all
  * post-epoch timestamps, and the test data has no pre-1970 events)
  * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaced as
  * TIMESTAMP_NTZ; cast to the instant type, value-preserving under
  * the UTC session every entry point pins). Both normalize to one
  * micros TimestampType `ts` so operators and oracles never see the
  * writer generation.
  */
object Tables {
  /** Session conf required (=true) to read the nanos-timestamped
    * `events` table; see the loud note in [[resolve]].
    */
  val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The library's one session memo: one value per (session, dir,
    * kind), shared by the table loader here and the registry's
    * fixtures and index artifacts (`SparkEntry`). Keyed by the session
    * OBJECT (an identityHashCode key could hand one session another's
    * value on hash collision); entries of STOPPED sessions are evicted
    * on the next memo call from any session, which bounds the
    * retention to one stopped session's worth between calls (a true
    * weak keying can't work here: a cached Dataset strongly references
    * its session, so a WeakHashMap entry would never clear, and a weak
    * VALUE could drop a shared instance mid-session and rebuild it per
    * query).
    */
  private val sessionMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), AnyRef]

  private[graft] def memo[T <: AnyRef](s: SparkSession, d: String,
      kind: String)(build: => T): T = {
    for (k <- sessionMemo.keysIterator if k._1.sparkContext.isStopped)
      sessionMemo.remove(k)
    sessionMemo.getOrElseUpdate((s, d, kind), build).asInstanceOf[T]
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name),
      s"unknown table '$name'; expected one of: ${names.mkString(", ")}")
    val df = spark.baseRelationToDataFrame(
      memo(spark, dir, s"table:$name")(resolve(spark, s"$dir/$name.parquet",
        name == "events")))
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The table's resolved relation: file listing and schema. */
  private def resolve(spark: SparkSession, path: String,
      isEvents: Boolean): BaseRelation = {
    // Writer-generation detection reads the parquet FOOTER logical
    // type of one data file (r9, per ADVICE: the previous try/catch
    // matched the reader's exception TEXT for 'NANOS', which a Spark
    // upgrade could silently re-word — the footer annotation is the
    // format itself and cannot drift). Only a genuine TIMESTAMP(NANOS)
    // generation engages the nanos machinery; the MICROS generations
    // read with no flag and no session side effect.
    if (isEvents && eventsTsIsNanos(spark, path)) {
      // LOUD SIDE EFFECT — parquet TIMESTAMP(NANOS) is readable ONLY
      // when the SESSION conf `spark.sql.legacy.parquet.nanosAsLong`
      // is true: a per-read option cannot work because
      // ParquetFileFormat overwrites the relation hadoopConf entry
      // from the session SQLConf at execution (verified against the
      // 4.1.2 bytecode — there is no per-read escape hatch). The
      // loader sets the session conf as a convenience for
      // driver-built sessions, but REFUSES to override an explicit
      // user `false` — that would silently change the meaning of the
      // user's other nanos-parquet reads.
      // NOTE: must distinguish "user explicitly set false" from
      // "unset": nanosAsLong is a REGISTERED SQLConf entry, so
      // getOption returns Some("false") (the default) even when never
      // set. The two-arg get returns the null fallback only when
      // unset — that is the probe.
      requireNanosAllowed(spark)
      spark.conf.set(NanosFlag, "true")
    }
    spark.read.parquet(path).queryExecution.analyzed
      .asInstanceOf[LogicalRelation].relation
  }

  /** True iff the events table's `ts` field is parquet
    * TIMESTAMP(NANOS), read from the footer of the first data file —
    * the one place the writer generation is recorded authoritatively.
    * All data files of one write share one schema, so one footer
    * decides; a missing/empty table returns false and lets the normal
    * read surface its own error.
    */
  private def eventsTsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    // recursive: a partitioned layout nests its data files under
    // partition directories (r9 review — a top-level-only listing
    // would miss them and silently skip the nanos machinery)
    def firstDataFile(q: org.apache.hadoop.fs.Path)
        : Option[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(q)
      if (st.isFile) {
        if (q.getName.endsWith(".parquet") && !q.getName.startsWith("_") &&
          !q.getName.startsWith(".")) Some(q)
        else None
      } else fs.listStatus(q).iterator
        .filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(s => firstDataFile(s.getPath))
        .collectFirst { case Some(f) => f }
    }
    val dataFile = firstDataFile(p)
    dataFile.exists { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") && {
          schema.getFields.get(schema.getFieldIndex("ts"))
            .getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }
        }
      } finally reader.close()
    }
  }

  /** Register every table as a temp view so plain `spark.sql` users
    * can query the star schema directly (the SQL front door, paired
    * with `GraftExtensions` for the native functions).
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    // load EVERY frame before registering ANY view (r9, per ADVICE:
    // the previous events-first ordering only protected against the
    // events refusal — a missing parquet file later in the list still
    // left a half-registered schema). `apply` resolves the file and
    // schema eagerly, so any load failure throws while zero views
    // exist; registration afterwards is infallible.
    val loaded = names.map(n => n -> apply(spark, dir, n))
    loaded.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  /** Refuses to proceed when the user has EXPLICITLY set the nanos
    * flag to false (see the loud note in [[resolve]]).
    */
  private def requireNanosAllowed(spark: SparkSession): Unit =
    if (spark.conf.get(NanosFlag, null) == "false")
      throw new IllegalStateException(
        s"loading 'events' requires session conf $NanosFlag=true " +
          "(its ts column is parquet TIMESTAMP(NANOS)); the session " +
          "sets it to false explicitly, refusing to override")

  /** events with `ts` as TimestampType (micros, truncated from ns). */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampType => df
      case LongType => // nanosAsLong mode: ns epoch → micros timestamp
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4
        // surfaces it as TIMESTAMP_NTZ. The NTZ→instant cast reads
        // the wall-clock value in the SESSION zone, so it is
        // value-preserving (identical micros) only under UTC — which
        // every session this library builds pins. A driver-built
        // session in another zone would silently shift every event
        // instant relative to the oracle; refuse LOUDLY instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        // zone EQUIVALENCE, not string equality: 'Etc/UTC', 'GMT',
        // 'Z', '+00:00' (common container defaults) are all the UTC
        // instant mapping and must load; only a genuinely shifted
        // zone corrupts the cast
        val isUtc = java.time.ZoneId.of(tz).normalized() ==
          java.time.ZoneOffset.UTC
        if (!isUtc) throw new IllegalStateException(
          s"events.ts is parquet TIMESTAMP_NTZ; loading it requires " +
            s"spark.sql.session.timeZone=UTC (session has '$tz') — the " +
            "NTZ→instant cast is session-zone-dependent and every " +
            "graft entry point pins UTC")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
}
