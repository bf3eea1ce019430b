package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}

import graft.functions.TextFunctions.maskSecret

/** JSONL invoice/audit-log sink + reader — the reference's invoice
  * logging (kinesis-pay.php:446-462) as a columnar-friendly audit
  * stream, with the reference's secret masking (kinesis-pay.php:459)
  * applied to every string column on write.
  *
  * JSON-lines keeps the log appendable and tool-friendly; reading it
  * back with an explicit schema keeps the scan a single pass with
  * column pruning (no schema inference job at 100 TB).
  */
object InvoiceLog {

  /** Write `df` as JSONL at `path`, redacting every string column.
    * Default mode is APPEND — this is an audit log; overwriting prior
    * history must be an explicit opt-in, never the default.
    */
  def write(df: DataFrame, path: String, mode: String = "append"): Unit =
    redact(df).write.mode(mode).json(path)

  /** All top-level string columns pass through maskSecret; others
    * unchanged. A string field NESTED inside a struct/array/map would
    * silently bypass the mask — an unredacted secret in the audit
    * file — so string-bearing nested columns are REFUSED loudly:
    * flatten them (or drop them) before logging.
    */
  def redact(df: DataFrame): DataFrame = {
    def hasString(t: DataType): Boolean = t match {
      case StringType => true
      case st: StructType => st.fields.exists(f => hasString(f.dataType))
      case at: ArrayType => hasString(at.elementType)
      case mt: MapType => hasString(mt.keyType) || hasString(mt.valueType)
      case _ => false
    }
    val leaky = df.schema.fields
      .filter(f => f.dataType != StringType && hasString(f.dataType))
    require(leaky.isEmpty,
      s"InvoiceLog cannot redact string fields nested inside " +
        s"[${leaky.map(_.name).mkString(", ")}]; flatten or drop them " +
        "before logging — writing them unmasked would leak secrets")
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType) maskSecret(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** Idempotent per-micro-batch write for `foreachBatch` sinks: batch
    * `batchId`'s redacted rows land under `path/batch=<batchId>` with
    * OVERWRITE mode. Structured Streaming re-delivers an uncommitted
    * batch with the same id and the same rows after a crash
    * (at-least-once delivery); scoping the overwrite to the batch's
    * own directory turns that replay into a no-op — the standard
    * idempotent-sink recipe that upgrades foreachBatch to
    * exactly-once. The `batch=` partition-dir naming makes the batch
    * id a queryable partition column on read-back (free audit lineage,
    * zero extra bytes per row).
    */
  def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    redact(df).write.mode("overwrite").json(s"$path/batch=$batchId")

  /** Read a JSONL invoice log. Pass the writer's schema via a sample
    * DataFrame to skip inference (required practice at scale).
    */
  def read(spark: SparkSession, path: String,
      schemaOf: Option[DataFrame] = None): DataFrame =
    schemaOf match {
      case Some(s) => spark.read.schema(s.schema).json(path)
      case None => spark.read.json(path)
    }
}
