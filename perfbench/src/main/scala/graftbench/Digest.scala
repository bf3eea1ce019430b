package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digests.
  *
  * A result is summarized as its row count plus the sum of one 64-bit
  * hash per row, so row order and partitioning do not matter. Doubles
  * and floats are rounded to 4 decimals before hashing, the registry's
  * determinism rule (float folds are only compared after
  * `round(x, 4)`); maps are hashed as their sorted entry arrays.
  *
  * The digest aggregate reads every output column, so Catalyst cannot
  * prune any projection out of the measured work.
  */
object Digest {
  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case _ if !needsNorm(t) => c
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(norm(map_entries(c), ArrayType(new StructType()
        .add("key", kt).add("value", vt))))
    case _ => c
  }

  /** One-row frame `(n, h)`: row count and hash sum of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      norm(col(f.name), f.dataType)): _*)
    named.select(h.as("h")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .cast("string").as("h"))
  }
}

/** Expected (rows, digest) per op key, kept in `perfbench/reference`. */
final class Reference(path: String) {
  private val expected: Map[String, (Long, String)] =
    if (!new java.io.File(path).exists) Map.empty
    else {
      import org.json4s._
      val JObject(entries) = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
      entries.map { case (k, v) =>
        val (JInt(rows), JString(digest)) = (v \ "rows", v \ "digest")
        k -> (rows.toLong, digest)
      }.toMap
    }
  private val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]

  /** None when correct, else the reason the output is wrong. Safe to
    * call from several threads (the warm pass runs lanes in parallel).
    */
  def check(key: String, rows: Long, digest: String): Option[String] = {
    recorded.synchronized(recorded.getOrElseUpdate(key, (rows, digest)))
    expected.get(key) match {
      case None => Some(s"no reference for $key")
      case Some((r, _)) if r != rows => Some(s"$key: $rows rows, expected $r")
      case Some((_, d)) if d != digest => Some(s"$key: digest $digest, expected $d")
      case _ => None
    }
  }

  /** Writes what this run observed, in the reference file's format. */
  def writeObserved(out: String): Unit = {
    val body = recorded.synchronized(recorded.toSeq).sortBy(_._1).map { case (k, (r, d)) =>
      s"""  "$k": {"rows": $r, "digest": "$d"}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
  }
}

