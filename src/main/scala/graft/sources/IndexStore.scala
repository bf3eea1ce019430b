package graft.sources

import graft.Cached
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Surgery on a persisted index across a re-crawl — the one rule every
  * `update*Index` op applies to its primary artifact, so that the
  * surgered index equals a scratch `write*Index` over the post-diff
  * corpus. An index is one of two kinds:
  *  - a ROW SET keyed by an id (band sigs, perceptual hashes, winnow
  *    fingerprints, LSH vectors, ANN codes): retract = anti-join on the
  *    id, add = union, and an added id the store still holds keeps the
  *    stored rows ([[rows]]; replacing an id is retract-then-add);
  *  - COUNTS per key (gram doc counts, LM pair and token counts, DSIR
  *    bucket counts), an exact monoid: stored + added − retracted, and a
  *    key whose counts all reach zero leaves the index ([[counts]]).
  * The update reads the index it replaces, so its output must be
  * another path ([[guard]]; indexes are versioned per snapshot, the
  * [[CorpusStore]] discipline). Derived artifacts (bands, buckets,
  * marginals, ratios, meta) re-derive from the primary artifact as
  * written, in each family's own writer.
  */
object IndexStore {

  /** Refuses an update whose output is the index it reads, comparing
    * qualified Hadoop paths (`p`, `p/` and `file:p` are one path).
    */
  def guard(spark: SparkSession, op: String, indexPath: String,
      outPath: String): Unit = {
    def qualified(p: String) = {
      val path = new Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(path)
    }
    require(qualified(outPath) != qualified(indexPath),
      s"$op cannot overwrite the index it reads ($indexPath)")
  }

  /** Row-set surgery: the `stored` rows minus every id in the first
    * column of `retractIds`, plus the `added` rows whose id the kept
    * rows do not hold.
    */
  def rows(stored: DataFrame, idCol: String, retractIds: DataFrame,
      added: DataFrame): DataFrame = {
    val retract = retractIds
      .select(col(retractIds.columns.head).cast("long").as(idCol))
    val kept = stored.join(retract, Seq(idCol), "left_anti")
    kept.unionByName(added.join(kept.select(idCol), Seq(idCol), "left_anti"))
  }

  /** Count surgery, handed to `write`: per `keys`, each count column of
    * `added` summed with `stored` and less `retracted`. EAGER: a count
    * below zero means `retracted` holds what the index never counted
    * (a doc retracted twice, or never indexed), and the call fails
    * naming `op` before anything is written. Keys whose counts are all
    * zero are dropped.
    */
  def counts(op: String, stored: DataFrame, keys: Seq[String],
      retracted: DataFrame, added: DataFrame)(write: DataFrame => Unit)
      : Unit = {
    val values = added.columns.toSeq.filterNot(keys.contains)
    val negated = retracted.select(keys.map(col) ++
      values.map(v => (-col(v)).as(v)): _*)
    val sums = values.map(v => sum(col(v)).as(v))
    val merged = stored.unionByName(negated).unionByName(added)
      .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    Cached.scoped(merged) { m =>
      val negative = m.where(values.map(col(_) < 0).reduce(_ || _)).count()
      require(negative == 0L,
        s"$op: $negative keys went negative — the retracted slice does " +
          "not match the stored index (a doc retracted twice, or never " +
          "indexed); refusing to write a corrupted index")
      write(m.where(values.map(col(_) =!= 0).reduce(_ || _)))
    }
  }
}
