package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The library's one way to hold a frame in Spark's cache, and its
  * one lifetime rule.
  *
  * A pinned frame is persisted at `MEMORY_AND_DISK` (spills rather
  * than evicts; lost blocks recompute from lineage, which a
  * `localCheckpoint` cannot do) and filled by one count. The entry
  * lives in the session's cache manager until `unpersist`,
  * `spark.catalog.clearCache()` or the context stops — not until the
  * frame is garbage-collected. A later pin whose plan has the same
  * result reuses the entry instead of adding one.
  *
  * The rule, per door:
  *  - an EAGER door (no lazy result it returns reads the frame) uses
  *    [[scoped]] and leaves nothing behind;
  *  - a LAZY door may [[pin]] only a plan that is equal across calls
  *    on equal input, so a repeat call reuses the entry. A plan that
  *    runs through a typed closure capturing per-call values
  *    (`map`/`mapPartitions`) or through a `localCheckpoint` is
  *    different on every call: the direct decode doors (e.g.
  *    `Dedup.imageDedupPairs`, `AudioOps.audioAnnTopK`) pin such a
  *    plan and add an entry per call, so a session that calls them
  *    repeatedly pins the decode once and goes through their
  *    precomputed-input forms (`perceptualPairsFrom`,
  *    `videoDedupPairsFrom`, `Similarity.annTopK`, ...), as the
  *    registry's session fixtures do.
  */
private[graft] object Cached {
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Persist `ds` and fill it with one count. Each of `within` —
    * frames `ds`'s plan reads — is persisted first, so the same count
    * fills them too.
    */
  def pin[T](ds: Dataset[T], within: Dataset[_]*): Dataset[T] = {
    within.foreach(_.persist(Level))
    ds.persist(Level).count()
    ds
  }

  /** [[pin]] `ds`, run `use` over it, and unpersist it however `use`
    * ends. `use` must not return a lazy frame that reads `ds`. An
    * entry an equal plan already held is shared and released too; its
    * other readers recompute from lineage.
    */
  def scoped[T, R](ds: Dataset[T])(use: Dataset[T] => R): R =
    try use(pin(ds))
    finally ds.unpersist()
}
