package graftbench

import graft.SparkEntry

/** `corpus-curate`: training-data jobs from the `SparkEntry` registry
  * over a seeded corpus shaped like sf0.1 `documents`/`embeddings`.
  *
  * The seed picks one of four corpora (seed mod 4), which differ in
  * their planted near-duplicate rate, and the job order. Every round
  * runs each job once and the window runs ceil(seconds / 15) rounds,
  * so every run measures the same job multiset. Registry fixtures and
  * indexes (the IVF-PQ index, ...) are memoized per session, so the
  * warm pass builds them during set-up and the window measures the
  * serve paths.
  */
object CorpusCurate extends BatchWorkload {
  val name = "corpus-curate"
  val referenceFile = "corpus-curate.json"
  val timeoutMs = 60000L

  /** Registry key → the table it reads. */
  val jobs: Seq[(String, String)] = Seq(
    "q_dedup_minhash_verified" -> "documents", // MinHash-verified dedup
    "q_dedup_groups" -> "documents",
    "q_curate_pipeline" -> "documents",        // Curation.curateCorpus
    "q_ann_lsh" -> "embeddings",               // LSH near-neighbour search
    "q_ann_retrain" -> "embeddings",           // IVF-PQ index write + retrain
    "q_ann_serve" -> "embeddings",             // IVF-PQ serve off the index
    "q_host_graph" -> "documents")             // WebOps link graph

  def opKinds: Seq[String] = jobs.map(_._1)
  def roundOps: Int = jobs.size
  def roundSeconds: Double = 15.0

  private def specs(ctx: Ctx): Seq[OpSpec] = {
    val pct = Data.DupPct((ctx.seed % Data.DupPct.size).toInt.abs)
    val dir = ctx.corpusDir(pct)
    jobs.map { case (key, table) =>
      OpSpec(key, s"dup$pct", ctx.tableRows(s"corpus$pct/$table"),
        () => SparkEntry.queries(key)(ctx.spark, dir))
    }
  }

  def warmLanes(ctx: Ctx): Seq[Seq[OpSpec]] = specs(ctx).map(Seq(_))

  def sequence(ctx: Ctx): Iterator[OpSpec] = {
    val rnd = new scala.util.Random(ctx.seed)
    val all = specs(ctx)
    Iterator.continually(rnd.shuffle(all)).flatten
  }

  def allOps(ctx: Ctx): Seq[OpSpec] = specs(ctx)
}
