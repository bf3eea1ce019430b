package graft.operators

import graft.Cached
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators (SURVEY.md §2B).
  *
  * Scale shape: the only all-pairs comparison allowed is *within LSH
  * buckets*; everything global is hash-groupBy or explode-groupBy,
  * i.e. one shuffle keyed by content hash / band hash. The bounded
  * brute-force Jaccard is a correctness baseline only.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy, keep lowest doc_id. At 100 TB
    * this is the canonical first pass — map-side partial agg on
    * md5(text), single shuffle, no sort.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Cross-source content overlap — the provenance audit behind
    * "which of my sources mirror each other?" (a crawl that re-ingests
    * a mirrored site pays its storage and training-weight twice): for
    * every unordered source pair, the number of DISTINCT word
    * `n`-grams present in both. The n-gram key (the
    * [[Curation.decontaminate]] feature space) sees PARTIAL mirroring
    * — excerpts, boilerplate, re-posts — where an exact-hash key only
    * counts verbatim full-document copies (zero on this corpus at
    * gate scale; the n-gram view is the one with signal). Feeds
    * source-level dedup priority and mix-weight corrections.
    *
    * Plan shape: codegen shingle explode → distinct (gram, source) —
    * map-side partial — then a self-equi-join on the gram key with
    * `source_a < source_b` and one pair-count aggregate. The join
    * fans out per gram only over its DISTINCT sources (bounded by the
    * source universe, not the duplication count — a gram repeated 10⁶
    * times inside two sources is still one row per side), so the
    * shuffle is O(distinct (gram, source)) and the output is at most
    * |sources|² rows. At a 100 TB scale the gram string never needs
    * to materialize: swap the key for the shared
    * [[graft.functions.TextFunctions.shingleKey]] xxhash64 form, the
    * decontaminate precedent.
    */
  def sourceOverlap(documents: DataFrame, n: Int = 4): DataFrame = {
    import graft.functions.TextFunctions.{shingleFromStruct, shingleStructs, tokenize}
    val gs = documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= n)
      .select(col("source"), explode(shingleStructs(col("toks"), n)).as("z"))
      .select(col("source"), shingleFromStruct(col("z"), n).as("gram"))
      .distinct()
    gs.as("a").join(gs.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Approximate twin of [[sourceOverlap]] via Datasketches HLL — the
    * 100 TB path: the exact form shuffles O(distinct (gram, source))
    * rows into a self-join; this one folds each source's gram set into
    * a CONSTANT-SIZE sketch (one aggregate, map-side partial merge, no
    * `distinct` — HLL is duplicate-insensitive by construction) and
    * estimates every pairwise overlap by inclusion-exclusion
    * (`|A∩B| ≈ est(A) + est(B) − est(A∪B)`, union via `hll_union`).
    * The pairwise stage touches only the |sources|-row sketch frame
    * (broadcast nested-loop on `source_a < source_b`), so the corpus
    * is scanned exactly once regardless of the source universe.
    *
    * Accuracy: relative standard error ≈ 1.04/√2^lgK on each
    * cardinality (≈0.8% at lgK=14); the DIFFERENCE inherits the union
    * terms' absolute error, so small overlaps between large sources
    * are proportionally noisier — the error spec bounds against
    * est_a + est_b, not the overlap itself. Clamped at 0 (the
    * estimator can go negative on disjoint pairs).
    */
  def sourceOverlapHll(documents: DataFrame, n: Int = 4, lgK: Int = 14): DataFrame = {
    import graft.functions.TextFunctions.{shingleFromStruct, shingleStructs, tokenize}
    // pinned: the sketch frame (|sources| rows × 2^lgK bytes) feeds
    // both self-join sides, which would each re-scan the corpus
    val sk = Cached.pin(documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= n)
      .select(col("source"), explode(shingleStructs(col("toks"), n)).as("z"))
      .select(col("source"), shingleFromStruct(col("z"), n).as("gram"))
      .groupBy("source")
      .agg(hll_sketch_agg(col("gram"), lgK).as("sk")))
    sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        hll_sketch_estimate(col("a.sk")).as("est_a"),
        hll_sketch_estimate(col("b.sk")).as("est_b"),
        hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))).as("est_union"))
      .select(col("source_a"), col("source_b"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("n_shared_est"))
  }

  /** Per-document n-gram NOVELTY — the dedup family's marginal-value
    * diagnostic: what fraction of a document's distinct n-grams make
    * their FIRST corpus appearance in this document (first = lowest
    * doc_id, the family's canonical-representative convention)? A
    * crawl snapshot full of near-zero-novelty docs adds bytes, not
    * information; the per-source average of this frame is the
    * data-value curve mix planners act on. Duplicate docs score 0
    * except the canonical copy; boilerplate-heavy docs score low even
    * when no single document duplicates them (the same gap
    * winnowing covers at pair level, here as a per-doc scalar).
    *
    * Plan shape: distinct (doc_id, gram) — map-side partial — then a
    * min-aggregate per gram and ONE keyed equi-join back on the gram;
    * output one row per doc. No self-join: the corpus-first frame is
    * O(distinct grams) and every stage is hash-keyed. At 100 TB swap
    * the gram string for the shared xxhash64
    * [[graft.functions.TextFunctions.shingleKey]] form (the
    * decontaminate/dup_span precedent).
    */
  def gramNovelty(documents: DataFrame, n: Int = 4): DataFrame = {
    val sh = shingled(documents, n).distinct()
    val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novel_frac"))
  }

  /** Distinct n-gram index of a corpus — the persistable unit of
    * cross-snapshot novelty: `writeGramIndex` stores it, and
    * [[noveltyAgainst]] scores a NEW snapshot against it without
    * touching the old corpus again (the [[writeBandIndex]] /
    * [[dedupAgainst]] pattern, at gram granularity). One row per
    * distinct gram with its distinct-DOC count `n_docs` — the count is
    * what makes [[updateGramIndex]] surgery EXACT (a count monoid,
    * the [[graft.operators.TextOps.updateLmIndex]] property): a gram
    * fully retracted must leave the index, and only its count knows
    * when. Set consumers ([[noveltyAgainst]]) read the `gram` column
    * and ignore the count.
    */
  def gramIndex(documents: DataFrame, n: Int = 4): DataFrame =
    shingled(documents, n)
      .select(col("doc_id"), col("shingle").as("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))

  /** Persist a snapshot's gram index ([[gramIndex]]) as parquet for
    * the next crawl's incremental novelty pass.
    */
  def writeGramIndex(documents: DataFrame, path: String, n: Int = 4): Unit =
    gramIndex(documents, n).write.mode("overwrite").parquet(path)

  /** Maintain a persisted gram index across a re-crawl — the exact
    * count-monoid surgery of [[graft.operators.TextOps.updateLmIndex]]
    * applied to the novelty seam: per-gram distinct-doc counts
    * subtract for the retracted slice and add for the added slice, and
    * rows reaching zero DROP (a fully retracted gram must leave the
    * index or a joint-rebuild novelty pass would disagree). BIT-EQUAL
    * to a scratch [[writeGramIndex]] over the post-diff corpus
    * (fuzz-spec-asserted in IncrementalDedupSpec) — not "equal under
    * frozen artifacts", actually equal, because per-doc distinct-gram
    * sets are deterministic in the text. Pass the retracted slice's
    * DOCUMENTS (the snapshotDiff `removed` + `changed` old rows):
    * only the changed slices are ever re-tokenized; the stored corpus
    * contributes its count rows. `outPath` must differ from
    * `indexPath` (parquet cannot overwrite its own scan — the
    * corpus-store versioning discipline).
    */
  def updateGramIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String, retractDocs: DataFrame,
      addedDocs: DataFrame, n: Int = 4): Unit = {
    require(outPath != indexPath,
      s"updateGramIndex cannot overwrite the index it reads ($indexPath)")
    val stored = spark.read.parquet(indexPath)
    // loud on a legacy distinct-gram index (pre-r11 writeGramIndex
    // stored no counts): only the count knows when a retracted gram
    // must leave the index, so surgery on a countless index cannot be
    // exact — the caller rebuilds once with writeGramIndex and the
    // versioned chain is exact from then on
    require(stored.columns.contains("n_docs"),
      s"updateGramIndex: the stored index at $indexPath has no n_docs " +
        "column (written by a pre-count writeGramIndex) — rebuild it " +
        "with writeGramIndex before applying surgery")
    def delta(docs: DataFrame, sign: Int) = shingled(docs, n)
      .select(col("doc_id"), col("shingle").as("gram")).distinct()
      .groupBy("gram").agg((count(lit(1)) * sign).as("n_docs"))
    Cached.scoped(stored
        .unionByName(delta(retractDocs, -1))
        .unionByName(delta(addedDocs, 1))
        .groupBy("gram").agg(sum(col("n_docs")).as("n_docs"))) { merged =>
      // loud on a violated retract contract (the r11 advice item): a
      // doc retracted twice — or never indexed — drives still-present
      // grams' counts negative, and the old silent `> 0` filter would
      // drop them from the index with no diagnostic. A count of 0 is
      // legitimate (a fully retracted gram leaving the index); below
      // zero only a caller bug can reach.
      val negative = merged.where(col("n_docs") < 0).count()
      require(negative == 0L,
        s"updateGramIndex: $negative grams went negative — retractDocs " +
          "does not match the stored snapshot (a doc retracted twice, " +
          "or never indexed); refusing to write a corrupted index")
      merged.where(col("n_docs") > 0)
        .write.mode("overwrite").parquet(outPath)
    }
  }

  /** Cross-snapshot INCREMENTAL novelty — [[gramNovelty]]'s
    * operational form: score snapshot N+1 against snapshot N's
    * persisted gram index instead of re-shingling the joint corpus. A
    * new doc's gram is novel iff it is absent from the INDEX and
    * first (lowest doc_id) within the NEW snapshot.
    *
    * EXACT contract (spec-asserted): when every indexed doc_id is
    * below every new doc_id — the append-only crawl invariant — the
    * output equals the joint-corpus [[gramNovelty]] restricted to the
    * new snapshot's rows, bit-for-bit. Plan shape: the new snapshot
    * shingles once; the index arrives as one keyed anti-ish left
    * join — O(new grams + index grams) shuffle, nothing pairwise,
    * old corpus never re-read.
    */
  def noveltyAgainst(index: DataFrame, newDocs: DataFrame, n: Int = 4): DataFrame = {
    val sh = shingled(newDocs, n).distinct()
    val firstNew = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    val old = index.select(col("gram").as("shingle")).distinct()
      .withColumn("in_old", lit(true))
    sh.join(firstNew, "shingle")
      .join(old, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("in_old").isNull && col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novel_frac"))
  }

  /** Tokenize → k-word shingles, exploded via the codegen-friendly
    * zip form (an interpreted `transform` lambda here cost ~10× at
    * 50M shingles — see TextFunctions.shingleStructs). Duplicate
    * shingles are NOT deduped: the only consumer is a min-aggregate,
    * which is duplicate-insensitive.
    */
  private def shingled(documents: DataFrame, k: Int): DataFrame = {
    import graft.functions.TextFunctions.{shingleFromStruct, shingleStructs, tokenize}
    documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), explode(shingleStructs(col("toks"), k)).as("z"))
      .select(col("doc_id"), shingleFromStruct(col("z"), k).as("shingle"))
  }

  /** MinHash(numHashes) signature per doc as an array column — one
    * explode + one groupBy shuffle whose aggregate is the custom
    * [[graft.plans.MinHashSketch]] (single imperative buffer update;
    * a 64-column `min` agg costs ~6 s of one-shot codegen compile).
    * The hash family is Kirsch-Mitzenmacher: h_i = (h1 + i*h2) mod p
    * over two base xxhash64 string hashes, so each shingle is *hashed
    * twice*, not `numHashes` times. h2 lands in [1, p-1] (never ≡ 0
    * mod p, which would collapse all h_i to h1).
    */
  def minhashSketch(documents: DataFrame, numHashes: Int = 64,
      shingleLen: Int = 3): DataFrame = {
    graft.GraftFunctions.register(documents.sparkSession)
    val p = 2147483647L // 2^31 - 1
    shingled(documents, shingleLen)
      .withColumn("h1", pmod(xxhash64(col("shingle")), lit(p)))
      .withColumn("h2", pmod(xxhash64(lit(40503L), col("shingle")), lit(p - 1)) + 1)
      .groupBy("doc_id")
      .agg(call_function("minhash_sketch", col("h1"), col("h2"),
        lit(numHashes)).as("sig"))
  }

  /** Wide (mh_0..mh_n-1 columns) view of [[minhashSketch]] for API
    * consumers that want per-hash columns.
    */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 64,
      shingleLen: Int = 3): DataFrame = {
    val sk = minhashSketch(documents, numHashes, shingleLen)
    sk.select(col("doc_id") +:
      (0 until numHashes).map(i =>
        element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
  }

  /** LSH banding over the MinHash signature: `bands` bands of
    * `rowsPerBand` hashes; docs sharing any band-hash become candidate
    * pairs. Join is *within buckets only* — at 100 TB the shuffle is
    * O(docs × bands), never O(docs²).
    *
    * `bucketCap` guards the self-join against degenerate bands: one
    * hot band-hash of n docs implies n²/2 pairs, and at corpus scale a
    * bucket past the cap is near-certainly a pathological value (empty
    * or template docs) better collapsed by [[exact]] dedup first — so
    * those buckets are dropped before the join rather than exploded
    * into a quadratic hot partition.
    *
    * STAR-COMPRESSED by default (r9 verdict item): exact copies
    * collapse to one representative per distinct text FIRST (stage 0,
    * [[exact]] — the same load-bearing order as
    * [[minhashVerifiedPairs]]), and the output is candidate pairs
    * among REPRESENTATIVES only. On a corpus that is 90% verbatim
    * copies the raw member-level enumeration is quadratic in the clone
    * factor as pure OUTPUT physics (measured 60× wall at 100× data);
    * the rep form carries the identical information (the member map is
    * [[exact]]'s keep_id assignment) at O(distinct-text pairs).
    * `composeMembers = true` restores the full member-level
    * enumeration — rep pairs expanded through the member map plus
    * within-copy-group pairs (identical text ⇒ identical signature ⇒
    * every band agrees) for groups whose text is long enough to sketch
    * (`size(tokens) ≥ shingleLen`; shorter docs never sketch, so their
    * copies never paired in the raw form either). Spec-asserted equal
    * to the raw enumeration on the gate corpus; the one documented
    * shift is that `bucketCap` now counts DISTINCT texts per bucket,
    * not member rows (the [[graft.operators.Similarity.nearDupPairsLsh]]
    * star-reduction convention).
    */
  def minhashCandidates(documents: DataFrame, numHashes: Int = 64,
      bands: Int = 16, shingleLen: Int = 3, bucketCap: Int = 10000,
      composeMembers: Boolean = false): DataFrame = {
    val reps = documents.join(
      exact(documents).select(col("keep_id").as("doc_id")), "doc_id")
    val repPairs = candidatesFromSketch(
      minhashSketch(reps, numHashes, shingleLen), numHashes, bands, bucketCap)
    if (!composeMembers) repPairs
    else {
      import graft.functions.TextFunctions.tokenize
      // member map: every doc → its exact-group rep (keep_id), pinned:
      // three subtrees read it below
      val members = Cached.pin(documents
        .select(col("doc_id"), md5(col("text")).as("text_hash"),
          (size(tokenize(col("text"))) >= shingleLen).as("sketchable"))
        .join(exact(documents).select(col("text_hash"), col("keep_id")
          .as("rep_id")), "text_hash")
        .select(col("doc_id"), col("rep_id"), col("sketchable")))
      val ma = members.select(col("rep_id").as("a_id"), col("doc_id").as("da"))
      val mb = members.select(col("rep_id").as("b_id"), col("doc_id").as("db"))
      val cross = repPairs.join(ma, "a_id").join(mb, "b_id")
        .select(least(col("da"), col("db")).as("a_id"),
          greatest(col("da"), col("db")).as("b_id"))
      val sk = members.where(col("sketchable"))
      val within = sk.as("m1").join(sk.as("m2"),
          col("m1.rep_id") === col("m2.rep_id") &&
            col("m1.doc_id") < col("m2.doc_id"))
        .select(col("m1.doc_id").as("a_id"), col("m2.doc_id").as("b_id"))
      cross.unionByName(within).distinct()
    }
  }

  /** Banding + bucket-capped self-join over a precomputed signature
    * frame — split out so pipelines that also need the signatures
    * (e.g. [[minhashVerifiedPairs]]) build the sketch once.
    */
  /** (doc_id, band_idx, band_hash) band rows of a signature frame —
    * the persistable unit of the LSH index, shared by
    * [[candidatesFromSketch]] and the cross-snapshot
    * [[writeBandIndex]]/[[dedupAgainst]] pair so the two surfaces
    * band identically by construction.
    */
  private def bandRows(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) exactly")
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band_idx"),
        xxhash64(cols: _*).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band_idx"), col("bh.band_hash"))
  }

  /** Bucket-cap window + SHUFFLE_HASH band self-join over a banded
    * frame — the second half of the candidate machinery, shared by
    * [[candidatesFromSketch]] and [[dedupAgainst]] so the in-memory
    * and incremental surfaces cannot drift (r9 review finding: only
    * bandRows was shared before). Extra columns on `banded` (the
    * incremental `is_new` flag) ride through under the `a.`/`b.`
    * aliases for the caller's post-join predicates.
    *
    * Cap as a window count over the join key: ONE pass over `banded`
    * (an agg+join formulation would recompute the upstream subtree
    * per branch), and the self-join reuses the same hash
    * partitioning. SHUFFLE_HASH instead of the planner's broadcast:
    * both self-join sides then carry the IDENTICAL shuffle exchange
    * the bucket-cap window already created on the join keys, so
    * ReuseExchange computes the upstream subtree ONCE (a broadcast
    * build side is a different exchange node and re-executes it).
    */
  private def cappedBandSelfJoin(banded: DataFrame,
      bucketCap: Int): DataFrame = {
    val wb = Window.partitionBy("band_idx", "band_hash")
    val capped = banded
      .withColumn("bucket_n", count(lit(1)).over(wb))
      .where(col("bucket_n") <= bucketCap)
      .drop("bucket_n")
    capped.as("a").hint("SHUFFLE_HASH")
      .join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
  }

  def candidatesFromSketch(sigs: DataFrame, numHashes: Int = 64,
      bands: Int = 16, bucketCap: Int = 10000): DataFrame =
    cappedBandSelfJoin(bandRows(sigs, numHashes, bands), bucketCap)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** Persist a snapshot's MinHash index — the cross-snapshot dedup
    * seam (r9): `bands/` holds the [[bandRows]] (doc_id, band_idx,
    * band_hash) the candidate join needs, `sigs/` the full signatures
    * for estimate-stage composition, both partitioned parquet via the
    * corpus-store write discipline. A production crawl writes this
    * once per snapshot; snapshot N+1 then joins against it with
    * [[dedupAgainst]] WITHOUT recomputing snapshot N's shingles or
    * sketches — the index read is a scan of 24-byte rows, not a
    * re-tokenization of 100 TB.
    */
  def writeBandIndex(documents: DataFrame, path: String,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3): Unit = {
    val sk = minhashSketch(documents, numHashes, shingleLen)
    // one sketch job feeds both artifacts; sigs first so a partial
    // write (bands present, sigs missing) cannot masquerade as a
    // complete index for the candidate path
    sk.write.mode("overwrite").parquet(s"$path/sigs")
    bandRows(sk.sparkSession.read.parquet(s"$path/sigs"), numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Maintain a persisted MinHash index across a RE-crawl — the
    * index-update leg [[graft.operators.Curation.snapshotDiff]]
    * drives: `retractIds` (the diff's `removed` + `changed` ids)
    * drop out of the stored signatures, `addedDocs` (the `added` +
    * `changed` documents — a changed doc re-enters under its own id
    * with fresh content) are sketched and appended, and the result is
    * written to `outPath` as a complete [[writeBandIndex]]-shaped
    * index. EXACT contract (spec-asserted): the updated index's
    * `sigs` and `bands` row SETS equal a scratch
    * [[writeBandIndex]] over the post-diff corpus — sketching is
    * deterministic per document, so surgery on the stored rows and a
    * full rebuild cannot disagree; the saving is that only the
    * CHANGED slice is ever re-tokenized (the stored corpus's text is
    * never read, just its 24-byte index rows).
    *
    * `outPath` must differ from `indexPath` (parquet cannot overwrite
    * its own scan; production versions indexes by snapshot anyway —
    * the corpus-store discipline) — violating this throws before any
    * write.
    *
    * Epoch processing order (spec-pinned end-to-end): run
    * [[dedupAgainst]] for the changed slice against the RETRACT-ONLY
    * index (this call with an empty `addedDocs`) — re-adding first
    * would put the changed docs' band rows on both sides of the
    * union join — then apply the full surgery to produce the next
    * epoch's index.
    */
  def updateBandIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String, retractIds: DataFrame,
      addedDocs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      shingleLen: Int = 3): Unit = {
    require(outPath != indexPath,
      s"updateBandIndex cannot overwrite the index it reads ($indexPath)")
    val retract = retractIds
      .select(col(retractIds.columns.head).cast("long").as("doc_id"))
    val kept = spark.read.parquet(s"$indexPath/sigs")
      .join(retract, Seq("doc_id"), "left_anti")
    kept.unionByName(minhashSketch(addedDocs, numHashes, shingleLen))
      .write.mode("overwrite").parquet(s"$outPath/sigs")
    // bands re-derive from the WRITTEN sigs (the writeBandIndex
    // partial-write discipline: sigs first, bands from disk)
    bandRows(spark.read.parquet(s"$outPath/sigs"), numHashes, bands)
      .write.mode("overwrite").parquet(s"$outPath/bands")
  }

  /** Incremental dedup of a NEW snapshot against a persisted index
    * ([[writeBandIndex]]): candidate pairs (a_id, b_id) where at
    * least one side is a new document — within-new pairs and
    * new-vs-indexed pairs, never indexed-vs-indexed (those were the
    * previous run's output; recomputing them is exactly the waste
    * this operator exists to avoid).
    *
    * EXACT contract (r9 review tightening): this output equals the
    * joint-corpus [[minhashCandidates]] run's at-least-one-new-side
    * SUBSET bit-for-bit — banding is deterministic per document and
    * the `bucketCap` window counts over the UNION frame, the same
    * counts the joint run sees (round-trip spec-asserted, including
    * a cap regime that only trips on the union). Note the honest
    * asymmetry: the PREVIOUS run's old-old pairs are NOT retracted —
    * an old-old pair whose bucket crosses `bucketCap` only once the
    * new snapshot joins it would be absent from a joint rerun but
    * remains in the prior output; incremental consumers carry each
    * epoch's pairs forward as-of their epoch, they do not re-derive
    * history (spec pins this divergence case explicitly).
    *
    * Caller contract: doc_ids must be unique across snapshots (a
    * crawl's monotonic or content-addressed ids).
    *
    * Plan: stored band rows scan (no text, no sketch recompute) union
    * the new snapshot's band rows, then the SHARED cap-window +
    * SHUFFLE_HASH self-join ([[cappedBandSelfJoin]] — identical
    * machinery by construction, not by convention), then the
    * at-least-one-new filter. Shuffle O((old + new) × bands) band
    * keys; the is_new flag rides the band rows so the filter is a
    * post-join predicate, not a third join.
    */
  def dedupAgainst(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame, numHashes: Int = 64,
      bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    val stored = spark.read.parquet(s"$indexPath/bands")
      .select(col("doc_id"), col("band_idx"), col("band_hash"),
        lit(false).as("is_new"))
    val fresh = bandRows(minhashSketch(newDocs, numHashes, shingleLen),
        numHashes, bands)
      .select(col("doc_id"), col("band_idx"), col("band_hash"),
        lit(true).as("is_new"))
    cappedBandSelfJoin(stored.unionByName(fresh), bucketCap)
      .where(col("a.is_new") || col("b.is_new"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** The composed INCREMENTAL CRAWL EPOCH — the capstone that runs the
    * cross-snapshot machinery end-to-end as one registered operation
    * (r9 verdict item #6; the pieces are individually spec'd, this is
    * what a production user actually runs each crawl):
    * [[graft.operators.Curation.snapshotDiff]] classifies the
    * re-crawl → retract/re-add slices derive from the statuses → the
    * stored band index takes RETRACT-ONLY surgery
    * ([[updateBandIndex]]) → the changed slice dedups against it
    * ([[dedupAgainst]] — the epoch processing order the
    * updateBandIndex scaladoc pins: re-adding first would put the
    * changed docs' band rows on both sides of the union) → the FULL
    * surgery produces the next epoch's index → the changed slice
    * scores novelty against the stored gram index
    * ([[noveltyAgainst]]). Returns the per-stage counts frame
    * `(stage, metric, value)` — the epoch scorecard; every stage
    * count is spec-asserted equal to the standalone operators run by
    * hand (IncrementalDedupSpec).
    *
    * `workDir` holds the epoch artifacts (`idx0` the prior index —
    * rebuilt here from `oldDocs` for self-containment; a production
    * caller passes the previous epoch's `idx1` location —
    * `idx_retract`, `idx1`, `grams`), all overwrite-mode. EAGER by
    * nature: index surgery is a write, and the scorecard is counts.
    * Scale shape: every stage is the underlying operator's own plan —
    * only the CHANGED slice is ever re-tokenized, the stored corpus
    * contributes 24-byte index rows.
    */
  def incrEpoch(spark: org.apache.spark.sql.SparkSession,
      oldDocs: DataFrame, newDocs: DataFrame, workDir: String,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      gramN: Int = 4, bucketCap: Int = 10000): DataFrame = {
    import spark.implicits._
    Cached.scoped(Curation.snapshotDiff(oldDocs, newDocs)) { diff =>
      val statusCounts = diff.groupBy("status").count().collect()
        .map(r => r.getAs[String]("status") -> r.getAs[Long]("count")).toMap
      val retract = diff.where(col("status").isin("removed", "changed"))
        .select("doc_id")
      val readd = newDocs.join(
        diff.where(col("status").isin("added", "changed")).select("doc_id"),
        "doc_id")
      val changedIdFrame = diff
        .where(col("status").isin("added", "changed")).select("doc_id")
      // Guide §2.6 (r15 opt round): the BAND-index chain and the
      // GRAM-index chain touch disjoint artifacts and share only the
      // pinned diff and the input corpora — so the epoch submits them
      // from a small driver pool and one chain's tasks back-fill the
      // other's stage tails instead of leaving 31 cores idle between
      // eager actions. Within the band chain the retract-dedup leg
      // (idx_retract) and the full surgery (idx1) both read only idx0
      // and are themselves independent. Each chain's INTERNAL order is
      // the contract order (surgery before the dedup that reads it);
      // the scorecard rows assemble after both complete, so the output
      // frame is identical to the serial form row-for-row.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val bandChain = Future {
        writeBandIndex(oldDocs, s"$workDir/idx0", numHashes, bands,
          shingleLen)
      }.flatMap { _ =>
        // retract-only surgery first, dedup the changed slice against it
        val dedupLeg = Future {
          updateBandIndex(spark, s"$workDir/idx0", s"$workDir/idx_retract",
            retract, readd.limit(0), numHashes, bands, shingleLen)
          Cached.scoped(dedupAgainst(spark, s"$workDir/idx_retract", readd,
              numHashes, bands, shingleLen, bucketCap)) { pairs =>
            (pairs.count(), pairs
              .join(changedIdFrame.select(col("doc_id").as("a_id"))
                .withColumn("a_new", lit(true)), Seq("a_id"), "left")
              .join(changedIdFrame.select(col("doc_id").as("b_id"))
                .withColumn("b_new", lit(true)), Seq("b_id"), "left")
              .where(coalesce(col("a_new"), lit(false)) =!=
                coalesce(col("b_new"), lit(false)))
              .count())
          }
        }
        // full surgery -> the next epoch's index
        val surgeryLeg = Future {
          updateBandIndex(spark, s"$workDir/idx0", s"$workDir/idx1",
            retract, readd, numHashes, bands, shingleLen)
          (spark.read.parquet(s"$workDir/idx1/sigs").count(),
            spark.read.parquet(s"$workDir/idx1/bands").count())
        }
        dedupLeg.zip(surgeryLeg)
      }
      val gramChain = Future {
        writeGramIndex(oldDocs, s"$workDir/grams", gramN)
        // novelty of the changed slice vs the STORED gram index
        val (novDocs, novGrams) = Cached.scoped(noveltyAgainst(
            spark.read.parquet(s"$workDir/grams"), readd, gramN)) { nov =>
          val n = nov.count()
          (n, if (n == 0) 0L
            else nov.agg(sum(col("n_novel"))).collect()(0).getLong(0))
        }
        // the next epoch's gram index rides the SAME surgery discipline
        // as the band index (r10 verdict item #4): exact count-monoid
        // retract/add on the stored rows — bit-equal to a scratch
        // rebuild over the post-diff corpus, with only the changed
        // slices ever re-tokenized
        updateGramIndex(spark, s"$workDir/grams", s"$workDir/grams1",
          oldDocs.join(retract, "doc_id"), readd, gramN)
        val gramRows = spark.read.parquet(s"$workDir/grams1").count()
        (novDocs, novGrams, gramRows)
      }
      val (((nPairs, nCross), (sigRows, bandRowsN)),
        (novDocs, novGrams, gramRows)) =
        try Await.result(bandChain.zip(gramChain), Duration.Inf)
        finally pool.shutdown()
      Seq(
        ("diff", "added", statusCounts.getOrElse("added", 0L)),
        ("diff", "removed", statusCounts.getOrElse("removed", 0L)),
        ("diff", "changed", statusCounts.getOrElse("changed", 0L)),
        ("diff", "unchanged", statusCounts.getOrElse("unchanged", 0L)),
        ("dedup", "pairs", nPairs),
        ("dedup", "cross_pairs", nCross),
        ("index", "sigs_rows", sigRows),
        ("index", "band_rows", bandRowsN),
        ("index", "gram_rows", gramRows),
        ("novelty", "docs", novDocs),
        ("novelty", "novel_grams", novGrams)
      ).toDF("stage", "metric", "value")
    }
  }

  /** Stage 2 of MinHash dedup: estimate Jaccard for each candidate
    * pair as the fraction of agreeing signature positions (an
    * unbiased estimator of shingle-set Jaccard) and keep pairs above
    * `threshold`.
    *
    * Exact duplicates are collapsed FIRST (stage 0, [[exact]]): that
    * is the canonical pipeline order, and it is load-bearing — on a
    * corpus that is 90% verbatim copies, skipping it made every
    * duplicate group contribute O(copies²) candidate pairs each
    * shipping two full signatures (measured 103 s vs ~4 s at the 10×
    * scale run). Pairs between exact copies are therefore NOT in this
    * output; they are stage 0's. Signature joins then touch only the
    * candidate set of unique docs — the interpreted zip_with lambda
    * is off the hot path by construction.
    */
  def minhashVerifiedPairs(documents: DataFrame, threshold: Double = 0.7,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    val reps = documents.join(
      exact(documents).select(col("keep_id").as("doc_id")), "doc_id")
    // one sketch frame feeds candidates AND both signature joins (the
    // identical agg subtree lets Spark reuse the sketch exchange)
    val sigs = minhashSketch(reps, numHashes, shingleLen)
    val cand = candidatesFromSketch(sigs, numHashes, bands, bucketCap)
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), b -> b))") /
          lit(numHashes.toDouble))
      .where(col("est_jaccard") >= threshold)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** Exact stage-2 verification: LSH candidate pairs joined back to
    * their distinct shingle sets, TRUE Jaccard computed (the same set
    * algebra as [[jaccardPairs]]) and thresholded — vs
    * [[minhashVerifiedPairs]], which thresholds a signature-agreement
    * *estimate*. Pays two extra keyed equi-joins against the exploded
    * shingles, but the output is deterministic in the text alone: by
    * the banding recall at this threshold it equals — with
    * overwhelming probability, not as a guarantee — the set of ALL
    * representative pairs with exact Jaccard ≥ threshold, which is
    * what the SQL oracle computes. Two explicit deviations from the
    * oracle semantics: a pair just above threshold can miss all bands
    * (~2e-4 at J=0.8 with 16×4 banding), and `bucketCap` drops
    * candidates in degenerate hot buckets the oracle still counts.
    * Both are spec-asserted absent on the gate data (zero missed
    * jaccard≥0.8 pairs), not impossible on an arbitrary corpus.
    *
    * Scale shape: stage-0 exact collapse first (same load-bearing
    * order as [[minhashVerifiedPairs]]); candidates are bucket-capped
    * O(docs × bands); intersection rows materialize only for candidate
    * pairs (cand ⨝ shingles on doc id, then on shingle value), never
    * all pairs.
    */
  def minhashExactVerifiedPairs(documents: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000): DataFrame =
    exactVerifiedFromReps(
      documents.join(exact(documents).select(col("keep_id").as("doc_id")),
        "doc_id"),
      threshold, numHashes, bands, shingleLen, bucketCap)

  /** [[minhashExactVerifiedPairs]] over an ALREADY-computed
    * representative frame — split out so pipelines that derive the
    * md5-representative set anyway ([[dedupGroups]]) aggregate the
    * corpus text once, not twice.
    */
  private[operators] def exactVerifiedFromReps(reps: DataFrame,
      threshold: Double, numHashes: Int, bands: Int, shingleLen: Int,
      bucketCap: Int): DataFrame =
    verifiedAgainstSets(reps, Cached.pin(shingleSets(reps, shingleLen)),
      threshold, numHashes, bands, shingleLen, bucketCap)

  /** Distinct shingle set per doc, PACKED as one array row (codegen'd
    * shingled() explode + collect_set — not the interpreted
    * `transform` shingle lambda): candidate pairs then fetch two
    * arrays by doc id and intersect in-row, so intersection work and
    * shuffle volume scale with the candidate count, not with
    * candidates × shingles exploded rows.
    */
  private def shingleSets(reps: DataFrame, shingleLen: Int): DataFrame =
    shingled(reps, shingleLen)
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("sh"))

  /** The verification join of [[exactVerifiedFromReps]] against the
    * reps' [[shingleSets]] frame, which both join sides read (the
    * caller pins it).
    */
  private def verifiedAgainstSets(reps: DataFrame, sets: DataFrame,
      threshold: Double, numHashes: Int, bands: Int, shingleLen: Int,
      bucketCap: Int): DataFrame =
    candidatesFromSketch(minhashSketch(reps, numHashes, shingleLen),
        numHashes, bands, bucketCap)
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("n_inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** MinHash estimation-error AUDIT frame (r9 session 5 — the text
    * side's "measure, don't guess" member beside
    * [[graft.operators.Similarity.annRecall]]): per banded candidate
    * pair, the signature-agreement ESTIMATE next to the TRUE distinct-
    * shingle Jaccard and their absolute error — the frame that tells
    * a production run whether its (numHashes, bands) budget actually
    * delivers the estimator variance the thresholds assume
    * (σ ≈ √(J(1−J)/numHashes); a fatter observed error means broken
    * sketches or adversarial content, caught as a query not an
    * incident). Same stage-0 exact collapse + capped banding as the
    * verified ops (reps only — exact clones estimate trivially), one
    * signature join pair + one packed-set join pair over the bounded
    * candidate frame. rows-only (sketches have no DuckDB form): specs
    * pin cross-operator consistency (est ≡ minhashVerifiedPairs' own
    * estimates, true ≡ minhashExactVerifiedPairs' own Jaccard at
    * threshold 0) and the binomial error bound on the gate corpus.
    */
  def minhashEstError(documents: DataFrame, numHashes: Int = 64,
      bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    val reps = documents.join(
      exact(documents).select(col("keep_id").as("doc_id")), "doc_id")
    val sigs = Cached.pin(minhashSketch(reps, numHashes, shingleLen))
    val cand = candidatesFromSketch(sigs, numHashes, bands, bucketCap)
    val sets = Cached.pin(shingleSets(reps, shingleLen))
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(a_sig, b_sig, (x, y) -> x = y), b -> b))") /
          lit(numHashes.toDouble))
      .withColumn("n_inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("true_jaccard", col("n_inter").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("n_inter")).cast("double"))
      .select(col("a_id"), col("b_id"), col("est_jaccard"),
        col("true_jaccard"),
        abs(col("est_jaccard") - col("true_jaccard")).as("abs_err"))
  }

  /** Distributed connected components over an undirected edge list —
    * the alternating large-star/small-star rounds (the public
    * MapReduce-components construction): each round is two
    * groupBy-min + join passes that re-point every node at the
    * smallest id it can currently see, halving star depth, so
    * convergence takes O(log n) rounds even on chain-shaped
    * components (plain min-label propagation needs O(diameter)). No
    * per-node adjacency is ever collected — high-degree hubs (a
    * representative with millions of exact dups) stay as keyed
    * aggregates.
    *
    * Returns (id, label) with label = smallest id in the component;
    * vertices absent from `edges` label themselves. Driver-coordinated
    * rounds (localCheckpoint-truncated lineage, fixpoint = a round
    * that changes nothing); exhausting `maxRounds` without a proven
    * fixpoint throws rather than returning a partial merge.
    *
    * HYBRID: when the deduped undirected edge set holds at most
    * `driverFinishEdges` rows it is collected and resolved by a single
    * driver-side union-find pass instead — at small edge counts the
    * star rounds' ~6 Spark jobs per round are pure scheduling
    * overhead, while ~1M edges is a few MB on the driver. Star rounds
    * remain the path for larger graphs; both paths produce identical
    * labels and both are property-tested against the same union-find
    * reference.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 25, driverFinishEdges: Long = 1L << 20): DataFrame = {
    val vId = vertices.columns.head
    val spark = vertices.sparkSession
    // neighbor min per node over BOTH directions, self included
    def minsOf(adj: DataFrame): DataFrame = adj
      .groupBy("src").agg(min(col("dst")).as("min_nbr"))
      .select(col("src"), least(col("src"), col("min_nbr")).as("m"))
    def undirected(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst")).distinct()
    var cur = undirected(edges.toDF("src", "dst")).localCheckpoint()
    var curCount = cur.count()
    // Hybrid finish: below `driverFinishEdges` the whole (deduped,
    // undirected) edge set fits comfortably on the driver, and a
    // union-find resolves it in one pass — versus ~6 Spark jobs PER
    // star round, whose fixed scheduling cost dominates at this size.
    // The star rounds remain the path for genuinely large graphs
    // (set driverFinishEdges=0 to force them; the property spec runs
    // both paths against the same union-find reference). Labels are
    // identical by construction: min id per component.
    if (curCount > 0 && curCount <= driverFinishEdges) {
      import spark.implicits._
      val es = cur.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nx: Long = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      val labels = nodes.iterator.map(x => (x, find(x))).toSeq.toDF("id", "m")
      return vertices.select(col(vId).as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("m"), col("id")).as("label"))
    }
    var round = 0
    var done = curCount == 0
    while (!done && round < maxRounds) {
      // large-star: every neighbor ABOVE u re-points at u's min
      val mins1 = minsOf(cur)
      val ls = cur.join(mins1, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val adj2 = undirected(ls)
      // small-star: every neighbor at-or-below u (and u itself)
      // re-points at the min of the large-star graph
      val mins2 = minsOf(adj2)
      val ss = adj2.join(mins2, "src").where(col("dst") <= col("src"))
        .select(col("dst").as("a"), col("m").as("b"))
        .unionByName(mins2.select(col("src").as("a"), col("m").as("b")))
      val next = undirected(ss.select(col("a").as("src"), col("b").as("dst")))
        .localCheckpoint()
      // fixpoint proof, cheapest test first: both frames are
      // distinct()'d sets, so equal counts + (next \ cur) = ∅ implies
      // set equality — the count compare over localCheckpointed data
      // is near-free and skips the exceptAll scan on every
      // non-converged round (it is almost always false until the
      // last round)
      val nextCount = next.count()
      done = nextCount == curCount && next.exceptAll(cur).isEmpty
      cur = next
      curCount = nextCount
      round += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds " +
        "alternating star rounds")
    // at the fixpoint every component is a star rooted at its min:
    // a node's label is its min neighbor (or itself when isolated)
    val labels = minsOf(cur)
    vertices.select(col(vId).as("id"))
      .join(labels.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("m"), col("id")).as("label"))
  }

  /** Canonical dedup assignment — the FINAL step of the pipeline:
    * connected components over the exact-verified near-dup edges among
    * md5-group REPRESENTATIVES ([[minhashExactVerifiedPairs]], Jaccard
    * ≥ threshold), with each doc's exact-duplicate star composed by
    * one post-join (doc label = its representative's component label —
    * equivalent to iterating the union graph, since every doc_id ≥ its
    * rep and so the component minimum over reps is the minimum over
    * all member docs, but the iterated vertex set shrinks by the
    * duplicate factor). Every doc gets `group_id` = the smallest
    * doc_id transitively reachable; "keep one per group" is then the
    * filter `doc_id = group_id`.
    *
    * Components are resolved by [[connectedComponents]] (alternating
    * large/small-star rounds — O(log n) rounds even on adversarial
    * chain-shaped duplicate components, union-find-property-tested),
    * driver-coordinated like [[Similarity.kmeansAssign]]; a run that
    * cannot PROVE its fixpoint within `maxIters` rounds throws rather
    * than silently returning a partially-merged assignment. NOTE:
    * deliberately an EAGER iterative operator (jobs run at
    * construction), unlike the lazy single-plan operators.
    */
  def dedupGroups(documents: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000, maxIters: Int = 20): DataFrame = {
    val docs = documents.select(col("doc_id"), md5(col("text")).as("h"))
    val repIds = docs.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    // representatives derive from the SAME md5 aggregate the final
    // doc→group join reuses — the corpus text is hashed/aggregated
    // once, not once here and once more inside
    // minhashExactVerifiedPairs
    val reps = documents.join(
      repIds.select(col("keep_id").as("doc_id")), "doc_id")
    // Iterate components over the REPRESENTATIVE graph only (near-dup
    // edges), then compose the exact-dup stars with ONE post-join:
    // doc label = its rep's component label. Equivalent to iterating
    // over the union graph — every doc_id ≥ its rep (rep = md5-group
    // min), so the component minimum over reps IS the minimum over all
    // member docs — but the iterated vertex set shrinks by the
    // duplicate factor (on a 90%-dup corpus, 10×), and the bulky
    // doc→rep stars never churn through the star rounds at all.
    // the shingle sets are read only while the components resolve
    // (the result reads checkpointed or collected labels), so they
    // are released before returning
    val repLabels = Cached.scoped(shingleSets(reps, shingleLen)) { sets =>
      connectedComponents(repIds.select(col("keep_id")),
        verifiedAgainstSets(reps, sets, threshold, numHashes, bands,
          shingleLen, bucketCap)
          .select(col("a_id").as("src"), col("b_id").as("dst")),
        maxIters)
    }
    docs.join(repIds, "h")
      .join(repLabels.withColumnRenamed("id", "keep_id"), "keep_id")
      .select(col("doc_id"), col("label").as("group_id"))
  }

  /** The deduplicated corpus itself — [[dedupGroups]]' keep-policy
    * MATERIALIZED: one surviving document per near-duplicate
    * component (the group representative, `doc_id = group_id` — the
    * smallest id, so the policy is deterministic and stable across
    * reruns), annotated with how many documents it stands for
    * (`group_size`, 1 for singletons). Downstream training reads THIS
    * frame; the groups view is the audit trail, this is the corpus
    * that ships. Reference scope: the reference dedups by exact key
    * only (kinesis-pay.php:515-549 reconciles on exact invoice
    * identity); the near-dup extension is the LLM-pipeline mandate.
    *
    * Scale shape: everything up to the group assignment is
    * dedupGroups' plan (rep-graph components, never all-pairs); the
    * materialization adds one count aggregate over the assignment
    * frame (doc-count rows, keyed by group_id) and one keyed join
    * back to `documents` for the survivors' metadata — both shuffle
    * on ids, no new window, no driver round-trip beyond the component
    * iteration already paid. Survivor count ≤ doc count, so the
    * output join is the SMALL side of the pipeline, not a second
    * corpus pass.
    */
  def dedupApply(documents: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000, maxIters: Int = 20): DataFrame =
    dedupApplyFromGroups(documents,
      dedupGroups(documents, threshold, numHashes, bands,
        shingleLen, bucketCap, maxIters))

  /** [[dedupApply]] over a PRECOMPUTED (doc_id, group_id) assignment
    * — the production composition door: the expensive component run
    * happens once, and the materialized corpus, the
    * [[dedupRateBySource]] scorecard, and any other consumer derive
    * from the same frame (compute-once, read-many — the
    * perceptualPairsFrom pattern applied to the dedup capstone).
    */
  def dedupApplyFromGroups(documents: DataFrame,
      groups: DataFrame): DataFrame = {
    val sizes = groups.groupBy("group_id")
      .agg(count(lit(1)).as("group_size"))
    documents.select(col("doc_id"), col("lang"), col("source"))
      .join(groups.where(col("doc_id") === col("group_id")), "doc_id")
      .join(sizes, "group_id")
      .select(col("doc_id"), col("lang"), col("source"), col("group_size"))
  }

  /** Per-source duplication rate — the crawl-source scorecard over
    * [[dedupGroups]]' assignment (the sourceReport pattern at dedup
    * granularity): for each source, document count, the number of
    * DISTINCT near-dup groups its documents belong to (global group
    * ids — a group spanning two sources counts for both, which is
    * the point: a mirror shows up as a source whose groups are
    * mostly shared), and the redundancy rate
    * `(n_docs − n_groups) / n_docs` in exact ppm (one integer
    * division at the end, §6). A source at 900k ppm is a mirror or
    * a template farm — drop it at the crawl list, not one document
    * at a time. Adds one source-keyed aggregate over the assignment
    * frame to dedupGroups' plan; nothing new touches text.
    */
  def dedupRateBySource(documents: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
      bucketCap: Int = 10000, maxIters: Int = 20): DataFrame =
    dedupRateFromGroups(documents,
      dedupGroups(documents, threshold, numHashes, bands,
        shingleLen, bucketCap, maxIters))

  /** [[dedupRateBySource]] over a precomputed assignment — the
    * compute-once door, see [[dedupApplyFromGroups]]. */
  def dedupRateFromGroups(documents: DataFrame,
      groups: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"))
      .join(groups, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"))
      .withColumn("dup_ppm",
        expr("((n_docs - n_groups) * 1000000) div n_docs"))

  /** Canonical grouping over PARTIAL overlap — the winnowing
    * counterpart of [[dedupGroups]] (which groups by whole-document
    * near-identity): connected components over
    * [[graft.operators.TextOps.winnowPairs]]'s shared-fingerprint
    * edges, so chains of documents stitched together by shared
    * passages (quote chains, syndicated excerpts, licence-header
    * families) collapse to one group even when no two END members
    * share anything directly. Returns (doc_id, group_id) for EVERY
    * document — group_id = the smallest doc_id in the component,
    * singletons label themselves.
    *
    * Same component engine as dedupGroups ([[connectedComponents]]:
    * alternating-star rounds, bounded driver union-find finish, loud
    * unproven-fixpoint failure), same recursive-CTE oracle shape —
    * only the edge definition differs, and that definition is
    * winnowPairs' own (shared code AND shared oracle CTE, so the
    * pairs view and the groups view cannot disagree).
    *
    * Exact-dedup-first (r9, default): components iterate over the
    * REPRESENTATIVE pair graph only ([[graft.operators.TextOps.winnowRepArtifacts]]
    * — one rep per md5(text) star), then each star composes onto its
    * rep's component label with one post-join, the dedupGroups
    * rep-graph pattern. The composition preserves the raw-document
    * semantics exactly, including the one place they can diverge: a
    * star's members are connected in the RAW pair graph iff the star
    * has ANY qualifying cross edge (every member pair across a rep
    * edge exists directly) OR its text's capped fingerprint count
    * reaches `minShared` (the within-star bond); an isolated star
    * below that bond leaves its members as singletons, so only
    * edge-or-bonded stars compose. group_id stays the smallest doc_id
    * in the raw component because every rep is its star's minimum.
    * `repReduce = false` keeps the direct path (equivalence spec runs
    * both).
    */
  def winnowGroups(documents: DataFrame, k: Int = 4, w: Int = 5,
      minShared: Int = 2, fpCap: Int = 64, maxIters: Int = 20,
      repReduce: Boolean = true): DataFrame = {
    if (!repReduce) {
      val pairs = TextOps.winnowPairs(documents, k, w, minShared, fpCap)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      return connectedComponents(documents.select(col("doc_id")), pairs, maxIters)
        .select(col("id").as("doc_id"), col("label").as("group_id"))
    }
    val r = TextOps.winnowRepArtifacts(documents, k, w, minShared, fpCap)
    val edges = r.repPairs.select(col("rep_a").as("src"), col("rep_b").as("dst"))
    val repLabels = connectedComponents(
      r.stars.select(col("rep_id")), edges, maxIters)
    val touched = edges.select(col("src").as("rep_id"))
      .unionByName(edges.select(col("dst").as("rep_id"))).distinct()
      .withColumn("has_edge", lit(true))
    val bonded = r.nSelf.where(col("n_self") >= minShared)
      .select(col("rep_id"), lit(true).as("bonded"))
    r.members
      .join(repLabels.withColumnRenamed("id", "rep_id"), "rep_id")
      .join(touched, Seq("rep_id"), "left")
      .join(bonded, Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("has_edge").isNotNull || col("bonded").isNotNull, col("label"))
          .otherwise(col("doc_id")).as("group_id"))
  }

  /** SimHash-64 fingerprint per doc: per-token xxhash64, signed bit
    * contributions summed per bit position, sign → bit — aggregated by
    * the custom [[graft.plans.SimHash64Agg]] (one buffer update per
    * token; partial aggregation merges by addition over one shuffle,
    * no 64× row explosion, no 64-column generated agg).
    */
  def simhash(documents: DataFrame): DataFrame = {
    graft.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokenize(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy("doc_id")
      .agg(call_function("simhash64_agg", col("h")).as("simhash64"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at scale: the 64-bit fingerprint splits
    * into `nBands` equal bands; by pigeonhole any pair with hamming <
    * nBands agrees exactly on ≥1 band, so the candidate join is an
    * equi-join on (band_idx, band_value) — shuffle O(docs × bands),
    * never all-pairs — followed by the exact hamming filter. The band
    * count is derived from `maxHamming` (next divisor of 64 above it)
    * so the result is COMPLETE for the requested threshold; narrower
    * bands trade larger candidate buckets for that completeness.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhash(documents), maxHamming)

  /** Canonical GROUP assignment over simhash near-duplicates —
    * completes the family's pairs → groups symmetry (exact →
    * dedupGroups, winnow → winnowGroups, simhash → here): connected
    * components over the pigeonhole band-join edges, group_id = the
    * smallest doc_id reachable through hamming-≤`maxHamming` links.
    *
    * Exact-dedup-first is FREE here, the imageDedupPairs argument:
    * hamming depends only on the simhash value, so the band join and
    * the component rounds run over ONE representative per DISTINCT
    * simhash (on a clone-heavy corpus the bucket fan-out shrinks by
    * the clone factor squared) and same-hash members inherit their
    * rep's label unconditionally (hamming 0 is always ≤ the budget).
    * Identical labels to components over the raw per-doc pair set, by
    * construction. Eager at construction (the component engine runs
    * jobs), hash frame pinned once for its three readers.
    */
  def simhashGroups(documents: DataFrame, maxHamming: Int = 3,
      maxRounds: Int = 25): DataFrame = {
    val hashes = Cached.pin(simhash(documents))
    val stars = hashes.groupBy("simhash64").agg(min(col("doc_id")).as("rep_id"))
    val members = hashes.join(stars, "simhash64")
      .select(col("doc_id"), col("rep_id"))
    val edges = hammingBandPairs(
      stars.select(col("rep_id").as("doc_id"), col("simhash64")), maxHamming)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val labels = connectedComponents(stars.select(col("rep_id")), edges, maxRounds)
    members.join(labels.withColumnRenamed("id", "rep_id"), "rep_id")
      .select(col("doc_id"), col("label").as("group_id"))
  }

  /** The pigeonhole band machinery itself, over ANY (doc_id, <hash64>)
    * frame — shared by [[simhashPairs]] (text fingerprints) and
    * [[imageDedupPairs]] (perceptual image hashes), so the two
    * surfaces cannot drift: band count = next divisor of 64 above
    * `maxHamming` (completeness by pigeonhole — unconditional at
    * `maxBucketFrac = 0`, modulo saturated buckets when the caller
    * engages the guard; see the inline rationale), candidate join is
    * an equi-join on (band_idx, band_val) — shuffle O(rows × bands),
    * never all-pairs — then the exact hamming filter.
    */
  /** Pigeonhole band schedule for a 64-bit hash at a hamming budget:
    * (nBands, width, mask) with nBands the next divisor of 64 above
    * `maxHamming` — ONE derivation shared by [[hammingBandPairs]]
    * (batch) and the streaming image gate
    * ([[graft.streaming.StreamingOps.imageDupDocStream]]), so the
    * ingest-time candidate bands and the verified batch bands cannot
    * drift (r9 review finding: the copy-pasted schedule was held
    * identical only by hand).
    */
  private[graft] def pigeonholeBands(maxHamming: Int): (Int, Int, Long) = {
    val nBands = Seq(2, 4, 8, 16, 32)
      .find(_ > maxHamming)
      .getOrElse(throw new IllegalArgumentException(
        s"maxHamming=$maxHamming not supported: pigeonhole completeness " +
          "needs more than 32 bands of a 64-bit fingerprint"))
    (nBands, 64 / nBands, (1L << (64 / nBands)) - 1)
  }

  private[operators] def hammingBandPairs(hashes: DataFrame,
      maxHamming: Int, maxBucketFrac: Double = 0.0): DataFrame = {
    val (nBands, width, mask) = pigeonholeBands(maxHamming)
    val hashCol = hashes.columns(1)
    val fp = hashes.select(col(hashes.columns.head).as("doc_id"),
      col(hashCol).as("h64"))
    val bands = (0 until nBands).map(b => struct(lit(b).as("band_idx"),
      shiftright(col("h64"), b * width).bitwiseAND(mask).as("band_val")))
    val raw = fp
      .select(col("doc_id"), col("h64"),
        explode(array(bands: _*)).as("bv"))
      .select(col("doc_id"), col("h64"),
        col("bv.band_idx"), col("bv.band_val"))
    // maxBucketFrac > 0 engages the saturation guard for hash
    // families with STRUCTURAL low-entropy segments (perceptual
    // dHash / energy hashes: sky gradients, black borders, silence
    // make some bit segments near-constant corpus-wide, and that
    // segment's bucket grows WITH the corpus — quadratic dead weight
    // no absolute cap catches). The price is the pigeonhole
    // completeness guarantee at the hamming BOUNDARY: a pair whose
    // ONLY agreeing band is saturated is missed, which requires its
    // errors to hit every other band — near-dups agree almost
    // everywhere, so in practice the loss is confined to pairs at
    // exactly maxHamming. simhash callers keep 0.0 (majority-sign
    // bits are near-uniform: the guard would be a no-op bought with
    // an extra aggregate, and their completeness contract stays
    // unconditional).
    val banded =
      if (maxBucketFrac > 0)
        dropSaturatedBuckets(raw, "band_val", maxBucketFrac,
          SaturatedBucketFloor)
      else raw
    // SHUFFLE_HASH: self-join sides share the identical shuffle, so
    // ReuseExchange computes the hash subtree once (see
    // candidatesFromSketch for the broadcast-vs-reuse tradeoff)
    banded.as("a").hint("SHUFFLE_HASH")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        // long for schema consistency with the family's other pair
        // counts (bit_count itself yields int)
        hamming(col("a.h64"), col("b.h64")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Perceptual-hash IMAGE dedup (r9 — the multimodal pillar's dedup
    * pass): real raster decode → dHash-64
    * ([[graft.operators.MultimodalOps.dhash64]]: 9×8 luminance-grid
    * difference hash, stable under re-encode/resize/small edits) →
    * the SAME pigeonhole band join the text simhash family uses
    * ([[hammingBandPairs]]) → exact hamming filter. Returns
    * (a_id, b_id, hamming) for image pairs within `maxHamming` bits.
    *
    * Undecodable / video / over-budget payloads are EXCLUDED before
    * banding (`decoded = false` from imageHashes): a stub hash would
    * pair unrelated corrupt files with each other, the one thing a
    * dedup pass must never do. Decode is partition-local
    * (mapPartitions), the join shuffles O(images × bands) band keys —
    * never all-pairs, no cartesian (plan-audited in ImageDedupSpec).
    *
    * Exact-dup-first, the winnow-chain pattern made trivial: hamming
    * depends ONLY on the dhash values, so the band join runs over one
    * representative per DISTINCT dhash (on a verbatim-duplicated
    * corpus the bucket fan-out shrinks by the clone factor squared)
    * and member pairs compose back by two bounded joins — within-star
    * pairs at hamming 0, cross-star pairs at their reps' hamming.
    * Output is bit-for-bit the per-image semantics.
    */
  def imageDedupPairs(media: Dataset[MultimodalOps.MediaRow],
      maxHamming: Int = 5,
      maxPixels: Long = MultimodalOps.DefaultMaxPixels,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    // pinned: the composed plan reads the 16-byte hash rows from SIX
    // subtrees (stars, members, band join sides, both expansion
    // joins), and Catalyst does not reuse the un-exchanged
    // MapPartitions decode across them
    val hashes = Cached.pin(MultimodalOps.imageHashes(media, maxPixels)
      .where(col("decoded"))
      .select(col("docId").as("doc_id"), col("dhash")))
    perceptualPairs(hashes, "dhash", maxHamming, maxBucketFrac)
  }

  /** Perceptual-hash AUDIO dedup — the clip twin of
    * [[imageDedupPairs]], byte-for-byte the same composition with the
    * modality swapped: real RIFF/WAV decode → 64-bit energy-delta
    * hash ([[graft.operators.AudioOps.energyHash64]]: gain- and
    * duration-invariant frame-energy sign profile, stable under
    * re-encode / volume normalization / small local edits) → the
    * shared [[hammingBandPairs]] pigeonhole band join → exact hamming
    * filter. Returns (a_id, b_id, hamming) for clip pairs within
    * `maxHamming` bits.
    *
    * Undecodable / non-audio / too-short / digitally-silent payloads
    * are EXCLUDED before banding (`decoded = false` from audioHashes):
    * all four hash degenerately (an all-zero or all-tie energy
    * profile) and would pair unrelated clips, the one thing a dedup
    * pass must never do. Decode is partition-local, the join shuffles
    * O(clips × bands) band keys — never all-pairs, no cartesian
    * (plan-audited in AudioOpsSpec). Exact-dup-first via the shared
    * distinct-hash rep reduction ([[perceptualPairs]]), hash frame
    * pinned as in the image op.
    */
  def audioDedupPairs(audio: Dataset[AudioOps.AudioRow],
      maxHamming: Int = 5,
      maxSamples: Long = AudioOps.DefaultMaxSamples,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    val hashes = Cached.pin(AudioOps.audioHashes(audio, maxSamples)
      .where(col("decoded"))
      .select(col("docId").as("doc_id"), col("ahash")))
    perceptualPairs(hashes, "ahash", maxHamming, maxBucketFrac)
  }

  /** Near-duplicate VIDEO pairs — the temporal member of the
    * perceptual family: real AVI/MJPEG parse → per-frame dHash
    * ([[graft.operators.VideoOps.frameHashes]], bounded to the
    * leading `maxHashFrames` frames) → pigeonhole band join PER
    * ALIGNED FRAME INDEX (one matching frame is enough to surface a
    * candidate pair — the pigeonhole completeness argument applies
    * frame-wise) → exact verification over ALL aligned frames of each
    * candidate: keep pairs whose mean aligned-frame hamming ≤
    * `maxHamming` AND whose aligned-frame count covers ≥ `minFrac` of
    * the shorter clip. Returns (a_id, b_id, avg_hamming, n_matched).
    *
    * Re-encoded / lightly-edited copies align frame-for-frame and
    * pass both gates; a clip sharing one still with an otherwise
    * different clip surfaces as a candidate but dies on the mean and
    * coverage gates. Clips with no hashable frames are excluded
    * (never paired). Stated limitation: alignment is by frame INDEX,
    * so a copy with frames dropped/inserted (or trimmed from the
    * front) shifts out of alignment and is missed —
    * [[videoDedupPairsWarp]] closes exactly this case
    * (content-banded candidates + modal-shift re-alignment); this
    * aligned form stays the cheaper default when copies are
    * re-encodes, not re-edits. Scale shape: the band join shuffles
    * O(clips × frames × bands) keyed rows — never all-pairs, no
    * cartesian (plan-audited in VideoOpsSpec); verification joins are
    * keyed on the candidate set only. Exact-dup-first reduction:
    * clips with IDENTICAL frame-hash sequences collapse to one
    * representative before banding (the [[perceptualPairs]] argument
    * lifted to sequences — hamming relations depend only on the hash
    * sequence), members compose back at avg 0 / full coverage.
    */
  def videoDedupPairs(media: Dataset[MultimodalOps.MediaRow],
      maxHamming: Int = 5, minFrac: Double = 0.5,
      maxHashFrames: Int = 64,
      maxPixels: Long = MultimodalOps.DefaultMaxPixels): DataFrame = {
    // pinned: the plan below reads the frame-hash frame from seven
    // subtrees, each of which would re-parse and re-decode every frame
    val fh = Cached.pin(VideoOps.frameHashes(media, maxHashFrames, maxPixels).toDF()
      .select(col("docId").as("doc_id"), col("frameIdx").as("frame_idx"),
        col("fhash")))
    videoDedupPairsFrom(fh, maxHamming, minFrac)
  }

  /** The aligned-frame dedup over a PRECOMPUTED (doc_id, frame_idx,
    * fhash) frame — the [[warpPairsFromFrameHashes]] twin for the
    * aligned op: a caller holding stored or shared frame hashes (the
    * registry's memoized decode-once frame; a [[perceptualIndex]]-
    * style artifact) skips the decode entirely. `fh` should be pinned
    * (`Cached.pin`) — the plan reads it from seven subtrees. CONTRACT: `frame_idx` must be unique per `doc_id`
    * (every in-repo producer samples distinct indices); the packed
    * merge fold matches each index at most once, where the old
    * equi-join shape cross-producted duplicate rows — a caller
    * passing duplicate (doc_id, frame_idx) gets the fold semantics
    * (the AlignedHamming contract), not the cross-product.
    */
  def videoDedupPairsFrom(fh: DataFrame, maxHamming: Int = 5,
      minFrac: Double = 0.5): DataFrame = {
    graft.GraftFunctions.register(fh.sparkSession)
    val (members, repFh, counts) = clipStarFrames(fh)
    val (nBands, width, mask) = pigeonholeBands(maxHamming)
    val bandCols = (0 until nBands).map(b => struct(lit(b).as("band_idx"),
      shiftright(col("fhash"), b * width).bitwiseAND(mask).as("band_val")))
    val banded = repFh
      .select(col("doc_id"), col("frame_idx"), col("fhash"),
        explode(array(bandCols: _*)).as("bv"))
      .select(col("doc_id"), col("frame_idx"),
        col("bv.band_idx"), col("bv.band_val"))
    val cand = banded.as("a").hint("SHUFFLE_HASH")
      .join(banded.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .distinct()
    // verification over PACKED per-clip frame arrays (r14 opt round):
    // the old shape joined every candidate pair back to per-frame
    // hash rows — on a corpus whose dHash bands saturate (the
    // structural low-entropy case dropSaturatedBuckets documents,
    // which this op's unconditional-completeness contract forbids it
    // to use), the candidate flood is quadratic in the bucket and the
    // two (pair × frame) joins + groupBy shuffled 6× the pair count
    // (measured at sf0.1: 1.35M distinct candidates → 8M+ join rows
    // → 187 survivors). Packing each rep's frames into ONE sorted
    // array (clip-count rows, ≤ maxHashFrames elements) makes
    // verification two id-keyed joins with no fan-out and a codegen'd
    // merge fold per pair — identical arithmetic (the same
    // bit_count(xor) per aligned frame, the same matched count the
    // (rb, frame_idx) equi-join produced; array length IS nf, so the
    // counts joins fold away). Spec: AlignedHammingSpec asserts the
    // rewritten operator row-equal to the old join shape.
    val clipVec = repFh.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("fhash"))))
        .as("frames"))
    val stats = call_function("aligned_hamming", col("fa"), col("fb"))
    val repPairs = cand
      .join(clipVec.select(col("doc_id").as("ra"), col("frames").as("fa")),
        "ra")
      .join(clipVec.select(col("doc_id").as("rb"), col("frames").as("fb")),
        "rb")
      .withColumn("st", stats)
      // CaseWhen guards the ANSI division: a zero-overlap candidate
      // (possible only for degenerate inputs) yields null avg and is
      // dropped by the coverage gate, exactly like the old inner join
      .select(col("ra"), col("rb"),
        when(col("st.n_matched") > 0,
          col("st.sum_h") / col("st.n_matched")).as("avg_hamming"),
        col("st.n_matched").as("n_matched"),
        size(col("fa")).cast("long").as("na"),
        size(col("fb")).cast("long").as("nb"))
      .where(col("avg_hamming") <= maxHamming &&
        col("n_matched") >= ceil(least(col("na"), col("nb")) * lit(minFrac)))
      .select(col("ra"), col("rb"), col("avg_hamming"), col("n_matched"))
    val m = members.select(col("doc_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("rep_id").as("ra"), col("doc_id").as("da")), "ra")
      .join(m.select(col("rep_id").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"),
        col("avg_hamming"), col("n_matched"))
    val within = members.as("m1").join(members.as("m2"),
        col("m1.rep_id") === col("m2.rep_id") &&
          col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("a_id"), col("m2.doc_id").as("b_id"),
        lit(0.0).as("avg_hamming"), col("m1.nf").as("n_matched"))
    cross.unionByName(within)
  }

  /** Exact-dup-first star frames over a clip FRAME-HASH frame
    * (doc_id, frame_idx, fhash) — the [[videoDedupPairs]] reduction
    * factored so the aligned and warp-robust variants share it
    * verbatim: clip signature = xxhash64 over the ordered frame
    * hashes (hamming relations depend only on the hash sequence, so
    * identical sequences are interchangeable), one representative
    * per signature, members compose back post-join. Returns
    * (members(doc_id, rep_id, nf), repFh — the reps' frame rows,
    * counts(rep_id, nf)). members and repFh are pinned (one count
    * fills both): the composed pair plan reads members from three
    * subtrees, repFh from three and counts from two, and every
    * unpinned reference re-derived the signature aggregate chain —
    * the aligned key's plan carried 102 Exchange nodes at sf0.1.
    */
  private def clipStarFrames(
      fh: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val sigs = fh.groupBy("doc_id")
      .agg(xxhash64(concat_ws(",", sort_array(collect_list(
        concat_ws(":", col("frame_idx"), col("fhash")))))).as("sig"),
        count(lit(1)).as("nf"))
    val stars = sigs.groupBy("sig").agg(min(col("doc_id")).as("rep_id"))
    val members = sigs.join(stars, "sig")
      .select(col("doc_id"), col("rep_id"), col("nf"))
    // a rep is the member that is its own rep
    val repFh = Cached.pin(
      fh.join(members.where(col("doc_id") === col("rep_id")).select("doc_id"),
        "doc_id"),
      members)
    val counts = members.select(col("rep_id"), col("nf")).distinct()
    (members, repFh, counts)
  }

  /** Drop SATURATED band buckets — the scale-invariant twin of
    * [[cappedBandSelfJoin]]'s absolute cap, for banded frames whose
    * value distribution is structurally low-entropy (perceptual-hash
    * bit segments: real imagery has sky gradients and black borders,
    * so some 8-bit segments are near-constant corpus-wide, and a
    * near-constant segment's bucket is quadratic dead weight carrying
    * zero discrimination). A bucket is hot iff it holds more than
    * `frac` of its band's rows AND more than `floor` rows — the
    * fraction makes the rule scale-invariant (10× data, same
    * verdict), the floor keeps small corpora intact (at 15 fixture
    * rows every bucket exceeds any useful fraction). Band totals are
    * a 6-row aggregate broadcast back; the hot list is a broadcast
    * anti-join — no window over a band-sized partition (that window
    * would itself be the scale-killer at 100 TB).
    */
  /** Shared saturation thresholds: a bucket is "hot" above BOTH the
    * band-row fraction (scale-invariant) and the absolute floor
    * (keeps spec-sized corpora exact). One pair of constants for the
    * warp video op AND the perceptual pair/group family, so the
    * guard cannot drift across modalities.
    */
  private[operators] val SaturatedBucketFrac = 0.02
  private[operators] val SaturatedBucketFloor = 100L

  /** Band-saturation audit — the measure-don't-guess frame behind
    * [[dropSaturatedBuckets]], published as a query (the skewReport /
    * annRecall pattern): per pigeonhole band of a (id, hash64) frame,
    * how concentrated the value distribution actually is — bucket
    * count, top-bucket share in exact ppm (one integer division at
    * the end), and how many buckets (and rows) the shared saturation
    * thresholds would drop. THIS is the number that decides whether a
    * hash family needs the guard: a healthy family (simhash,
    * xxhash-mixed keys) shows top shares near uniform; a perceptual
    * family shows a band holding 20%+ of the corpus in one value.
    * Run it on a sample before configuring a 100 TB dedup pass.
    *
    * Plan: one (band_idx, band_val) count aggregate (map-side
    * combinable), a 6-row totals broadcast, one final 6-row group —
    * nothing after the first aggregate touches corpus-sized data.
    */
  def bandSaturation(hashes: DataFrame, maxHamming: Int = 5): DataFrame = {
    val (nBands, width, mask) = pigeonholeBands(maxHamming)
    val h = hashes.select(col(hashes.columns(1)).cast("long").as("h64"))
    val buckets = h.select(explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("h64"), b * width).bitwiseAND(mask)
            .as("band_val"))): _*)).as("bv"))
      .select(col("bv.band_idx"), col("bv.band_val"))
      .groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("n"))
    val totals = buckets.groupBy("band_idx")
      .agg(sum(col("n")).as("band_total"),
        count(lit(1)).as("n_buckets"), max(col("n")).as("top_bucket_rows"))
    val sat = col("n") > col("band_total") * SaturatedBucketFrac &&
      col("n") > SaturatedBucketFloor
    buckets.join(broadcast(totals), "band_idx")
      .groupBy("band_idx")
      .agg(max(col("n_buckets")).as("n_buckets"),
        max(col("band_total")).as("band_total"),
        max(col("top_bucket_rows")).as("top_bucket_rows"),
        sum(when(sat, 1L).otherwise(0L)).as("n_saturated"),
        sum(when(sat, col("n")).otherwise(0L)).as("rows_saturated"))
      .withColumn("top_share_ppm",
        expr("(top_bucket_rows * 1000000) div band_total"))
  }

  private def dropSaturatedBuckets(banded: DataFrame, valCol: String,
      frac: Double, floor: Long): DataFrame = {
    val totals = banded.groupBy("band_idx")
      .agg(count(lit(1)).as("band_total"))
    val hot = banded.groupBy("band_idx", valCol)
      .agg(count(lit(1)).as("bucket_n"))
      .join(broadcast(totals), "band_idx")
      .where(col("bucket_n") > col("band_total") * frac &&
        col("bucket_n") > floor)
      .select("band_idx", valCol)
    banded.join(broadcast(hot), Seq("band_idx", valCol), "left_anti")
  }

  /** Temporal-WARP-robust video near-dup pairs — the variant
    * [[videoDedupPairs]]' scaladoc names as its stated limitation:
    * index-aligned verification misses a copy trimmed from the front
    * or re-timed by dropped/inserted frames. Here candidates band on
    * frame CONTENT alone (the per-frame pigeonhole join with the
    * frame index demoted from join key to payload), each candidate
    * frame pair votes for its implied temporal shift
    * (`posA − posB`), the modal shift wins (ties break toward the
    * smallest — deterministic), and verification re-aligns the clips
    * AT THAT SHIFT: mean aligned-frame hamming ≤ `maxHamming` over
    * ≥ `minFrac` of the overlap window. Returns
    * (a_id, b_id, shift, avg_hamming, n_matched) with `shift`
    * oriented as a_id's frame index minus b_id's (negated when star
    * composition swaps the pair's orientation).
    *
    * Dropping frame_idx from the join key is what buys the recall,
    * and it is also the cost: a static/black frame shared by many
    * clips now lands every clip in one band bucket, so the join runs
    * through TWO guards — [[dropSaturatedBuckets]] first (measured:
    * the dHash's near-constant high-bit segments put ~25% of ALL
    * frames into one bucket per affected band at sf0.1, ~116M of the
    * 125M join pairs for zero discrimination; the fraction rule is
    * scale-invariant and cost the op 56 s → its post-fix wall), then
    * the SHARED [[cappedBandSelfJoin]] absolute cap (`bucketCap`
    * rows per (band_idx, band_hash) bucket, the minhash machinery —
    * one code path, one discipline). Recall degrades gracefully: a
    * true warped copy's frame pair agrees in EVERY band the noise
    * spares, so losing a saturated (hence uninformative) band almost
    * never loses the pair — the spec's trim fixture still aligns.
    * Votes are counted once per
    * distinct frame PAIR (a multi-band match is one vote), and a
    * candidate needs `minVotes` agreeing votes (default 2) before
    * verification runs — see the inline rationale. Same
    * exact-dup-first star reduction, decode-once pin, and member
    * composition as the aligned op ([[clipStarFrames]] — shared
    * code, the views cannot drift). A single-frame overlap still
    * surfaces a candidate but dies on the coverage gate, exactly as
    * in the aligned op.
    */
  def videoDedupPairsWarp(media: Dataset[MultimodalOps.MediaRow],
      maxHamming: Int = 5, minFrac: Double = 0.5,
      maxHashFrames: Int = 64, bucketCap: Int = 10000, minVotes: Int = 2,
      maxPixels: Long = MultimodalOps.DefaultMaxPixels): DataFrame = {
    val fh = Cached.pin(VideoOps.frameHashes(media, maxHashFrames, maxPixels).toDF()
      .select(col("docId").as("doc_id"), col("frameIdx").as("frame_idx"),
        col("fhash")))
    warpPairsFromFrameHashes(fh, maxHamming, minFrac, bucketCap, minVotes)
  }

  /** The warp machinery over a PRECOMPUTED (doc_id, frame_idx,
    * fhash) frame — split out so the randomized model spec can drive
    * it with synthetic hash corpora (no codec in the loop) and so a
    * caller with stored frame hashes (a [[perceptualIndex]]-style
    * artifact) skips the decode. `fh` should be pinned (the
    * videoDedupPairsWarp contract).
    */
  private[graft] def warpPairsFromFrameHashes(fh: DataFrame,
      maxHamming: Int, minFrac: Double, bucketCap: Int,
      minVotes: Int): DataFrame = {
    // the warp plan reads the pinned rep frame rows from FIVE subtrees
    // (band totals, the hot-bucket aggregate, the banded anti-join
    // input, and both verification sides)
    val (members, repFh, counts) = clipStarFrames(fh)
    val (nBands, width, mask) = pigeonholeBands(maxHamming)
    val bandCols = (0 until nBands).map(b => struct(lit(b).as("band_idx"),
      shiftright(col("fhash"), b * width).bitwiseAND(mask).as("band_hash")))
    val banded = repFh
      .select(col("doc_id"), col("frame_idx"),
        explode(array(bandCols: _*)).as("bv"))
      .select(col("doc_id"), col("bv.band_idx"), col("bv.band_hash"),
        col("frame_idx"))
    val informative = dropSaturatedBuckets(banded, "band_hash",
      SaturatedBucketFrac, SaturatedBucketFloor)
    val framePairs = cappedBandSelfJoin(informative, bucketCap)
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"),
        col("a.frame_idx").as("pa"), col("b.frame_idx").as("pb"))
      .distinct()
    val best = framePairs
      .groupBy(col("ra"), col("rb"), (col("pa") - col("pb")).as("shift"))
      .agg(count(lit(1)).as("votes"))
      // two INDEPENDENT frame pairs must agree on the shift before a
      // candidate reaches verification: a random band collision
      // (8-bit values over an 8-band explode produce millions at
      // corpus scale) almost never lands the same shift twice, while
      // any pair that could pass the coverage gate has ≥2 true
      // aligned frames, each an exact band match, hence ≥2 votes —
      // measured at sf0.1 this is the difference between verifying
      // ~2.6M random candidates and the real ones
      .where(col("votes") >= minVotes)
      .groupBy("ra", "rb")
      .agg(max(struct(col("votes"), (-col("shift")).as("negshift")))
        .as("m"))
      .select(col("ra"), col("rb"), (-col("m.negshift")).as("shift"))
    val va = repFh.select(col("doc_id").as("ra"),
      col("frame_idx").as("pa"), col("fhash").as("ha"))
    val vb = repFh.select(col("doc_id").as("rb"),
      col("frame_idx").as("pb"), col("fhash").as("hb"))
    val repPairs = best.join(va, "ra")
      .withColumn("pb", col("pa") - col("shift"))
      .join(vb, Seq("rb", "pb"))
      .groupBy("ra", "rb", "shift")
      .agg((sum(hamming(col("ha"), col("hb")).cast("long")) /
        count(lit(1))).as("avg_hamming"), count(lit(1)).as("n_matched"))
      .join(counts.select(col("rep_id").as("ra"), col("nf").as("na")), "ra")
      .join(counts.select(col("rep_id").as("rb"), col("nf").as("nb")), "rb")
      // frames of a span [0, na), of b [0, nb); at shift s the index
      // windows overlap on min(na, nb + s) − max(0, s) positions
      .withColumn("overlap",
        least(col("na"), col("nb") + col("shift")) -
          greatest(col("shift").cast("long"), lit(0L)))
      .where(col("avg_hamming") <= maxHamming &&
        col("n_matched") >= ceil(col("overlap") * lit(minFrac)))
      .select(col("ra"), col("rb"), col("shift"), col("avg_hamming"),
        col("n_matched"))
    val m = members.select(col("doc_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("rep_id").as("ra"), col("doc_id").as("da")), "ra")
      .join(m.select(col("rep_id").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"),
        when(col("da") <= col("db"), col("shift"))
          .otherwise(-col("shift")).as("shift"),
        col("avg_hamming"), col("n_matched"))
    val within = members.as("m1").join(members.as("m2"),
        col("m1.rep_id") === col("m2.rep_id") &&
          col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("a_id"), col("m2.doc_id").as("b_id"),
        lit(0).as("shift"), lit(0.0).as("avg_hamming"),
        col("m1.nf").as("n_matched"))
    cross.unionByName(within)
  }

  /** Perceptual-hash pairs from a PRECOMPUTED hash frame (first two
    * columns = id, 64-bit hash) — the public door for callers that
    * already decoded, e.g. [[graft.operators.MediaPipeline]]'s fused
    * profile pass or a stored [[perceptualIndex]]: the same
    * distinct-hash rep reduction + pigeonhole band join + member
    * composition as [[imageDedupPairs]]/[[audioDedupPairs]], without
    * re-decoding anything. Pins the two-column frame (the
    * composed plan reads it from six subtrees); callers must
    * pre-exclude degenerate hashes (the modality ops' `decoded` /
    * `hashValid` flags) — a stub hash would pair unrelated corrupt
    * payloads.
    */
  def perceptualPairsFrom(hashes: DataFrame, maxHamming: Int = 5,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    val h = Cached.pin(hashes.select(
      col(hashes.columns.head).cast("long").as("doc_id"),
      col(hashes.columns(1)).cast("long").as("h64")))
    perceptualPairs(h, "h64", maxHamming, maxBucketFrac)
  }

  /** Canonical GROUPS over perceptual near-duplicates — the media
    * member of the pairs→groups symmetry, over ANY precomputed
    * (id, hash64) frame: connected components on the distinct-hash
    * rep graph's band edges ([[simhashGroups]]' engine with the hash
    * column generalized), group_id = smallest reachable id. Callers
    * pre-exclude degenerate hashes (the [[perceptualPairsFrom]]
    * contract). A re-upload CHAIN — a~b~c where the endpoints drifted
    * past `maxHamming` — collapses to one group, which the pairwise
    * keep-first in [[MediaPipeline.curateMedia]] deliberately does
    * not do (stated there; this is the upgrade it points at).
    */
  def perceptualGroups(hashes: DataFrame, maxHamming: Int = 5,
      maxRounds: Int = 25,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    val h = Cached.pin(hashes.select(
      col(hashes.columns.head).cast("long").as("doc_id"),
      col(hashes.columns(1)).cast("long").as("h64")))
    val stars = h.groupBy("h64").agg(min(col("doc_id")).as("rep_id"))
    val members = h.join(stars, "h64").select(col("doc_id"), col("rep_id"))
    // the guard setting MUST match perceptualPairs' — the pairs view
    // and the groups view share one candidate frame or they drift
    val edges = hammingBandPairs(
      stars.select(col("rep_id").as("doc_id"), col("h64")), maxHamming,
      maxBucketFrac = maxBucketFrac)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val labels = connectedComponents(stars.select(col("rep_id")), edges,
      maxRounds)
    members.join(labels.withColumnRenamed("id", "rep_id"), "rep_id")
      .select(col("doc_id"), col("label").as("group_id"))
  }

  /** [[perceptualGroups]] over the real image decode — the group form
    * of [[imageDedupPairs]] (same hashes, same exclusion rule).
    */
  def imageDedupGroups(media: Dataset[MultimodalOps.MediaRow],
      maxHamming: Int = 5, maxRounds: Int = 25,
      maxPixels: Long = MultimodalOps.DefaultMaxPixels,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame =
    perceptualGroups(
      MultimodalOps.imageHashes(media, maxPixels)
        .where(col("decoded"))
        .select(col("docId"), col("dhash")),
      maxHamming, maxRounds, maxBucketFrac)

  /** Persist a snapshot's perceptual-hash index — the MEDIA twin of
    * [[writeBandIndex]] (r9 session 5): 16-byte (doc_id, h64) rows,
    * modality-agnostic (image dHashes, audio energy hashes, video
    * clip signatures — any 64-bit perceptual fingerprint). A
    * production crawl writes this once per snapshot; the next
    * snapshot dedups against it via [[perceptualDedupAgainst]]
    * WITHOUT re-decoding a single stored payload — decode is the
    * expensive stage for media (SURVEY §5b: the video family is
    * decode-bound), and the index turns the old corpus's share of it
    * into a scan of 16-byte rows.
    */
  def writePerceptualIndex(hashes: DataFrame, path: String): Unit =
    hashes.select(col(hashes.columns.head).cast("long").as("doc_id"),
      col(hashes.columns(1)).cast("long").as("h64"))
      .write.mode("overwrite").parquet(s"$path/hashes")

  /** Read a [[writePerceptualIndex]] artifact back as the index frame
    * [[perceptualDedupAgainst]] consumes.
    */
  def perceptualIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/hashes")

  /** Maintain a persisted perceptual-hash index across a re-crawl —
    * the [[updateBandIndex]] surgery applied to the MEDIA index:
    * `retractIds` drop from the stored 16-byte rows (one anti-join;
    * retracted payloads are never re-decoded — decode is the expensive
    * stage for media), `addedHashes` (the changed slice's freshly
    * decoded (doc_id, h64) rows — the only decode the epoch pays)
    * append. EXACT contract (fuzz-spec-asserted): perceptual hashing
    * is per-payload deterministic, so the surgered `hashes/` row SET
    * equals a scratch [[writePerceptualIndex]] over the post-diff
    * hash frame — bit-equal. `outPath` must differ from `indexPath`
    * (parquet cannot overwrite its own scan).
    */
  def updatePerceptualIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String, retractIds: DataFrame,
      addedHashes: DataFrame): Unit = {
    require(outPath != indexPath,
      s"updatePerceptualIndex cannot overwrite the index it reads ($indexPath)")
    val retract = retractIds
      .select(col(retractIds.columns.head).cast("long").as("doc_id"))
    spark.read.parquet(s"$indexPath/hashes")
      .join(retract, Seq("doc_id"), "left_anti")
      .unionByName(addedHashes.select(
        col(addedHashes.columns.head).cast("long").as("doc_id"),
        col(addedHashes.columns(1)).cast("long").as("h64")))
      .write.mode("overwrite").parquet(s"$outPath/hashes")
  }

  /** Index lifecycle audit — the READ-side health view of the
    * persisted index family (r9 verdict item #5: write and surgery
    * exist; this answers "how big is my index, how skewed are its
    * buckets, when do I compact" without scanning payloads). One row
    * per index: `(index_id, kind, n_rows, n_docs, n_bands,
    * saturated_rows, top_share_ppm)` where `saturated_rows` counts
    * rows in buckets past the shared saturation rule
    * (> [[SaturatedBucketFrac]] of their band AND >
    * `SaturatedBucketFloor` rows — q_band_saturation's integers) and
    * `top_share_ppm` is the hottest bucket's parts-per-million share
    * of its band. Kinds and their artifact layouts:
    * `band` → `path/bands` ([[writeBandIndex]]), `gram` → `path`
    * ([[writeGramIndex]]; no doc/bucket structure — rows only),
    * `perceptual` → `path/hashes` ([[writePerceptualIndex]]; banded
    * through the same default-budget pigeonhole schedule the query
    * path uses), `lsh` → `path/buckets`
    * ([[graft.operators.Similarity.writeLshIndex]]), `ann` →
    * `path/codes` ([[graft.operators.Similarity.writeAnnIndex]];
    * "buckets" are the IVF cells, so top_share_ppm IS the
    * inverted-list balance audit). Unknown kinds are refused loudly.
    *
    * Scale shape: each index contributes one scan + one
    * (band, bucket)-keyed aggregate — never the payload tables, never
    * a join between indexes; the per-index one-row frames union at
    * the end (|indexes| is config-sized).
    *
    * r12: two serve-geometry columns join the row —
    * `recommended_cells` and `probed_fraction_ppm` (zero for non-ann
    * kinds; for `ann` they are [[graft.operators.Similarity
    * .annGeometry]]'s √N recommendation and expected probed corpus
    * mass at the serve defaults), so "is the stored geometry stale"
    * is answered by the same audit query that answers "how big / how
    * skewed" — the retrain trigger the r11 verdict asked to exist as
    * behavior, not prose.
    */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      indexes: Seq[(String, String, String)]): DataFrame = {
    require(indexes.nonEmpty, "indexStats: no indexes given")
    val frames = indexes.map { case (id, kind, path) =>
      val (docs, banded): (DataFrame, Option[DataFrame]) = kind match {
        case "band" =>
          val b = spark.read.parquet(s"$path/bands")
          (b.select(col("doc_id")),
            Some(b.select(col("band_idx").cast("long").as("band_idx"),
              col("band_hash").cast("long").as("band_val"))))
        case "gram" =>
          (spark.read.parquet(path).select(lit(0L).as("doc_id")), None)
        case "perceptual" =>
          val h = spark.read.parquet(s"$path/hashes")
          val (nBands, width, mask) = pigeonholeBands(5)
          (h.select(col("doc_id")),
            Some(h.select(explode(array((0 until nBands).map(b =>
                struct(lit(b.toLong).as("band_idx"),
                  shiftright(col("h64"), b * width).bitwiseAND(mask)
                    .as("band_val"))): _*)).as("bv"))
              .select(col("bv.band_idx"), col("bv.band_val"))))
        case "lsh" =>
          val b = spark.read.parquet(s"$path/buckets")
          (b.select(col("vec_id").as("doc_id")),
            Some(b.select(col("table_id").cast("long").as("band_idx"),
              col("bucket").cast("long").as("band_val"))))
        case "winnow" =>
          // one logical band; bucket = the fingerprint itself, so the
          // top-share/saturation columns read as boilerplate
          // concentration (how many docs the hottest fingerprint sits
          // in — the fpCap audit)
          val f = spark.read.parquet(s"$path/fps")
          (f.select(col("doc_id")),
            Some(f.select(lit(0L).as("band_idx"),
              xxhash64(col("fp")).as("band_val"))))
        case "ann" =>
          val c = spark.read.parquet(s"$path/codes")
          (c.select(col("vec_id").as("doc_id")),
            Some(c.select(lit(0L).as("band_idx"),
              col("cell").cast("long").as("band_val"))))
        case other => throw new IllegalArgumentException(
          s"indexStats: unknown index kind '$other' for '$id' " +
            "(want band|gram|perceptual|lsh|ann|winnow)")
      }
      val counts =
        if (kind == "gram")
          docs.agg(count(lit(1)).as("n_rows"), lit(0L).as("n_docs"))
        else docs.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
      val bandStats = banded match {
        case None => counts.sparkSession.range(1)
          .select(lit(0L).as("n_bands"), lit(0L).as("saturated_rows"),
            lit(0L).as("top_share_ppm"))
        case Some(b) =>
          val buckets = b.groupBy("band_idx", "band_val")
            .agg(count(lit(1)).as("n"))
          val totals = buckets.groupBy("band_idx")
            .agg(sum(col("n")).as("band_total"))
          buckets.join(broadcast(totals), "band_idx")
            .agg(countDistinct(col("band_idx")).as("n_bands"),
              coalesce(sum(when(
                col("n") > col("band_total") * SaturatedBucketFrac &&
                  col("n") > SaturatedBucketFloor, col("n"))
                .otherwise(0L)), lit(0L)).as("saturated_rows"),
              coalesce(max(expr("(n * 1000000) div band_total")), lit(0L))
                .as("top_share_ppm"))
      }
      val geometry = kind match {
        case "ann" => graft.operators.Similarity.annGeometry(spark, path)
          .select(col("recommended_cells"), col("probed_fraction_ppm"))
        case _ => spark.range(1).select(
          lit(0L).as("recommended_cells"), lit(0L).as("probed_fraction_ppm"))
      }
      counts.crossJoin(bandStats).crossJoin(geometry)
        .select(lit(id).as("index_id"), lit(kind).as("kind"),
          col("n_rows"), col("n_docs"), col("n_bands"),
          col("saturated_rows"), col("top_share_ppm"),
          col("recommended_cells"), col("probed_fraction_ppm"))
    }
    frames.reduce(_.unionByName(_))
  }

  /** Incremental perceptual dedup of a NEW snapshot's hash frame
    * against a stored index: pairs (a_id, b_id, hamming ≤
    * `maxHamming`) where at least one side is new — within-new and
    * new-vs-indexed, never indexed-vs-indexed (the previous epoch's
    * output; recomputing it is the waste this avoids).
    *
    * EXACT contract, stronger than the minhash twin's: hamming
    * depends only on the stored hash values and the band schedule has
    * no bucketCap analog, so this output equals the joint-corpus
    * [[perceptualPairs]] run's at-least-one-new-side subset
    * bit-for-bit with NO divergence cases (round-trip spec-asserted
    * through the parquet artifact). Caller contract: doc_ids unique
    * across snapshots; hash frames pre-filtered to decoded rows (the
    * [[imageDedupPairs]] exclusion rule — a degenerate hash in the
    * index would pair unrelated corrupt files forever after).
    *
    * Plan: stored-hash scan union the new frame (pinned:
    * [[perceptualPairs]] reads it from six subtrees), the shared
    * rep-reduced band join, then the old-old
    * filter as two keyed left joins against the index's id column on
    * the candidate-pair frame (bounded), not the corpus.
    */
  def perceptualDedupAgainst(index: DataFrame, newHashes: DataFrame,
      maxHamming: Int = 5,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col(df.columns.head).cast("long").as("doc_id"),
        col(df.columns(1)).cast("long").as("h64"))
    val stored = norm(index)
    val union = Cached.pin(stored.unionByName(norm(newHashes)))
    val pairs = perceptualPairs(union, "h64", maxHamming, maxBucketFrac)
    val aOld = stored.select(col("doc_id").as("a_id"), lit(true).as("a_old"))
    val bOld = stored.select(col("doc_id").as("b_id"), lit(true).as("b_old"))
    pairs.join(aOld, Seq("a_id"), "left").join(bOld, Seq("b_id"), "left")
      .where(!(coalesce(col("a_old"), lit(false)) &&
        coalesce(col("b_old"), lit(false))))
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Shared distinct-hash rep reduction + band join + member
    * composition behind [[imageDedupPairs]] and [[audioDedupPairs]]:
    * hamming depends ONLY on the hash value, so the band join runs
    * over one representative per DISTINCT hash (on a
    * verbatim-duplicated corpus the bucket fan-out shrinks by the
    * clone factor squared) and member pairs compose back by two
    * bounded joins — within-star pairs at hamming 0, cross-star pairs
    * at their reps' hamming. Output is bit-for-bit the per-row
    * semantics. `hashes` must be a MATERIALIZED (doc_id, hashCol)
    * frame: the composed plan reads it from six subtrees.
    */
  private def perceptualPairs(hashes: DataFrame, hashCol: String,
      maxHamming: Int,
      maxBucketFrac: Double = SaturatedBucketFrac): DataFrame = {
    val stars = hashes.groupBy(hashCol)
      .agg(min(col("doc_id")).as("rep_id"))
    val members = hashes.join(stars, hashCol)
      .select(col("doc_id"), col("rep_id"))
    val repPairs = hammingBandPairs(
      stars.select(col("rep_id").as("doc_id"), col(hashCol)), maxHamming,
      maxBucketFrac = maxBucketFrac)
    val cross = repPairs
      .join(members.select(col("rep_id").as("a_id"),
        col("doc_id").as("da")), "a_id")
      .join(members.select(col("rep_id").as("b_id"),
        col("doc_id").as("db")), "b_id")
      .select(least(col("da"), col("db")).as("a_id"),
        greatest(col("da"), col("db")).as("b_id"), col("hamming"))
    val within = members.as("m1").join(members.as("m2"),
        col("m1.rep_id") === col("m2.rep_id") &&
          col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("a_id"), col("m2.doc_id").as("b_id"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** Exploded-feature set-overlap frame shared by [[jaccardPairs]]
    * and [[containmentPairs]]: one row per same-language candidate
    * pair (a_id < b_id, both under `bound`) carrying the distinct
    * `shingleLen`-gram intersection count and both set sizes — the
    * similarity measures are pure projections over it, so the two
    * operators cannot drift on the feature space.
    */
  private def setOverlap(documents: DataFrame, bound: Long,
      shingleLen: Int): DataFrame = {
    val docs = documents.where(col("doc_id") < bound)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.tokenize(col("text")),
        shingleLen, distinct = true)).as("tok"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    toks.as("a")
      .join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"), col("n_inter"),
        col("sa.n_tok").as("n_a"), col("sb.n_tok").as("n_b"))
  }

  /** Bounded brute-force Jaccard pairs over distinct `shingleLen`-gram
    * sets (1 = token sets) — the correctness baseline the oracle
    * checks; the scale path is [[minhashCandidates]]. Set algebra via
    * exploded-feature self-join (|A∩B| by join, sizes by groupBy),
    * restricted to doc_id < `bound` and same-language pairs. With
    * shingleLen = 3 this measures the same feature space minhash
    * signatures are built on (used by the recall spec). The division
    * is a single IEEE op on exact integer counts — bit-identical in
    * the oracle without rounding.
    */
  def jaccardPairs(documents: DataFrame, bound: Long = 300,
      threshold: Double = 0.8, shingleLen: Int = 1): DataFrame =
    setOverlap(documents, bound, shingleLen)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** Threshold-sensitivity audit for near-dup tuning: for each
    * candidate threshold, how many pairs clear it and how many docs
    * sit in at least one clearing pair — the curve an operator reads
    * BEFORE pinning the production Jaccard cutoff (too low merges
    * topically-similar docs, too high leaves boilerplate twins; the
    * elbow is corpus-specific, so it must be a query, not a constant).
    * Rides the same [[setOverlap]] feature frame as [[jaccardPairs]]
    * (bounded exact baseline, oracle-equal by construction); at scale
    * feed banded pairs to [[sweepFromPairs]] instead — e.g.
    * [[minhashExactVerifiedPairs]] at the sweep's minimum (keep that
    * minimum ≥0.7, where 16×4 banding recall still rounds to 1;
    * sweeping below it under-counts by the banding miss rate).
    */
  def dedupSweep(documents: DataFrame,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95),
      bound: Long = 300, shingleLen: Int = 1): DataFrame =
    sweepFromPairs(
      setOverlap(documents, bound, shingleLen)
        .select(col("a_id"), col("b_id"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
            .as("score")),
      "score", thresholds)

  /** The sweep stage over an ARBITRARY scored pair frame (`a_id`,
    * `b_id`, `scoreCol`) — measure-agnostic, so banded minhash pairs,
    * winnow overlaps, containment and perceptual hamming-similarity
    * frames all tune through the same door. Every threshold is a
    * broadcast constant: the pair frame fans out ×|thresholds| rows
    * into two keyed aggregates (pair count; distinct-doc count via a
    * 2-element explode) — no per-threshold rescan of the corpus, and
    * thresholds that nothing clears still emit a zero row (the curve
    * must show where it dies).
    */
  def sweepFromPairs(pairs: DataFrame, scoreCol: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)): DataFrame = {
    require(thresholds.nonEmpty, "sweepFromPairs needs at least one threshold")
    val spark = pairs.sparkSession
    import spark.implicits._
    val th = thresholds.toDF("threshold")
    val hit = pairs.join(broadcast(th), col(scoreCol) >= col("threshold"))
      .select(col("threshold"), col("a_id"), col("b_id"))
    val nPairs = hit.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("threshold"),
        explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Set CONTAINMENT pairs — |A∩B| / min(|A|, |B|) over the same
    * distinct-shingle feature space as [[jaccardPairs]]: the
    * asymmetric-size near-dup measure Jaccard is blind to (a short
    * document quoted whole inside a long one scores containment ≈ 1
    * but Jaccard ≈ |A|/|B| ≈ 0 — exactly the quote/subset duplication
    * a curation pass wants to catch; the min-normalized form is the
    * standard symmetric variant). Same bounded-baseline contract and
    * scale story as Jaccard: candidates at scale come from MinHash
    * banding; this is the exact measure applied inside buckets.
    */
  def containmentPairs(documents: DataFrame, bound: Long = 300,
      threshold: Double = 0.9, shingleLen: Int = 1): DataFrame =
    setOverlap(documents, bound, shingleLen)
      .withColumn("containment",
        col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))

  /** Per-document duplicated-span load: the fraction of a document's
    * word `n`-gram WINDOW POSITIONS whose n-gram also appears in at
    * least `minDocs` − 1 OTHER documents — the exact-substring
    * duplication diagnostic (how much of this doc is boilerplate the
    * corpus already has elsewhere?) that drives span-level dedup
    * decisions, where the pair operators ([[jaccardPairs]],
    * [[containmentPairs]]) only say WHICH docs overlap. Positions
    * count non-distinct: a doc that repeats a corpus-wide 4-gram ten
    * times carries ten duplicated windows. Returns
    * (doc_id, n_windows, n_dup_windows, dup_ratio) for every doc with
    * at least one window; the ratio is one IEEE division of exact
    * counts — bit-identical in the oracle.
    *
    * Scale shape: one shingle explode, a distinct-(doc, gram) pass to
    * find corpus-duplicated grams (an aggregate, shuffle O(distinct
    * grams)), then an equi-join of the positional explode against
    * that gram set and a per-doc count — no pairwise work anywhere,
    * so cost stays O(total windows) when the corpus grows 100×;
    * `hashGrams` is the same flag-gated xxhash64 shingle swap as
    * [[Curation.decontaminate]] (8-byte join/aggregate keys, the gram
    * string never materialized) for when the gram strings dominate
    * the shuffle — identical output short of a 2^-64-scale collision,
    * spec-asserted equal on the gate corpus.
    */
  def dupSpan(documents: DataFrame, n: Int = 4, minDocs: Int = 2,
      hashGrams: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions.{shingleKey, shingleStructs, tokenize}
    val key = shingleKey(col("z"), n, hashGrams)
    val sh = documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(shingleStructs(col("toks"), n)).as("z"))
      .select(col("doc_id"), key.as("gram"))
    val dup = sh.distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("gram"), lit(1).as("is_dup"))
    sh.join(dup, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(col("is_dup")).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
  }

  /** Maximal duplicated SPANS per document — the span-extraction step
    * behind exact-substring dedup (the published recipe: find every
    * maximal token range whose `n`-grams all recur elsewhere in the
    * corpus, then cut or down-weight those ranges). [[dupSpan]] says
    * HOW MUCH of a doc is corpus boilerplate; this says WHERE:
    * consecutive duplicated window positions are merged
    * (gaps-and-islands) into maximal runs, and a run of windows
    * p1..p2 covers tokens [p1, p2 + n − 1]. A position is duplicated
    * under the same rule as [[dupSpan]] — its gram appears in at
    * least `minDocs` documents (one shared distinct-gram aggregate
    * semantics, so the ratio view and the span view cannot disagree).
    * Returns one row per maximal span:
    * (doc_id, tok_start 0-based, n_span_tok, n_windows).
    *
    * Scale shape: inherits dupSpan's O(total windows) explode +
    * distinct-gram aggregate + equi-join; the merge itself is one
    * row_number window PARTITIONED BY doc_id over only the DUPLICATED
    * positions (parallelism = docs; per-partition input bounded by
    * doc length — never a global sort) plus an aggregate keyed by
    * (doc, island). No pairwise work anywhere. `hashGrams` is the
    * flag-gated xxhash64 gram-key swap ([[dupSpan]] doc;
    * spec-asserted identical output on the gate corpus).
    */
  def dupSpanMerge(documents: DataFrame, n: Int = 4, minDocs: Int = 2,
      hashGrams: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions.{shingleKey, shingleStructs, tokenize}
    val key = shingleKey(col("z"), n, hashGrams)
    val sh = documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(shingleStructs(col("toks"), n)).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"), key.as("gram"))
    val dup = sh.select(col("doc_id"), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("gram")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    sh.join(dup, Seq("gram"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("tok_start"),
        (max(col("pos")) - min(col("pos")) + lit(n)).cast("long").as("n_span_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "tok_start", "n_span_tok", "n_windows")
  }

  /** Span-level dedup TRANSFORMATION — the cut that [[dupSpan]]
    * diagnoses and [[dupSpanMerge]] locates, applied keep-one-copy
    * (the published exact-substring recipe removes every occurrence
    * of a duplicated substring but one): a window occurrence is
    * OWNED by the globally first (doc_id, pos) occurrence of its
    * gram; every other duplicated occurrence is cut-marked; a token
    * is removed iff EVERY window covering it is cut-marked (the
    * covered-by-all rule — boundary tokens shared with a unique or
    * owned window survive, so the cut is conservative at span
    * edges). The first doc carrying a span keeps it verbatim; later
    * verbatim copies lose it wholesale. Returns every doc:
    * (doc_id, text_clean, n_tok, n_cut_tok) — docs shorter than
    * `n` tokens (no windows) pass through unchanged.
    *
    * Scale shape: everything is keyed — and the gram-ownership step
    * is a partial-aggregable `min(struct(doc_id, pos))` per gram, NOT
    * a gram-partitioned window: a corpus-scale boilerplate gram (the
    * classic skew funnel — one license header in half the corpus)
    * collapses to one candidate per map partition before the shuffle
    * instead of sorting every occurrence in a single window task.
    * Ownership is then removed by an anti-join on the near-unique
    * (gram, doc_id, pos) key, which distributes the hot gram's
    * occurrences uniformly; the one remaining gram-keyed join
    * (occurrences ⨝ duplicated-gram set) is an equi-join AQE's
    * skew-join split handles — windows get no such help, which is
    * why the window formulation had to go. The kept-token index
    * explode is a bounded n× amplification of the window set, and
    * the text rebuild is one per-doc aggregate over sorted
    * (index, token) structs. No pairwise work. Like
    * [[graft.operators.Curation.tokenChunks]], the OUTPUT is
    * corpus-sized (text_clean materializes), so wall time tracks
    * output volume; consumers that only need the cut statistics
    * should drop text_clean.
    */
  def cutSpans(documents: DataFrame, n: Int = 4, minDocs: Int = 2): DataFrame = {
    import graft.functions.TextFunctions.{shingleFromStruct, shingleStructs, tokenize}
    val base = documents.select(col("doc_id"), col("text"),
      tokenize(col("text")).as("toks"))
    val sh = base.where(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(shingleStructs(col("toks"), n)).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"), shingleFromStruct(col("z"), n).as("gram"))
    // duplicated-gram detection AND ownership in ONE gram-keyed
    // aggregate (r9: was distinct → count → join → min → two
    // anti-joins, three more exchanges for the same answer): nd =
    // distinct docs per gram (the Expand-based distinct-agg — its 2×
    // row duplication is cheaper than the separate distinct shuffle
    // it replaces), o = the globally first (doc_id, pos) occurrence
    // (struct min is lexicographic = the old row_number owner, minus
    // the skew funnel). An occurrence survives iff its gram is not
    // duplicated (left join misses) or it IS the owner — one left
    // join on gram replaces both anti-joins, and the join probes the
    // same gram-keyed exchange the aggregate built.
    val gstats = sh.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(struct(col("doc_id"), col("pos"))).as("o"))
      .where(col("nd") >= minDocs)
      .select(col("gram"), col("o.doc_id").as("odoc"), col("o.pos").as("opos"))
    val unmarked = sh.join(gstats, Seq("gram"), "left")
      .where(col("odoc").isNull ||
        (col("doc_id") === col("odoc") && col("pos") === col("opos")))
      .select("doc_id", "pos")
    val keptIdx = unmarked
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("ti"))
      .distinct()
    val tokens = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("ti", "tok")))
    val rebuilt = tokens.join(keptIdx, Seq("doc_id", "ti"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("ti"), col("tok")))),
            x => x.getField("tok"))).as("clean"))
    base.select(col("doc_id"), col("text"),
      size(col("toks")).cast("long").as("n_tok"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_tok") < n, col("text"))
          .otherwise(coalesce(col("clean"), lit(""))).as("text_clean"),
        col("n_tok"),
        (col("n_tok") - when(col("n_tok") < n, col("n_tok"))
          .otherwise(coalesce(col("n_kept"), lit(0L)))).as("n_cut_tok"))
  }
}
