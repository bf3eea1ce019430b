package graft.operators

import graft.Cached
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{shingleStructs, tokenize}

/** Training-corpus curation operators (SURVEY.md §2B): benchmark
  * decontamination, deterministic domain-mix sampling, and sequence
  * packing — the steps between "cleaned corpus" and "training batches"
  * in an LLM data pipeline. All three are single declarative plans
  * with SQL oracles; every sampling decision is a content hash, never
  * an RNG, so reruns and the DuckDB oracle agree bit-for-bit.
  */
object Curation {

  /** Benchmark decontamination: flag training documents that share any
    * word `n`-gram with the benchmark set (docs with
    * `doc_id % benchmarkEvery == 0` stand in for an eval suite — the
    * public decontamination recipe is exactly this shape with 8-13
    * grams against held-out benchmarks). Returns one row per
    * CONTAMINATED training doc: (doc_id, n_hits) with n_hits = number
    * of DISTINCT benchmark n-grams the doc contains.
    *
    * Scale shape: shingles explode once, distinct to (doc, shingle),
    * then a keyed equi-join on the shingle string — shuffle is
    * O(distinct shingles), never docs × benchmark. The benchmark side
    * is usually small enough to broadcast; leaving the join strategy
    * to Catalyst/AQE keeps the same plan correct when the benchmark
    * set is itself huge. Shingling uses the codegen'd
    * [[graft.functions.TextFunctions.shingleStructs]] path (the
    * interpreted `transform` lambda measured ~10× slower at scale).
    */
  def decontaminate(documents: DataFrame, benchmarkEvery: Int = 10,
      n: Int = 4, hashShingles: Boolean = false): DataFrame = {
    // The 100 TB swap (flag-gated like the approx aggregates, and
    // driver-exercised as the rows-only q_decontaminate_hashed): join
    // on xxhash64 over the shingle's TOKEN FIELDS — the distinct +
    // join shuffle moves 8-byte keys instead of ~n-word strings, and
    // the concatenated string is never materialized at all (the hash
    // never reaches the output; only doc_id/n_hits survive).
    // Identical output short of a 2^-64-scale hash collision
    // (spec-asserted equal on the gate corpus); the default stays
    // exact-string so the DuckDB oracle mirrors it literally.
    val sh = shingleFrame(documents, n, hashShingles)
    val bench = sh.where(pmod(col("doc_id"), lit(benchmarkEvery)) === 0)
      .select(col("shingle")).distinct()
    sh.where(pmod(col("doc_id"), lit(benchmarkEvery)) =!= 0)
      .join(bench, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The decontamination report read from the BENCHMARK side — the
    * complement of [[decontaminate]] (which flags training docs):
    * for each benchmark document, how many training documents share
    * any of its n-grams and how many DISTINCT of its n-grams leak —
    * the "which eval items are compromised, and how badly" table a
    * decontamination pass actually ends with (an eval item with wide
    * leakage gets dropped from the suite; one isolated shared gram
    * may just be a common phrase). Returns
    * (bench_id, n_train_docs, n_shingles_hit) per benchmark doc with
    * any leakage.
    *
    * Same shingle frame and join shape as [[decontaminate]] — one
    * explode + distinct + keyed equi-join, shuffle O(distinct
    * shingles) — with the aggregate keyed by the benchmark doc: the
    * join carries (bench_id, train_id, shingle) triples, and the two
    * leakage measures are one distinct-count aggregate each.
    */
  def contamAttribution(documents: DataFrame, benchmarkEvery: Int = 10,
      n: Int = 4): DataFrame = {
    val sh = shingleFrame(documents, n, hashed = false)
    val bench = sh.where(pmod(col("doc_id"), lit(benchmarkEvery)) === 0)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    sh.where(pmod(col("doc_id"), lit(benchmarkEvery)) =!= 0)
      .join(bench, "shingle")
      .groupBy("bench_id")
      .agg(countDistinct(col("doc_id")).as("n_train_docs"),
        countDistinct(col("shingle")).as("n_shingles_hit"))
  }

  /** FUZZY decontamination (r9) — the near-duplicate leg the n-gram
    * passes lack: a training doc that paraphrases or lightly edits a
    * benchmark item shares high set-Jaccard with it even when no
    * single 4-gram survives verbatim. Published decontamination runs
    * both legs (exact n-gram overlap AND fuzzy/minhash near-dup);
    * [[decontaminate]] is the former, this is the latter: flag every
    * non-benchmark doc whose TRUE 3-shingle Jaccard against any
    * benchmark doc reaches `threshold`, via the exact-verified
    * minhash chain ([[Dedup.minhashExactVerifiedPairs]]'s
    * representative machinery) rather than an all-pairs scan.
    *
    * Exact-dup composition (the winnow/dedupGroups star pattern):
    * pairs run among md5(text) representatives; a rep side counts as
    * "benchmark" when its star contains ANY benchmark doc; flags
    * compose back to members — including the degenerate-but-critical
    * case of a training doc that is a VERBATIM copy of a benchmark
    * item (same star ⇒ flagged at jaccard 1.0 without any pair
    * existing). Returns (doc_id, max_jaccard) for flagged
    * NON-benchmark docs only.
    *
    * Oracle semantics: the DuckDB oracle computes TRUE Jaccard pairs
    * among representatives; equality rides the banding recall the
    * exactverify chain already spec-asserts (zero missed ≥0.8 pairs
    * on the gate corpus — the q_dedup_minhash_exactverify /
    * q_split_leakage contract, deviations documented there).
    * Scale shape inherited whole: stage-0 exact collapse, bucketed
    * LSH candidates, in-row set intersection; the composition adds
    * two star-sized joins.
    */
  def decontaminateFuzzy(documents: DataFrame, benchmarkEvery: Int = 10,
      threshold: Double = 0.8): DataFrame = {
    val docsH = documents.select(col("doc_id"), md5(col("text")).as("h"),
      (pmod(col("doc_id"), lit(benchmarkEvery)) === 0).as("is_bench"))
    val stars = docsH.groupBy("h").agg(min(col("doc_id")).as("rep_id"),
      max(col("is_bench").cast("int")).as("star_has_bench"))
    val members = docsH.join(stars, "h")
    val reps = documents.join(stars.select(col("rep_id").as("doc_id")), "doc_id")
    val pairs = Dedup.exactVerifiedFromReps(reps, threshold,
      numHashes = 64, bands = 16, shingleLen = 3, bucketCap = 10000)
    // side classification is STAR-level: a rep whose star contains a
    // benchmark doc is a benchmark side even when the rep id itself
    // is a training doc
    val repBench = stars.select(col("rep_id"),
      (col("star_has_bench") === 1).as("rb"))
    val nearByRep = pairs
      .join(repBench.select(col("rep_id").as("a_id"), col("rb").as("a_b")), "a_id")
      .join(repBench.select(col("rep_id").as("b_id"), col("rb").as("b_b")), "b_id")
      .where(col("a_b") =!= col("b_b"))
      .select(when(col("a_b"), col("b_id")).otherwise(col("a_id")).as("rep_id"),
        col("jaccard"))
      .groupBy("rep_id").agg(max(col("jaccard")).as("near_j"))
    members.where(!col("is_bench"))
      .join(nearByRep, Seq("rep_id"), "left")
      .where(col("star_has_bench") === 1 || col("near_j").isNotNull)
      .select(col("doc_id"),
        when(col("star_has_bench") === 1, lit(1.0d))
          .otherwise(col("near_j")).as("max_jaccard"))
  }

  /** Deterministic per-stratum uniform sample (r9) — the eval-set /
    * inspection-set constructor: exactly `k` docs per language (fewer
    * when the stratum is smaller), chosen by content-independent
    * salted id-hash order so the draw is uniform w.r.t. content,
    * rerun-stable, engine-reproducible, and independent of
    * [[TextOps.trainSplit]] / [[domainMix]] (different salt domain).
    * [[qualityTopK]] is the "best k per stratum" selection; this is
    * the "REPRESENTATIVE k per stratum" one.
    *
    * Plan: one rank window per lang over the salted hash — Spark 4
    * rewrites the rank-≤-k filter to two-level WindowGroupLimit, so
    * the exchange moves O(partitions × k) rows, never the corpus
    * (the qualityTopK audit covers the shape). Returns
    * (doc_id, lang, rnk) with rnk the 1-based in-stratum position.
    */
  def stratifiedSample(documents: DataFrame, k: Int = 10,
      salt: String = "strat"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val key = md5(concat_ws(":", lit(salt), col("doc_id").cast("string")))
    val w = Window.partitionBy("lang").orderBy(col("samp_key"), col("doc_id"))
    documents.select(col("doc_id"), col("lang"), key.as("samp_key"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("lang"), col("rnk"))
  }

  /** [[decontaminate]] with a Bloom-filter semi-join reduction — the
    * 100 TB shuffle shape: the benchmark shingle set is folded into a
    * compact Bloom filter (one driver-bounded build over the SMALL
    * side, the `pqCodebooks`/`trainProbe` eager-coordination
    * pattern), and the corpus side drops every shingle the filter
    * rejects BEFORE the distinct+join shuffle. A Bloom filter has no
    * false negatives, so the surviving candidates joined back to the
    * exact benchmark set produce output IDENTICAL to the exact
    * operator — false positives only cost shuffle bytes, never
    * correctness (spec-asserted equal even at fpp 0.5), which is why
    * the exact variant's DuckDB oracle verifies this one too.
    *
    * Why not rely on Spark's own runtime row-filtering: the AQE rule
    * injects bloom filters only for selective shuffle joins it can
    * prove at planning time and won't reach across the distinct
    * aggregate below the join; the operator-level filter always
    * fires, with `fpp` an explicit knob. Shuffle math at scale: the
    * join side shrinks from ALL corpus shingles to
    * |bench ∩ corpus| + fpp·|corpus| — at the default 3% that is a
    * ~30× reduction for a typical 1‰-contamination crawl.
    *
    * The filter probes xxhash64 of the shingle (8-byte key into the
    * Bloom lattice); the confirm join stays on the exact string, so
    * even a 2^-64 xxhash collision cannot corrupt the output — the
    * bloom can only ever pass extras that the exact join removes.
    */
  def decontaminateBloom(documents: DataFrame, benchmarkEvery: Int = 10,
      n: Int = 4, fpp: Double = 0.03): DataFrame = {
    graft.GraftFunctions.register(documents.sparkSession)
    val sh = shingleFrame(documents, n, hashed = false)
    // pinned: the benchmark side (eval-suite-sized by construction)
    // has three consumers (count, bloom build, confirm join), each of
    // which would re-run the scan+explode+distinct extraction
    val bench = Cached.pin(
      sh.where(pmod(col("doc_id"), lit(benchmarkEvery)) === 0)
        .select(col("shingle")).distinct())
    // an empty benchmark admits nothing — the literal-false prefilter
    // keeps the output schema and the empty result without a bloom
    val prefilter = benchmarkBloom(bench, fpp)
      .map(bytes => call_function("bloom_contains",
        lit(bytes), xxhash64(col("shingle"))))
      .getOrElse(lit(false))
    val candidates = sh
      .where(pmod(col("doc_id"), lit(benchmarkEvery)) =!= 0)
      .where(prefilter)
    candidates.join(bench, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The (doc_id, shingle) frame every decontamination-family
    * operator joins on — ONE definition (tokenize → length guard →
    * explode → key → distinct) so the four consumers (exact, bloom,
    * attribution, the streaming gate's benchmark side) cannot drift
    * from each other or their shared oracles.
    */
  private[graft] def shingleFrame(documents: DataFrame, n: Int,
      hashed: Boolean): DataFrame = {
    val key = graft.functions.TextFunctions.shingleKey(col("z"), n, hashed)
    documents
      .withColumn("toks", tokenize(col("text")))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), explode(shingleStructs(col("toks"), n)).as("z"))
      .select(col("doc_id"), key.as("shingle"))
      .distinct()
  }

  /** Driver-built Bloom filter over a `shingle`-column frame,
    * serialized for a `bloom_contains` literal; None on an empty
    * build side (Spark's stat.bloomFilter NPEs there, and an empty
    * benchmark means "nothing can match" — the callers' literal-false
    * leg). One definition for the batch reduction and the streaming
    * ingest gate.
    */
  private[graft] def benchmarkBloom(shingles: DataFrame,
      fpp: Double): Option[Array[Byte]] = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val nBench = shingles.count()
    if (nBench == 0) None
    else {
      val bf = shingles.select(xxhash64(col("shingle")).as("h"))
        .stat.bloomFilter("h", nBench, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      Some(bos.toByteArray)
    }
  }

  /** Semantic (embedding) decontamination — the OTHER public
    * decontamination recipe, complementing the n-gram overlap of
    * [[decontaminate]]: flag training vectors whose cosine similarity
    * to ANY benchmark vector (`vec_id % benchmarkEvery == 0` stands in
    * for the eval-suite embeddings) reaches `threshold`. Returns
    * (vec_id, n_hits, max_sim) per contaminated training vector.
    *
    * Shape: bipartite broadcast nested-loop join bounded by `bound`
    * rows per side (the benchmark side is small by construction — eval
    * suites are thousands of rows, the broadcast is exact); the cosine
    * is the native codegen `cosine_sim` kernel rounded to 4 dp before
    * the threshold, mirrored verbatim by the oracle's
    * list_cosine_similarity. NaN scores (zero-norm vectors) are
    * excluded EXPLICITLY — Spark orders NaN largest, so a bare
    * `>=` Column filter would keep what SQL drops. For an unbounded
    * corpus swap the exact join for the LSH-bucketed shape
    * ([[Similarity.nearDupPairsLsh]]) with the benchmark side
    * replicated into every table's buckets.
    */
  def semanticDecontaminate(embeddings: DataFrame, benchmarkEvery: Int = 10,
      threshold: Double = 0.35, bound: Long = 2000): DataFrame = {
    graft.GraftFunctions.register(embeddings.sparkSession)
    val e = embeddings.where(col("vec_id") < bound)
    val bench = e.where(pmod(col("vec_id"), lit(benchmarkEvery)) === 0)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val train = e.where(pmod(col("vec_id"), lit(benchmarkEvery)) =!= 0)
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"))
    train.crossJoin(broadcast(bench))
      .withColumn("cos_sim", round(expr("cosine_sim(t_emb, b_emb)"), 4))
      .where(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
      .groupBy(col("t_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos_sim")).as("max_sim"))
      .select(col("t_id").as("vec_id"), col("n_hits"), col("max_sim"))
  }

  /** The UNBOUNDED scale path of [[semanticDecontaminate]] — the
    * whole-corpus semantic decontamination a real curation run needs
    * (the bounded op checks its first `bound` vectors; this one checks
    * them all): benchmark vectors (`vec_id % benchmarkEvery == 0`)
    * become QUERIES against the persisted IVF-PQ index
    * ([[Similarity.writeAnnIndex]] at `indexPath`), served through
    * [[Similarity.annRangeFromIndex]] with the training side as the
    * candidate filter. A training vector is flagged when its REFINED
    * cosine (full-precision, 4-dp-rounded — the bounded baseline's
    * exact convention) to any benchmark query reaches `threshold`.
    * Output schema matches the baseline: (vec_id, n_hits, max_sim) per
    * contaminated training vector.
    *
    * Honest approximation contract: hits are a recall-bounded SUBSET
    * of the exact sweep — a training vector escapes only if it sits
    * outside every benchmark query's probed cells or below their ADC
    * rerank shortlists (recall vs the exact baseline on the bounded
    * slice is spec-measured in CurationSpec; raise nProbe/rerank to
    * tighten). Scale shape: no training-side cross join anywhere — the
    * corpus contributes its stored ~10-byte code rows to the
    * probed-cell join and full vectors only for the q×rerank
    * refinement fetch; the benchmark side broadcasts (eval suites are
    * thousands of rows).
    */
  def semanticDecontaminateAnn(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, embeddings: DataFrame, benchmarkEvery: Int = 10,
      threshold: Double = 0.35, nProbe: Int = 6, rerank: Int = 200,
      dim: Int = 64): DataFrame = {
    val isBench = pmod(col("vec_id"), lit(benchmarkEvery)) === 0
    Similarity.annRangeFromIndex(spark, indexPath, embeddings,
        queryPred = isBench, threshold = threshold, nProbe = nProbe,
        rerank = rerank, dim = dim,
        candidateFilter = Some(pmod(col("vec_id"), lit(benchmarkEvery)) =!= 0))
      .groupBy(col("n_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos_sim")).as("max_sim"))
      .select(col("n_id").as("vec_id"), col("n_hits"), col("max_sim"))
  }

  /** Deterministic domain-mix sampling: rebalance the corpus toward a
    * target per-language rate by keeping a doc iff its content hash
    * falls under the language's cutoff. The hash is
    * `md5(salt || text)` → first 8 hex chars → bucket in [0, 10000):
    * pure projection + filter, embarrassingly parallel, reproducible
    * across engines (the oracle mirrors it literally), and independent
    * of [[TextOps.trainSplit]]'s hash by the salt. Default mix
    * downsamples over-represented English to 35% and keeps the rest.
    *
    * At 100 TB this is the right shape for mix rebalancing: no
    * shuffle, no global count pass, no RNG state — the filter pushes
    * into the scan and the kept fraction converges to the rate by the
    * hash's uniformity.
    */
  def domainMix(documents: DataFrame,
      targets: Map[String, Double] = Map("en" -> 0.35),
      defaultRate: Double = 1.0, salt: String = "mix:"): DataFrame = {
    val bucket = graft.functions.TextFunctions.hashBucket(col("text"),
      10000, salt)
    // round, don't truncate: 0.0003 * 10000 is 2.9999999999999996 in
    // IEEE754 — toInt would under-admit ~6% of 4-decimal rates by one
    // bucket
    def cut(rate: Double): Int = math.round(rate * 10000).toInt
    val cutoff = targets.toSeq.sortBy(_._1).foldLeft(
      lit(cut(defaultRate))) { case (acc, (lang, rate)) =>
      when(col("lang") === lang, lit(cut(rate))).otherwise(acc)
    }
    documents
      .where(bucket < cutoff)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * bins, first-fit in doc_id order WITHIN a shard — a doc opens in
    * the bin its cumulative predecessor count points at
    * (`bin = tokens_before div budget`), the streaming-order packing a
    * sequential packer produces per shard. Returns per-bin occupancy:
    * (shard, bin, n_docs, sum_tokens).
    *
    * Packing is inherently sequential per output stream, so the
    * parallelism knob is EXPLICIT: `shards` independent streams
    * (doc_id mod shards), each packed by a window over its own
    * partition. At 100 TB set shards ≈ total cores — the window
    * shuffles once on the shard key and never sees a global sort,
    * unlike a naive single-stream cumsum (which would be the
    * single-partition scale-killer the plan audit checks for).
    */
  def packSequences(documents: DataFrame, budget: Int = 256,
      shards: Int = 32): DataFrame = {
    val d = documents.select(col("doc_id"),
      size(tokenize(col("text"))).cast("long").as("n_tok"),
      pmod(col("doc_id"), lit(shards)).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
  }

  /** Packing-efficiency audit — the measure-don't-guess frame for
    * [[packSequences]] (the [[Similarity.annRecall]] /
    * [[skewReport]] pattern applied to the packing step): per shard,
    * how many bins the first-fit stream opened, how much of the
    * nominal bin capacity is padding, and how many bins a
    * boundary-straddling document pushed past the budget. A training
    * run's step count and wasted FLOPs come straight off this frame,
    * so it is the number that decides whether the packing policy (or
    * the budget) needs to change — guessed fill rates routinely miss
    * short-document tails by 2×.
    *
    * All columns are integer-exact (the §6 determinism rule):
    * `fill_milli` is the shard's fill rate in milli-units computed by
    * one integer division at the end, and `pad_tokens` counts only
    * genuine padding (`GREATEST(budget − bin_tokens, 0)` — an
    * overflowing bin pads nothing). Scale shape: one aggregate over
    * packSequences' bin frame (bins ≈ tokens/budget rows, already
    * shuffled on the shard key) — nothing new touches the corpus.
    */
  def packStats(documents: DataFrame, budget: Int = 256,
      shards: Int = 32): DataFrame =
    packSequences(documents, budget, shards)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"),
        sum(greatest(lit(budget.toLong) - col("sum_tokens"), lit(0L)))
          .as("pad_tokens"),
        sum(when(col("sum_tokens") > budget, 1L).otherwise(0L))
          .as("n_overflow"))
      .withColumn("fill_milli",
        expr(s"(sum_tokens * 1000) div (n_bins * $budget)"))

  /** Token-budget selection: admit documents per language, in a
    * deterministic content-hash order, until the language's token
    * budget is reached — the "sample each domain to N tokens" step
    * that turns mixture WEIGHTS into an actual training corpus
    * (domainMix keeps a target *fraction*; this keeps a target token
    * *mass*). A doc is admitted iff the token count of all docs
    * ordered before it (hash bucket, then doc_id) is still under the
    * budget — so the output overshoots by at most one document, and
    * reruns/engines agree exactly (no RNG, no floating point).
    *
    * Scale shape — the naive form is a scale-killer and this is NOT
    * it: summing tokens over a window ordered by hash within each
    * language would SORT the whole corpus inside the largest language
    * partition (half of 100 TB in one sort, plus the skew). Instead
    * the plan is a two-level histogram cutoff, exact by construction:
    * (1) aggregate token mass per (lang, hash bucket) — at most
    * langs × 10 000 rows; (2) a running total over that TINY frame
    * finds each bucket's tokens-before; (3) broadcast it back —
    * buckets that start past the budget drop at the scan, so the rows
    * that reach the in-bucket window are bounded by the budgets
    * themselves (the admitted mass plus one boundary bucket's tail),
    * NOT by the corpus. One admission inequality covers both cases:
    * for a bucket entirely under the budget every in-bucket prefix is
    * under it too, so the window never changes those rows' fate and
    * only the boundary bucket's ordering actually matters. The oracle
    * states the semantics as the naive one-window SQL; this plan must
    * (and does) reproduce it bit-for-bit.
    */
  def tokenBudget(documents: DataFrame,
      budgets: Map[String, Long] = Map("en" -> 4000L),
      defaultBudget: Long = 2000L, salt: String = "budget:"): DataFrame = {
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (lang, b)) => when(col("lang") === lang, lit(b)).otherwise(acc)
    }
    val d = documents.select(col("doc_id"), col("lang"),
      size(tokenize(col("text"))).cast("long").as("n_tok"),
      graft.functions.TextFunctions.hashBucket(col("text"), 10000, salt)
        .as("bucket"))
    val hist = d.groupBy("lang", "bucket")
      .agg(sum(col("n_tok")).as("btok"))
    val wPrev = Window.partitionBy("lang").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("before", coalesce(sum(col("btok")).over(wPrev), lit(0L)))
      // only buckets that start under the budget can admit anything —
      // the broadcast side shrinks to the admitted prefix
      .where(col("before") < budgetCol)
    // the in-bucket first-fit window: its input is already budget-
    // bounded (only buckets with before < budget survive the join)
    val wIn = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(cum), Seq("lang", "bucket"))
      .withColumn("cumIn", sum(col("n_tok")).over(wIn))
      .where(col("before") + col("cumIn") - col("n_tok") < budgetCol)
      .select(col("doc_id"), col("lang"), col("n_tok"))
  }

  /** Token-window chunking — the context-window materialization step
    * (RAG indexing and fixed-length pretraining examples both consume
    * exactly this): each document becomes overlapping chunks of
    * `chunkLen` tokens starting every `stride` tokens (overlap =
    * chunkLen − stride), the final chunk truncating at the document
    * end. Emits (doc_id, chunk_id, tok_start, n_chunk_tok,
    * chunk_text) — deterministic, no RNG, so chunk identities are
    * stable across reruns (what makes an incremental RAG index
    * rebuildable).
    *
    * Scale shape: `sequence` + `explode` + `slice` are ordinary
    * codegen expressions evaluated per input row — zero shuffle, zero
    * joins; output volume is the controlled ~(1 + overlap/stride)×
    * amplification of the corpus and the operator runs at scan speed.
    * The window arithmetic (`sequence(0, n−1, stride)`, 1-based
    * truncating `slice`) is mirrored literally by the oracle's
    * `range(0, n, stride)` + list slicing.
    *
    * `withText = false` (r9) drops `chunk_text` — the boundaries-only
    * mode for consumers that rebuild an index or size a packing plan
    * and only need (doc_id, chunk_id, tok_start, n_chunk_tok): output
    * bytes fall from ~1.3× the corpus to a few long columns per
    * chunk, and wall time returns to scan speed (measured 1.3× at 10×
    * data vs 7.9× with text, SURVEY §5b). Chunk identities are
    * IDENTICAL in both modes — the text column is the only
    * difference, spec-asserted.
    */
  def tokenChunks(documents: DataFrame, chunkLen: Int = 32,
      stride: Int = 24, withText: Boolean = true): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"need 0 < stride <= chunkLen, got stride=$stride chunkLen=$chunkLen")
    val sliced = documents
      .select(col("doc_id"), tokenize(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as("tok_start"))
      .select(col("doc_id"),
        expr(s"tok_start div $stride").cast("long").as("chunk_id"),
        col("tok_start").cast("long").as("tok_start"),
        slice(col("toks"), col("tok_start") + 1, lit(chunkLen)).as("chunk"))
    val metaCols = Seq(col("doc_id"), col("chunk_id"), col("tok_start"),
      size(col("chunk")).cast("long").as("n_chunk_tok"))
    if (withText)
      sliced.select(metaCols :+ array_join(col("chunk"), " ").as("chunk_text"): _*)
    else sliced.select(metaCols: _*)
  }

  /** Cross-split near-duplicate leakage — the held-out-integrity audit
    * run after [[TextOps.trainSplit]]: near-duplicate document pairs
    * (true Jaccard ≥ `threshold`, the
    * [[Dedup.minhashExactVerifiedPairs]] chain) whose two sides land
    * in DIFFERENT train/val/test splits. A val/test doc with a
    * near-dup in train inflates eval scores exactly like benchmark
    * contamination; this emits each leaking pair with both split
    * labels so the audit can quantify and quarantine.
    *
    * EXACT duplicates cannot leak by construction — [[TextOps.splitOf]]
    * is a content hash, so identical texts always share a split —
    * which is why auditing the md5-REPRESENTATIVE pairs (what the
    * exact-verified chain emits) loses nothing: every member of an
    * exact-dup group carries its representative's split. Scale shape
    * inherits the verified-pairs chain (banded LSH, bucket-capped,
    * never all-pairs); the split labels join on doc_id — two keyed
    * equi-joins against a pair set that is tiny relative to the
    * corpus.
    */
  def splitLeakage(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    val pairs = Dedup.minhashExactVerifiedPairs(documents, threshold)
    val splits = documents.select(col("doc_id"), TextOps.splitOf().as("split"))
    pairs
      .join(splits.select(col("doc_id").as("a_id"), col("split").as("a_split")),
        "a_id")
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("b_split")),
        "b_id")
      .where(col("a_split") =!= col("b_split"))
      .select(col("a_id"), col("b_id"), col("a_split"), col("b_split"),
        col("jaccard"))
  }

  /** Quality-ranked selection: the top `k` documents per language by
    * stopword-ratio quality score — the "keep the best N per stratum"
    * selection step of a curation pass (the per-SOURCE aggregate view
    * is `TextOps.textQuality`; this is the per-DOC selection). The
    * score is one IEEE division of exact integer counts —
    * bit-identical in the DuckDB oracle with no rounding — and ties
    * break on doc_id, so the selected set is fully deterministic.
    *
    * Scale shape: row_number windowed by lang with the `rnk <= k`
    * filter directly above it — Spark 4 rewrites that into
    * WindowGroupLimit (per-partition top-k retained BEFORE the
    * shuffle), so the exchange moves O(partitions × k) rows, never
    * the corpus.
    */
  def qualityTopK(documents: DataFrame, k: Int = 20): DataFrame = {
    val toks = tokenize(col("text"))
    // explicit "en" lookup: stopwords' Seq ORDER is the lang-ID tie
    // preference — depending on head would silently change the score
    // (and break the oracle's hardcoded English list) on a reorder
    val enStopwords = graft.functions.TextFunctions.stopwords.toMap
      .apply("en")
    val scored = documents.select(col("doc_id"), col("lang"),
      (graft.functions.TextFunctions.stopwordCount(toks, enStopwords)
        .cast("double") /
        size(toks).cast("double")).as("q_score"))
    val w = Window.partitionBy("lang").orderBy(col("q_score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** CCNet-style perplexity bucketing: every scored document lands in
    * the `head`, `middle`, or `tail` THIRD of its language by LM
    * quality score (CCNet trains on head/middle and drops tail; the
    * score here is [[TextOps.unigramLogProb]]'s corpus-LM proxy —
    * higher = more fluent = head). The ORACLE semantics are the naive
    * per-lang global rank (row_number over score desc); the Spark
    * plan reproduces that rank EXACTLY without ever sorting the
    * corpus inside a language partition — the [[tokenBudget]]
    * histogram architecture applied to rank cutoffs:
    *
    * score bins of fixed width 0.25 nats (bin = floor(score · 4);
    * ×4 = ×2² is IEEE-EXACT, so both engines bin identically with no
    * rounding step) → per-(lang, bin) counts → running totals over
    * that TINY frame give each bin its global rank offset → the only
    * corpus-sized window partitions by the HIGH-CARDINALITY
    * (lang, bin) composite (the xrate-asof lesson: parallelism =
    * langs × bins, never capped at language count), and global rank =
    * bin offset + within-bin rank. Thirds via integer arithmetic
    * (rn·3 ≤ n), no division.
    */
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    // pinned: the plan reads the per-doc score frame from BOTH the
    // histogram path and the final rank join, and Catalyst does not
    // reuse the un-exchanged unigramLogProb subtree (measured 2.66 s
    // → 1.00 s at sf0.1)
    val scores = Cached.pin(TextOps.unigramLogProb(documents)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_logprob")))
    val binned = scores
      .withColumn("bin", floor(col("avg_logprob") * 4).cast("long"))
    val hist = binned.groupBy("lang", "bin").agg(count(lit(1)).as("c"))
    val wBins = Window.partitionBy("lang").orderBy(col("bin").desc)
    val cum = hist.withColumn("cum_before",
      coalesce(sum(col("c")).over(
        wBins.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bin"), col("cum_before"))
    val tot = hist.groupBy("lang").agg(sum(col("c")).as("n"))
    val wIn = Window.partitionBy("lang", "bin")
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    binned.join(cum, Seq("lang", "bin")).join(tot, "lang")
      .withColumn("rn", col("cum_before") + row_number().over(wIn))
      .select(col("doc_id"), col("lang"), col("avg_logprob").as("score"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR importance scoring (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169 — the published
    * recipe for "select raw data that LOOKS LIKE the target domain"):
    * every document gets log w(doc) = Σ_features tf·ln(p̂_target(f) /
    * p̂_raw(f)) over HASHED unigram+bigram features — the paper's
    * hashed n-gram bag, here md5-bucketed into `buckets` bins via the
    * engine-portable [[graft.functions.TextFunctions.hashBucket]].
    * Docs with `doc_id % targetEvery == targetRem` stand in for the
    * target domain (the [[decontaminate]] benchmark-stand-in
    * convention); both feature distributions are add-one smoothed
    * over the bucket space. Downstream resamples raw docs with
    * probability ∝ exp(log_weight) — high scores mean "distributed
    * like the target". Returns (doc_id, is_target, n_feat,
    * log_weight) for every doc with ≥1 feature.
    *
    * Determinism (the [[TextOps.unigramLogProb]] pattern): each
    * bucket's ln ratio is one double expression with pinned
    * association order, rounded to 6 dp, summed as DECIMAL × tf;
    * log_weight is the exact decimal sum cast to double (unscaled
    * ≪ 2^53 — exact in both engines). No final round (§5b).
    *
    * Scale shape: TWO pruned corpus passes — the unigram explode and
    * the bigram explode are distinct feature types that union into
    * the per-(doc, bucket) tf aggregate (both scans prune to
    * (doc_id, text); a single-pass form would need the interpreted
    * `transform` lambda on the shingle hot path, the measured-10×
    * regression §5b records). The target/raw bucket histograms and
    * their totals derive from THAT aggregate-sized frame (bounded by
    * `buckets`, not the corpus — no third pass), and the scoring
    * join keys on the bucket id against a frame of ≤ `buckets` rows,
    * which stats will broadcast at any corpus size. Shuffle O(docs ×
    * distinct-buckets-per-doc), all small frames bounded by
    * construction. Features come from the EMPTY-FILTERED token
    * stream ([[TextOps.bigramLogProb]]'s hygiene rule — whitespace
    * runs must not mint phantom features).
    */
  def dsirScore(documents: DataFrame, buckets: Int = 1024,
      targetEvery: Int = 10, targetRem: Int = 7): DataFrame = {
    val isTarget = col("doc_id") % targetEvery === targetRem
    // pinned: the plan reads the hashed-feature frame from BOTH the
    // global ratio aggregates and the final per-doc score join, and
    // the uni+bi feature explode would otherwise run twice (measured
    // 2.7 s → 1.6 s at sf0.1)
    val tf = Cached.pin(dsirFeatures(documents, buckets))
    val (ratio, _) = dsirRatio(tf, buckets, targetEvery, targetRem)
    tf.join(ratio, "b")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feat"),
        sum(col("tf").cast("decimal(10,0)") * col("lr")).as("sum_lw"))
      .select(col("doc_id"), isTarget.as("is_target"), col("n_feat"),
        col("sum_lw").cast("double").as("log_weight"))
  }

  /** The DSIR hashed-feature frame — (doc_id, b, tf) over unioned
    * unigram+bigram md5 buckets; the shared front half of
    * [[dsirScore]], [[dsirSelect]] and [[writeDsirIndex]] (one
    * definition, the serve leg cannot drift). Callers pin.
    */
  private[operators] def dsirFeatures(documents: DataFrame,
      buckets: Int): DataFrame =
    dsirFeatureRows(documents, buckets)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))

  /** One (carry..., doc_id, b) row per hashed feature OCCURRENCE —
    * the unaggregated form under [[dsirFeatures]], exposed so the
    * streaming gate ([[graft.streaming.StreamingOps
    * .dsirScoreDocStream]]) shares the exact feature construction
    * (carrying `ingest_ts` through) instead of re-implementing it —
    * one definition, the serve surfaces cannot drift.
    */
  private[graft] def dsirFeatureRows(documents: DataFrame, buckets: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    val carry = carryCols.map(col)
    val toks = filter(tokenize(col("text")), t => t =!= "")
    val uni = documents
      .select(carry :+ col("doc_id") :+ explode(toks).as("f"): _*)
      .where(col("f") =!= "")
    val bi = documents.where(size(toks) >= 2)
      .select(carry :+ col("doc_id") :+
        explode(shingleStructs(toks, 2)).as("z"): _*)
      .select(carry :+ col("doc_id") :+
        graft.functions.TextFunctions.shingleFromStruct(col("z"), 2)
          .as("f"): _*)
    uni.unionByName(bi)
      .select(carry :+ col("doc_id") :+
        graft.functions.TextFunctions.hashBucket(col("f"), buckets)
          .as("b"): _*)
  }

  /** The DSIR stand-in label rule — the SIGNED remainder
    * `doc_id % targetEvery == targetRem` (what [[dsirScore]] trains
    * and the DuckDB oracle computes), shared by the serve legs so the
    * served label cannot drift from the label the model was fit
    * under. NOT [[probeTargetExpr]]'s pmod: the two families'
    * conventions differ on negative ids, and each serve leg must
    * match ITS trainer.
    */
  private[graft] def dsirTargetExpr(docId: org.apache.spark.sql.Column,
      targetEvery: Int, targetRem: Int): org.apache.spark.sql.Column =
    docId % targetEvery === targetRem

  /** The per-bucket add-one-smoothed log importance ratio frame
    * (b, lr) plus the (nt, nr) totals frame, derived from a
    * [[dsirFeatures]] frame — the model half shared by the
    * self-trained score and the persisted index build.
    */
  private def dsirRatio(tf: DataFrame, buckets: Int, targetEvery: Int,
      targetRem: Int): (DataFrame, DataFrame) = {
    val isTarget = col("doc_id") % targetEvery === targetRem
    val bcnt = tf.select(col("b"), isTarget.as("t"), col("tf"))
      .groupBy("b", "t").agg(sum(col("tf")).as("c"))
    val byB = bcnt.groupBy("b").agg(
      sum(when(col("t"), col("c")).otherwise(0L)).as("ct"),
      sum(when(!col("t"), col("c")).otherwise(0L)).as("cr"))
    val tot = bcnt.agg(
      coalesce(sum(when(col("t"), col("c")).otherwise(0L)), lit(0L))
        .as("nt"),
      coalesce(sum(when(!col("t"), col("c")).otherwise(0L)), lit(0L))
        .as("nr"))
    val lr = dsirLrExpr(col("ct"), col("cr"), col("nt"), col("nr"), buckets)
    (byB.crossJoin(broadcast(tot)).select(col("b"), lr.as("lr")), tot)
  }

  /** The ONE smoothed log-ratio expression —
    * round₆(ln(((ct+1)/(nt+B)) / ((cr+1)/(nr+B)))) cast DECIMAL —
    * shared by the trained ratio rows and the serve leg's
    * unseen-bucket floor (ct = cr = 0 through the SAME pipeline, so
    * the floor is the expression's own value, not a second
    * driver-side libm formula).
    */
  private def dsirLrExpr(ct: org.apache.spark.sql.Column,
      cr: org.apache.spark.sql.Column, nt: org.apache.spark.sql.Column,
      nr: org.apache.spark.sql.Column, buckets: Int)
      : org.apache.spark.sql.Column =
    round(log(
      ((ct + 1).cast("double") / (nt + buckets).cast("double")) /
        ((cr + 1).cast("double") / (nr + buckets).cast("double"))), 6)
      .cast("decimal(12,6)")

  /** Persist the DSIR importance model — the ≤`buckets` (b, ct, cr)
    * COUNT rows (the monoid state surgery needs), the derived (b, lr)
    * ratio rows, and the (buckets, target_every, target_rem,
    * n_target, n_raw) meta row — as the DSIR member of the
    * train-once/serve-many family: the paper's deployment fits the
    * importance weights ONCE on a labeled sample and scores every
    * raw shard against them. Write order is the `writeLmArtifacts`
    * partial-write discipline: counts first, then ratio and meta
    * DERIVED FROM THE WRITTEN counts (a crash between writes cannot
    * leave a ratio inconsistent with its counts), meta last as the
    * commit marker. EAGER — the feature aggregate and all writes run
    * immediately.
    */
  def writeDsirIndex(documents: DataFrame, path: String,
      buckets: Int = 1024, targetEvery: Int = 10,
      targetRem: Int = 7): Unit = {
    val spark = documents.sparkSession
    val isTarget = dsirTargetExpr(col("doc_id"), targetEvery, targetRem)
    val counts = dsirFeatures(documents, buckets)
      .groupBy("b").agg(
        sum(when(isTarget, col("tf")).otherwise(0L)).as("ct"),
        sum(when(!isTarget, col("tf")).otherwise(0L)).as("cr"))
    writeDsirArtifacts(spark, path, counts, buckets, targetEvery, targetRem)
  }

  /** The write half shared by [[writeDsirIndex]] and
    * [[updateDsirIndex]]: counts land first; totals, the ratio rows
    * and meta all derive from the READ-BACK counts.
    */
  private def writeDsirArtifacts(spark: org.apache.spark.sql.SparkSession,
      path: String, counts: DataFrame, buckets: Int, targetEvery: Int,
      targetRem: Int): Unit = {
    counts.write.mode("overwrite").parquet(s"$path/counts")
    val stored = spark.read.parquet(s"$path/counts")
    val t = stored.agg(
      coalesce(sum(col("ct")), lit(0L)).as("nt"),
      coalesce(sum(col("cr")), lit(0L)).as("nr")).collect()(0)
    val (nt, nr) = (t.getAs[Long]("nt"), t.getAs[Long]("nr"))
    stored.select(col("b"),
        dsirLrExpr(col("ct"), col("cr"), lit(nt), lit(nr), buckets)
          .as("lr"))
      .write.mode("overwrite").parquet(s"$path/ratio")
    import spark.implicits._
    Seq((buckets, targetEvery, targetRem, nt, nr))
      .toDF("buckets", "target_every", "target_rem", "n_target", "n_raw")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Maintain a persisted DSIR model across a re-crawl — the
    * index-surgery leg, with the [[TextOps.updateLmIndex]] property:
    * per-bucket target/raw counts form an exact MONOID, so retract =
    * subtract, add = add, and the surgered index is BIT-EQUAL to a
    * scratch [[writeDsirIndex]] over the post-diff corpus
    * (spec-asserted) — not "equal under frozen artifacts", actually
    * equal, totals and fully-retracted buckets included. Pass the
    * retracted slice's DOCUMENTS (the [[snapshotDiff]] removed +
    * changed-old rows); only the changed slices are re-featurized,
    * the stored corpus contributes its ≤`buckets` count rows.
    */
  def updateDsirIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, outPath: String, retractDocs: DataFrame,
      addedDocs: DataFrame): Unit = {
    require(outPath != indexPath,
      s"updateDsirIndex cannot overwrite the index it reads ($indexPath)")
    val meta = spark.read.parquet(s"$indexPath/meta").collect()(0)
    val buckets = meta.getAs[Int]("buckets")
    val targetEvery = meta.getAs[Int]("target_every")
    val targetRem = meta.getAs[Int]("target_rem")
    val isTarget = dsirTargetExpr(col("doc_id"), targetEvery, targetRem)
    def delta(docs: DataFrame, sign: Int) =
      dsirFeatures(docs, buckets).groupBy("b").agg(
        (sum(when(isTarget, col("tf")).otherwise(0L)) * sign).as("ct"),
        (sum(when(!isTarget, col("tf")).otherwise(0L)) * sign).as("cr"))
    val counts = spark.read.parquet(s"$indexPath/counts")
      .unionByName(delta(retractDocs, -1))
      .unionByName(delta(addedDocs, 1))
      .groupBy("b").agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
      .where(col("ct") > 0 || col("cr") > 0)
    writeDsirArtifacts(spark, outPath, counts, buckets, targetEvery,
      targetRem)
  }

  /** Score a NEW snapshot under a persisted [[writeDsirIndex]] model:
    * the snapshot's hashed features LEFT-join the stored ≤`buckets`
    * ratio rows (broadcast at any corpus size), and a bucket the
    * frozen model never saw takes the add-one floor — [[dsirLrExpr]]
    * with ct = cr = 0 over the STORED totals, computed through the
    * identical rounded-ln pipeline (one single-row broadcast, no
    * driver libm). Scored docs play no part in the weights: two
    * snapshots served against one index are on one importance scale
    * (the [[lmScoreFrom]] property). Bit-for-bit equal to
    * [[dsirScore]] on the training corpus itself — every bucket the
    * training corpus hits has a stored row, so the floor never fires
    * on the round-trip (spec).
    *
    * Plan: one snapshot feature aggregate (the only corpus-sized
    * stage), one broadcast LEFT join, one broadcast of the floor row,
    * one per-doc DECIMAL aggregate — no ratio recomputation, no
    * training-corpus scan.
    */
  /** The stored [[writeDsirIndex]] serve frames — the ratio rows, the
    * single-row floor frame ([[dsirLrExpr]] with ct = cr = 0 over the
    * stored totals) and the model geometry. Shared by the batch serve
    * leg and the streaming [[graft.streaming.StreamingOps
    * .dsirScoreDocStream]] gate (the no-drift discipline).
    */
  private[graft] def readDsirServeFrames(
      spark: org.apache.spark.sql.SparkSession, indexPath: String)
      : (DataFrame, DataFrame, Int, Int, Int) = {
    val meta = spark.read.parquet(s"$indexPath/meta").collect()(0)
    val buckets = meta.getAs[Int]("buckets")
    // the floor derives from the ALREADY-collected meta row — no
    // second scan of the index (each footer read is a network round
    // trip on object-store paths); the expression pipeline is still
    // dsirLrExpr, so the floor equals a stored ct=cr=0 row bit-for-bit
    val floorRow = spark.range(1)
      .select(dsirLrExpr(lit(0L), lit(0L),
        lit(meta.getAs[Long]("n_target")), lit(meta.getAs[Long]("n_raw")),
        buckets).as("floor_lr"))
    (spark.read.parquet(s"$indexPath/ratio"), floorRow, buckets,
      meta.getAs[Int]("target_every"), meta.getAs[Int]("target_rem"))
  }

  def dsirScoreFrom(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame): DataFrame = {
    val (ratio, floorRow, buckets, targetEvery, targetRem) =
      readDsirServeFrames(spark, indexPath)
    dsirFeatures(newDocs, buckets)
      .join(ratio, Seq("b"), "left")
      .crossJoin(broadcast(floorRow))
      .select(col("doc_id"), col("tf"),
        coalesce(col("lr"), col("floor_lr")).as("lr"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feat"),
        sum(col("tf").cast("decimal(10,0)") * col("lr")).as("sum_lw"))
      .select(col("doc_id"),
        dsirTargetExpr(col("doc_id"), targetEvery, targetRem)
          .as("is_target"),
        col("n_feat"), col("sum_lw").cast("double").as("log_weight"))
  }

  /** DSIR's SELECTION step — the resampling that gives Data Selection
    * via Importance Resampling its name: the paper samples k raw
    * documents without replacement with probability ∝ exp(log_weight),
    * and the Gumbel-max trick makes that draw EXACTLY a top-k — add
    * independent Gumbel(0,1) noise to each log weight and keep the k
    * largest keys (the public Gumbel-top-k sampling result). The
    * "randomness" here is the engine's no-RNG convention applied to
    * sampling theory: u = (content-hash bucket + ½) / 10000 is a
    * deterministic uniform in (0,1), g = −ln(−ln u) its Gumbel
    * transform (ln is libm, engine-divergent in the last ulp → rounded
    * 6dp, the [[mixWeights]] pow lesson), so the selected set is
    * rerun- and engine-stable. Ties (identical text ⇒ identical key)
    * break by doc_id. Returns the k selected RAW docs:
    * (doc_id, log_weight, gumbel_key, rnk).
    *
    * Plan: [[dsirScore]]'s keyed aggregates, one doc_id equi-join to
    * fetch the content hash, then ONE rank window — Spark's two-level
    * WindowGroupLimit ships ≤ k rows per partition into the single
    * final stage (the q_ship_priority global-top-k shape), never the
    * corpus.
    */
  def dsirSelect(documents: DataFrame, k: Int = 50, buckets: Int = 1024,
      targetEvery: Int = 10, targetRem: Int = 7): DataFrame = {
    // materialize the DOC-sized score frame (one 4-column row per doc)
    // before filtering: the !is_target predicate would otherwise push
    // into the corpus scans and split dsirScore's tf subtree into
    // filtered + unfiltered instances — the whole feature explode ran
    // twice (measured 28.6 s vs dsirScore's 14.9 s at 10×; 18.2 s
    // after). Unlike the curate checkpoint this one is small by
    // construction: rows = docs, never docs × features
    val scored = dsirScore(documents, buckets, targetEvery, targetRem)
      .localCheckpoint(false)
      .where(!col("is_target"))
    val u = (graft.functions.TextFunctions.hashBucket(col("text"), 10000,
      "gum:").cast("double") + lit(0.5)) / lit(10000.0)
    val gum = documents.select(col("doc_id"),
      round(-log(-log(u)), 6).as("g"))
    val w = Window.orderBy(col("gumbel_key").desc, col("doc_id"))
    scored.join(gum, "doc_id")
      .withColumn("gumbel_key", col("log_weight") + col("g"))
      // rank(), not row_number(): identical under the doc_id tie-break
      // (the ordering is total), and it is the form Spark's
      // InferWindowGroupLimit rewrites for an UNPARTITIONED window in
      // this tree (row_number here kept the full-sort Filter+Window)
      .withColumn("rnk", rank().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "log_weight", "gumbel_key", "rnk")
  }

  /** Temperature-scaled language sampling weights — the published
    * multilingual mixing recipe (XLM-R / mT5 sample language ℓ with
    * probability ∝ (n_ℓ/N)^α, α ≈ 0.3): α = 1 is proportional
    * sampling (head languages drown the tail), α = 0 is uniform
    * (tail languages over-repeat); the temperature in between
    * flattens the head while keeping tail repetition finite. Per
    * language: doc/token mass, raw token share, the α-scaled
    * NORMALIZED sampling weight, and the implied per-doc admission
    * rate for a `budgetTokens` total (capped at 1 — a language
    * cannot supply more than it has; re-epoching the tail past rate
    * 1 is the training loop's decision, not this operator's). The
    * rates feed [[domainMix]]'s `targets` directly.
    *
    * Determinism (§5b): counts are exact integers and share is ONE
    * unrounded IEEE division; pow is a transcendental (libm differs
    * in the last ulp between engines) so it is rounded 6dp — the
    * rounding rule for values WITHOUT decimal structure — then summed
    * as exact DECIMAL so the normalizer is fold-order-free; the final
    * weight and rate are short fixed chains of IEEE ops on
    * bit-identical inputs, written in the same order as the oracle.
    * Zero-token languages get rate 0 explicitly (0/0 is NaN in Spark
    * but NULL-ish in SQL — the usual three-valued trap). Plan: one
    * lang-keyed aggregate over the corpus; everything after is
    * aggregate-sized (langs rows) on broadcast one-row frames.
    */
  def mixWeights(documents: DataFrame, alpha: Double = 0.3,
      budgetTokens: Long = 100000L): DataFrame = {
    val toks = org.apache.spark.sql.functions.filter(
      tokenize(col("text")), t => t =!= "")
    val perLang = documents
      .select(col("lang"), size(toks).cast("long").as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("tot"))
    val p = perLang.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("p6",
        round(pow(col("share"), lit(alpha)), 6).cast("decimal(18,6)"))
    val s = p.agg(sum(col("p6")).cast("decimal(28,6)").as("sp"))
    p.crossJoin(broadcast(s))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("share"),
        (col("p6").cast("double") / col("sp").cast("double"))
          .as("alpha_weight"),
        when(col("n_tokens") > 0,
          least(lit(1.0),
            col("p6").cast("double") / col("sp").cast("double")
              * lit(budgetTokens.toDouble) / col("n_tokens").cast("double")))
          .otherwise(lit(0.0)).as("admit_rate"))
  }

  /** Data-constrained EPOCH planning (r9 session 5 — the published
    * repeat-budget recipe for when the α-temperature target mix wants
    * MORE tokens from a source than it has: repeating unique data up
    * to ~4 epochs is near-free, beyond that it decays): per source,
    * its α-weight share of `budgetTokens` (the [[mixWeights]]
    * arithmetic on the source axis), the repeat factor
    * min(`maxEpochs`, desired/available) in exact milli units
    * (< 1000 = subsample, the admit-rate regime; > 1000 = repeat),
    * the effective tokens the plan actually yields, and the shortfall
    * the epoch cap leaves unrecoverable — the frame a training run
    * reads to decide whether to relax α, raise the cap, or go find
    * more data. Σ effective ≤ budget by construction (each source's
    * effective ≤ its desired share).
    *
    * Plan shape: one (source)-keyed token aggregate + two single-row
    * broadcasts — [[mixWeights]]' exact shape. Determinism (§5b):
    * the pow/round-6/DECIMAL-sum weight discipline shared with
    * mixWeights, then FLOORed integer token/milli outputs (one IEEE
    * chain in the same op order as the oracle — no round-mode traps).
    */
  def epochPlan(documents: DataFrame, alpha: Double = 0.3,
      budgetTokens: Long = 500000L, maxEpochs: Double = 4.0): DataFrame = {
    val toks = org.apache.spark.sql.functions.filter(
      tokenize(col("text")), t => t =!= "")
    val perSrc = documents
      .select(col("source"), size(toks).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("tot"))
    val p = perSrc.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("tot").cast("double"))
      .withColumn("p6",
        round(pow(col("share"), lit(alpha)), 6).cast("decimal(18,6)"))
    val s = p.agg(sum(col("p6")).cast("decimal(28,6)").as("sp"))
    p.crossJoin(broadcast(s))
      .withColumn("desired", col("p6").cast("double") /
        col("sp").cast("double") * lit(budgetTokens.toDouble))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        (col("p6").cast("double") / col("sp").cast("double"))
          .as("alpha_weight"),
        floor(col("desired")).cast("long").as("desired_tokens"),
        when(col("n_tokens") > 0,
          floor(least(lit(maxEpochs * 1000.0),
            col("desired") / col("n_tokens").cast("double") * lit(1000.0)))
            .cast("long"))
          .otherwise(lit(0L)).as("epochs_milli"),
        when(col("n_tokens") > 0,
          floor(least(col("n_tokens").cast("double") * lit(maxEpochs),
            col("desired"))).cast("long"))
          .otherwise(lit(0L)).as("effective_tokens"))
      .withColumn("shortfall_tokens",
        greatest(lit(0L), col("desired_tokens") - col("effective_tokens")))
  }

  /** Apply [[epochPlan]]'s repeat factors as an ACTUAL materialized
    * resample — the plan→apply symmetry [[mixWeights]]/[[mixApply]]
    * established, lifted to factors ABOVE 1: every document of source
    * s replicates ⌊epochs_s⌋ times plus one more iff its salted
    * content-hash bucket (mod 1000) falls under the fractional milli
    * remainder — so each source's expected token mass equals the
    * plan's effective_tokens exactly, each doc's copy count is
    * deterministic in its text alone (engine-portable, rerun-stable,
    * independent of the mixApply/domainMix/trainSplit salts), and the
    * subsample regime (epochs < 1) degrades to exactly mixApply's
    * hash-admission rule. Returns (doc_id, lang, source, epoch) with
    * epoch 1..n — the `epoch` column is what downstream shuffles/
    * packing use to keep replicas from colliding in dedup passes.
    *
    * Plan shape: the plan frame is sources-sized and broadcast; the
    * corpus side explodes a `sequence(1, n_copies)` per row in ONE
    * scan — no shuffle of documents; output mass is the plan's
    * Σ effective, by construction ≤ the budget.
    */
  def epochApply(documents: DataFrame, alpha: Double = 0.3,
      budgetTokens: Long = 500000L, maxEpochs: Double = 4.0,
      salt: String = "epochapply:"): DataFrame = {
    val plan = epochPlan(documents, alpha, budgetTokens, maxEpochs)
      .select(col("source"), col("epochs_milli"))
    val bucket = graft.functions.TextFunctions.hashBucket(col("text"),
      1000, salt)
    documents
      .join(broadcast(plan), "source")
      .withColumn("n_copies",
        (col("epochs_milli") / lit(1000L)).cast("long") +
          when(bucket < pmod(col("epochs_milli"), lit(1000L)), 1L)
            .otherwise(0L))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
  }

  /** Apply [[mixWeights]]'s admission rates as an ACTUAL corpus
    * resample — the step the mixture recipe ends with: every document
    * of language ℓ is admitted iff its content-hash bucket falls
    * under ℓ's rate, so the surviving corpus token mass approaches
    * the α-temperature target mix. Returns the admitted
    * (doc_id, lang, source) rows.
    *
    * The admission decision is the same engine-portable primitive as
    * [[domainMix]] — `hashBucket(text) < floor(rate·10⁴ + ½)` — but
    * with rates COMPUTED from the corpus rather than passed in, and a
    * distinct salt so this sample is independent of domainMix's and
    * of the train/val/test split. The cutoff math is a short IEEE
    * chain on the already-§5b-deterministic admit_rate, written in
    * the same op order as the oracle (floor(x+½), not round — one
    * rule both engines implement identically on doubles).
    *
    * Plan shape: the rates frame is langs-sized and force-broadcast,
    * so the corpus side admits in ONE scan with no shuffle of
    * documents; the rate computation itself is [[mixWeights]]'s
    * lang-keyed aggregate (a second, earlier scan — inherent to
    * "statistics, then filter" recipes; at 100 TB the stats scan
    * reads only (lang, text-length) and the filter scan streams).
    */
  def mixApply(documents: DataFrame, alpha: Double = 0.3,
      budgetTokens: Long = 100000L,
      salt: String = "mixapply:"): DataFrame = {
    val rates = mixWeights(documents, alpha, budgetTokens)
      .select(col("lang"),
        floor(col("admit_rate") * 10000d + 0.5d).cast("long").as("cutoff"))
    val bucket = graft.functions.TextFunctions.hashBucket(col("text"),
      10000, salt)
    documents
      .join(broadcast(rates), "lang")
      .where(bucket < col("cutoff"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Driver-trained logistic quality probe — the published
    * "quality classifier" recipe (GPT-3/LLaMA-line pipelines score
    * every document with a small linear model trained to separate a
    * trusted corpus from the raw crawl; CCNet ships the same idea as
    * a fastText model): features are [[TextOps.hashEmbed]]'s
    * unit-norm hashed token counts (model-free, `dim` buckets), the
    * model is full-batch logistic regression trained IN THE DRIVER on
    * a bounded sample — the `sampleBound` documents with the smallest
    * `xxhash64(doc_id)`, NOT an id prefix: at 100 TB the low ids are a
    * time/source-ordered slice, and a probe trained on a prefix would
    * silently model one shard of the corpus (the [[
    * graft.operators.Similarity.pqCodebooks]] sampling rule; sample
    * span is spec-asserted). Collected rows are sorted by doc_id so
    * the gradient fold order — and therefore every weight — is
    * deterministic. The corpus is then scored DISTRIBUTEDLY with the
    * trained weights embedded as one float-array literal through the
    * codegen `dot_f32` kernel — constant-size driver traffic, the
    * same train-small/score-everywhere pattern as the PQ codebooks
    * and learned IVF centroids. Positives default to the
    * `doc_id % targetEvery == targetRem` stand-in (the
    * [[dsirScore]] convention); production use swaps in real labels.
    * If the sample lacks both classes the probe degrades loudly-but-
    * safely to the untrained prior (w = 0 → score 0.5 everywhere)
    * rather than crashing a 100 TB run. Returns
    * (doc_id, is_target, score) with score = sigmoid(w·x + b)
    * rounded 6dp then clamped into [1e-6, 1 − 1e-6]: round(·, 6)
    * saturates to exactly 0.0/1.0 once |z| > ~14.5, and a
    * well-separated real-label corpus WILL push weights there — the
    * clamp keeps the documented strictly-in-(0,1) contract (and every
    * log(score) a downstream filter takes) safe at any separation.
    *
    * EAGER BY CONSTRUCTION — calling this (or [[trainProbe]]) runs
    * Spark jobs immediately: training must collect the sample before
    * the scoring plan can embed the weights as a literal. Every other
    * operator in this library is lazy; pipelines that build plans
    * up-front should call [[trainProbe]] once and reuse its weights
    * via [[scoreWithProbe]] (which IS lazy, and never retrains).
    *
    * The synthetic gate corpus carries no true class signal, so the
    * spec asserts the MECHANISM: deterministic weights, in-sample
    * separation (a 64-feature model separates the bounded sample),
    * scores in (0,1) — not generalization, which only real labels
    * can provide.
    */
  def probeScore(documents: DataFrame, dim: Int = 64,
      targetEvery: Int = 10, targetRem: Int = 7,
      sampleBound: Long = 5000, iters: Int = 300,
      step: Double = 1.0, l2: Double = 1e-3): DataFrame = {
    val (w, b) = trainProbe(documents, dim, targetEvery, targetRem,
      sampleBound, iters, step, l2)
    scoreWithProbe(documents, w, b, dim, targetEvery, targetRem)
  }

  /** The EAGER training half of [[probeScore]]: collects the bounded
    * hash-ordered sample and runs full-batch gradient descent in the
    * driver, returning (weights, bias) — constant-size state a caller
    * can persist and reuse across corpora without retraining.
    */
  def trainProbe(documents: DataFrame, dim: Int = 64,
      targetEvery: Int = 10, targetRem: Int = 7,
      sampleBound: Long = 5000, iters: Int = 300,
      step: Double = 1.0, l2: Double = 1e-3): (Array[Double], Double) = {
    graft.GraftFunctions.register(documents.sparkSession)
    // sample FIRST (top-N over the raw two-column projection), embed
    // the ~sampleBound surviving rows after: hashEmbed's tokenize +
    // explode + two aggregates must run over the sample, not the
    // corpus — sampling the embedded frame would tokenize 100 TB to
    // keep 5000 rows (the round-7 shape this replaces)
    // embeddable docs only: hashEmbed drops a doc whose every token is
    // empty (null / "" / all-spaces text), so an unfiltered sample
    // would spend hash-ordered slots on docs that produce zero
    // training rows — the effective sample would silently shrink below
    // sampleBound while embeddable docs exist. The predicate is a
    // scan-level filter; the O(scan) sampling shape is unchanged.
    val sampleDocs = Sampling.hashOrdered(
      documents.select(col("doc_id"), col("text"))
        .where(col("text").isNotNull && trim(col("text")) =!= ""),
      "doc_id", sampleBound)
    val sample = TextOps.hashEmbed(sampleDocs, dim)
      .select(col("doc_id"), col("embedding")).collect()
      .sortBy(_.getAs[Long]("doc_id"))
      .map { r =>
        val x = r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray
        val y = if (r.getAs[Long]("doc_id") % targetEvery == targetRem) 1.0
          else 0.0
        (x, y)
      }
    val nPos = sample.count(_._2 == 1.0)
    val w = new Array[Double](dim)
    var b = 0.0
    if (nPos > 0 && nPos < sample.length) {
      val n = sample.length.toDouble
      for (_ <- 0 until iters) {
        val gw = new Array[Double](dim)
        var gb = 0.0
        sample.foreach { case (x, y) =>
          var z = b
          var i = 0
          while (i < dim) { z += w(i) * x(i); i += 1 }
          val p = 1.0 / (1.0 + math.exp(-z))
          val d = p - y
          i = 0
          while (i < dim) { gw(i) += d * x(i); i += 1 }
          gb += d
        }
        var i = 0
        while (i < dim) { w(i) -= step * (gw(i) / n + l2 * w(i)); i += 1 }
        b -= step * gb / n
      }
    }
    (w, b)
  }

  /** The LAZY scoring half of [[probeScore]]: embeds pre-trained
    * weights as one float-array literal through the codegen `dot_f32`
    * kernel — zero jobs at construction, zero exchanges beyond
    * [[TextOps.hashEmbed]]'s own.
    */
  def scoreWithProbe(documents: DataFrame, w: Array[Double], b: Double,
      dim: Int = 64, targetEvery: Int = 10, targetRem: Int = 7): DataFrame = {
    graft.GraftFunctions.register(documents.sparkSession)
    require(w.length == dim, s"weights dim ${w.length} != features dim $dim")
    TextOps.hashEmbed(documents, dim)
      .select(col("doc_id"),
        probeTargetExpr(col("doc_id"), targetEvery, targetRem)
          .as("is_target"),
        probeScoreExpr(col("embedding"), w, b).as("score"))
  }

  /** The ONE probe scoring expression — sigmoid(w·x + b) through the
    * codegen `dot_f32` kernel, 6-dp rounded then clamped strictly
    * into (0, 1) — shared by the batch serve leg and the streaming
    * ingest gate (the gate/audit no-drift discipline: two surfaces,
    * one definition).
    */
  private[graft] def probeScoreExpr(embedding: org.apache.spark.sql.Column,
      w: Array[Double], b: Double): org.apache.spark.sql.Column = {
    val wLit = typedLit(w.map(_.toFloat).toSeq)
    least(greatest(
      round(lit(1.0) / (lit(1.0) +
        exp(-(call_function("dot_f32", embedding, wLit)
          .cast("double") + lit(b)))), 6),
      lit(1e-6)), lit(1.0 - 1e-6))
  }

  /** The stand-in label rule (`doc_id % targetEvery == targetRem`),
    * shared for the same no-drift reason. */
  private[graft] def probeTargetExpr(docId: org.apache.spark.sql.Column,
      targetEvery: Int, targetRem: Int): org.apache.spark.sql.Column =
    pmod(docId, lit(targetEvery)) === lit(targetRem)

  /** Persist the trained quality probe — the [[trainProbe]] weights,
    * bias and the feature/label geometry they were fit under — as the
    * probe family's train-once/serve-many artifact (the
    * `writeLmIndex` / `writeBpeIndex` / `writeAnnIndex` discipline
    * applied to the classifier): a production pipeline fits the
    * quality model on ONE labeled sample and scores every later crawl
    * snapshot against the frozen weights, so snapshots land on one
    * comparable score scale (re-training per snapshot moves the scale
    * under the thresholds). Layout: `weights/` holds dim
    * (feature, weight) rows; `meta/` holds one
    * (bias, dim, target_every, target_rem) row and is written LAST —
    * the commit marker: a reader that finds meta but a weight frame
    * whose row count disagrees with `dim` sees a loud require, never
    * a silently truncated model ([[readProbeArtifacts]]).
    *
    * EAGER — training collects the bounded hash-ordered sample
    * ([[trainProbe]]'s contract) and the write runs immediately.
    */
  def writeProbeIndex(documents: DataFrame, path: String, dim: Int = 64,
      targetEvery: Int = 10, targetRem: Int = 7,
      sampleBound: Long = 5000, iters: Int = 300,
      step: Double = 1.0, l2: Double = 1e-3): Unit = {
    val (w, b) = trainProbe(documents, dim, targetEvery, targetRem,
      sampleBound, iters, step, l2)
    val spark = documents.sparkSession
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wt, i) => (i, wt) }
      .toDF("feature", "weight")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    Seq((b, dim, targetEvery, targetRem))
      .toDF("bias", "dim", "target_every", "target_rem")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The stored [[writeProbeIndex]] model, with the loud
    * partial-write guard: the weight frame's row count must equal the
    * meta row's `dim` (a crash between the two writes, or a reader
    * pointed at a half-copied index, fails here instead of scoring
    * 100 TB under a truncated model). Constant-size driver traffic —
    * dim + 1 rows. Shared by the batch serve leg and the streaming
    * ingest gate.
    */
  private[graft] def readProbeArtifacts(
      spark: org.apache.spark.sql.SparkSession, indexPath: String)
      : (Array[Double], Double, Int, Int, Int) = {
    val meta = spark.read.parquet(s"$indexPath/meta").collect()(0)
    val dim = meta.getAs[Int]("dim")
    val rows = spark.read.parquet(s"$indexPath/weights").collect()
    require(rows.length == dim,
      s"probe index at $indexPath holds ${rows.length} weights but " +
        s"meta declares dim=$dim (partial write or corrupted copy)")
    val w = new Array[Double](dim)
    rows.foreach(r => w(r.getAs[Int]("feature")) = r.getAs[Double]("weight"))
    (w, meta.getAs[Double]("bias"), dim,
      meta.getAs[Int]("target_every"), meta.getAs[Int]("target_rem"))
  }

  /** Score a NEW snapshot under a persisted [[writeProbeIndex]] model
    * — the serve half of the probe family: the stored weights ride as
    * one float-array literal through the codegen `dot_f32` kernel
    * (the [[scoreWithProbe]] plan verbatim), so the serve path
    * contains NO sampling sort, NO gradient iterations and NO scan of
    * the index parquet — its only jobs are the two constant-size
    * artifact reads at plan-build time. Scored snapshots play no part
    * in the weights: two crawls served against one index are on one
    * scale (the [[lmScoreFrom]] property, which is the point of
    * persisting the model at all). Bit-for-bit equal to
    * [[probeScore]] run with the same geometry on the training corpus
    * (round-trip spec).
    */
  def probeScoreFrom(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame): DataFrame = {
    val (w, b, dim, targetEvery, targetRem) =
      readProbeArtifacts(spark, indexPath)
    scoreWithProbe(newDocs, w, b, dim, targetEvery, targetRem)
  }

  /** Classifier accuracy AUDIT over a scored frame — the probe
    * family's "measure, don't guess" member (the
    * [[graft.operators.Similarity.annRecall]] /
    * [[graft.operators.TextOps.langConfusion]] analog): one row of
    * exact confusion counts at `threshold` plus the tie-corrected
    * rank AUC, computed distributedly from the
    * (doc_id, is_target, score) frame [[probeScore]] /
    * [[probeScoreFrom]] emit.
    *
    * AUC is the Mann-Whitney form with average ranks on ties: scores
    * aggregate to per-distinct-score (c_pos, c_neg) counts FIRST, so
    * the one unpartitioned cumulative window runs over a frame
    * bounded by the score codomain (scores are 6-dp rounded into
    * [1e-6, 1−1e-6] — ≤ 1e6 rows by construction, never corpus-sized).
    * All rank algebra stays in exact integers/decimals
    * (2·Σranks_pos = Σ c_pos·(2·below + c + 1) avoids the half-rank
    * fraction); the final AUC and the ppm metrics are single
    * divisions of exact values. Degenerate inputs stay defined:
    * one-class frames yield NULL auc (nullif), an empty positive
    * prediction set yields NULL precision_ppm.
    *
    * Returns one row: (n_pos, n_neg, tp, fp, fn, tn, precision_ppm,
    * recall_ppm, f1_ppm, auc).
    */
  def probeEval(scored: DataFrame, threshold: Double = 0.5): DataFrame = {
    val byScore = scored.groupBy(col("score"))
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("c_neg"))
      .withColumn("c", col("c_pos") + col("c_neg"))
    val cum = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byScore
      .withColumn("below", sum(col("c")).over(cum) - col("c"))
    // coalesce(·, 0): a global aggregate over zero rows yields NULL
    // sums — an empty scored frame (a pruned scan upstream) must
    // report zeros, not nulls (the dataQuality empty-input contract)
    val agg = ranked.agg(
      coalesce(sum(col("c_pos")), lit(0L)).as("n_pos"),
      coalesce(sum(col("c_neg")), lit(0L)).as("n_neg"),
      coalesce(sum(when(col("score") >= threshold, col("c_pos"))
        .otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("score") >= threshold, col("c_neg"))
        .otherwise(0L)), lit(0L)).as("fp"),
      coalesce(sum(col("c_pos").cast("decimal(38,0)") *
          (lit(2L) * col("below") + col("c") + lit(1L))
            .cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("two_rank_pos"))
    agg.select(
      col("n_pos"), col("n_neg"), col("tp"), col("fp"),
      (col("n_pos") - col("tp")).as("fn"),
      (col("n_neg") - col("fp")).as("tn"),
      floor(lit(1000000L) * col("tp") /
        nullif(col("tp") + col("fp"), lit(0L))).cast("long")
        .as("precision_ppm"),
      floor(lit(1000000L) * col("tp") / nullif(col("n_pos"), lit(0L)))
        .cast("long").as("recall_ppm"),
      floor(lit(2000000L) * col("tp") /
        nullif(lit(2L) * col("tp") + (col("n_pos") - col("tp")) +
          col("fp"), lit(0L))).cast("long").as("f1_ppm"),
      ((col("two_rank_pos") -
          (col("n_pos").cast("decimal(38,0)") *
            (col("n_pos") + 1).cast("decimal(38,0)"))).cast("double") /
        nullif(lit(2L).cast("decimal(38,0)") *
            col("n_pos").cast("decimal(38,0)") *
            col("n_neg").cast("decimal(38,0)"), lit(0L).cast("decimal(38,0)"))
          .cast("double")).as("auc"))
  }

  /** Calibration (reliability) audit over a scored frame: scores fall
    * into `nBuckets` equal-width buckets (the top edge clamps into
    * the last bucket) and each emits its count, positive count, exact
    * mean score in ppm and observed positive rate in ppm — the frame
    * that says whether "score 0.9" means 90% (a calibrated probe) or
    * merely "higher than 0.8" (a ranker). One groupBy over ≤ nBuckets
    * keys; the mean stays exact because 6-dp scores become integral
    * micro-units under round(score·1e6) before the BIGINT sum.
    */
  def probeCalibration(scored: DataFrame, nBuckets: Int = 10): DataFrame =
    scored
      .groupBy(least(floor(col("score") * nBuckets), lit(nBuckets - 1))
        .cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("n_pos"),
        floor(sum(round(col("score") * 1000000.0).cast("long")) /
          count(lit(1))).cast("long").as("mean_score_ppm"),
        floor(lit(1000000L) *
          sum(when(col("is_target"), 1L).otherwise(0L)) /
          count(lit(1))).cast("long").as("pos_rate_ppm"))

  /** Contrastive triplet mining — (anchor, positive, negative) rows
    * for embedding-model training, the data-assembly step behind
    * retriever/embedder pipelines (anchor–positive from NEAR-DUP
    * pairs, the public "co-occurring or duplicated text is a positive
    * pair" recipe; negative drawn deterministically from the rest of
    * the corpus):
    *
    *   - positives: [[Dedup.minhashExactVerifiedPairs]] at
    *     `threshold` — verified true-Jaccard rep pairs, never
    *     all-pairs;
    *   - negatives: each anchor's successor in a content-hash RING —
    *     docs bucket by salted-md5 into `negBuckets`, order within a
    *     bucket by md5(text) (doc_id tie-break), and the negative is
    *     the next doc in the bucket (wrapping to the first) — a
    *     deterministic, engine-stable stand-in for "random negative"
    *     (the [[dsirSelect]] no-RNG convention). Rows whose ring
    *     successor IS the anchor or the positive (by text identity or
    *     id — singleton buckets wrap to self) are dropped rather than
    *     silently emitting a false negative.
    *
    * `negBuckets` sets the per-bucket window size: the gate registry
    * pins 8 for the 500-row corpus; production geometry is
    * corpus-size / ~10⁵ so each sorted bucket stays task-sized (the
    * [[trainOrder]] nShards convention). Returns
    * (anchor_id, pos_id, neg_id, jaccard).
    */
  def mineTriplets(documents: DataFrame, threshold: Double = 0.8,
      negBuckets: Int = 65536): DataFrame = {
    val pairs = Dedup.minhashExactVerifiedPairs(documents, threshold)
    tripletsWithRing(documents, pairs, negBuckets)
      .where(col("ring_ok"))
      .select(col("a_id").as("anchor_id"), col("b_id").as("pos_id"),
        col("neg_id"), col("jaccard"))
  }

  /** The content-hash-ring negative join shared by [[mineTriplets]]
    * and [[mineTripletsHard]]'s fallback: pairs gain (neg_id, neg_th)
    * from the anchor's ring successor plus a `ring_ok` verdict —
    * false when the successor IS the anchor or the positive (by id or
    * text identity; a singleton bucket wraps to self). Callers decide
    * what an invalid ring means: [[mineTriplets]] drops the row,
    * [[mineTripletsHard]] only needs the ring when no banded
    * candidate exists. The corpus is hashed ONCE — the (doc_id, th)
    * projection feeds the ring window and both pair-side text-hash
    * lookups.
    */
  private def tripletsWithRing(documents: DataFrame, pairs: DataFrame,
      negBuckets: Int): DataFrame = {
    val bkt = graft.functions.TextFunctions
      .hashBucket(col("text"), negBuckets, "neg:")
    val hashed = documents
      .select(col("doc_id"), md5(col("text")).as("th"), bkt.as("bkt"))
    val w = Window.partitionBy("bkt").orderBy(col("th"), col("doc_id"))
    val ring = Window.partitionBy("bkt").orderBy(col("th"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val negs = hashed
      .select(col("doc_id"), col("th"),
        coalesce(lead(col("doc_id"), 1).over(w),
          first(col("doc_id")).over(ring)).as("neg_id"),
        coalesce(lead(col("th"), 1).over(w),
          first(col("th")).over(ring)).as("neg_th"))
    pairs
      .join(negs.select(col("doc_id").as("a_id"), col("th").as("a_th"),
        col("neg_id"), col("neg_th")), "a_id")
      .join(hashed.select(col("doc_id").as("b_id"), col("th").as("b_th")),
        "b_id")
      .withColumn("ring_ok",
        col("neg_id") =!= col("a_id") && col("neg_id") =!= col("b_id") &&
          col("neg_th") =!= col("a_th") && col("neg_th") =!= col("b_th"))
  }

  /** [[mineTriplets]] with HARD negatives where they exist: the
    * negative is the anchor's most-similar NON-duplicate — the
    * banded-LSH candidate with the highest signature-agreement
    * estimate strictly below `hardMax` (candidates share a band by
    * construction, so they are "close but not duplicate", the
    * published hard-negative shape that makes contrastive training
    * converge). Candidates come from the same capped banding as the
    * dedup family (never all-pairs); per-anchor argmax is one
    * partitioned row_number window over the candidate frame. An
    * anchor with NO sub-hardMax candidate — common in clone-heavy
    * corpora, where banding only surfaces near-dups — falls back to
    * the [[mineTriplets]] content-hash-ring negative instead of
    * silently vanishing; `neg_kind` says which path each row took
    * ('banded' with its estimate, 'ring' with NULL). rows-only:
    * signature estimates have no DuckDB form. Returns (anchor_id,
    * pos_id, neg_id, neg_est, neg_kind, jaccard).
    */
  def mineTripletsHard(documents: DataFrame, threshold: Double = 0.8,
      hardMax: Double = 0.5, negBuckets: Int = 65536): DataFrame = {
    // ONE sketch/banding pipeline for both frames (the
    // exactVerifiedFromReps aggregate-once rule): minhashEstError
    // carries each candidate's estimate AND true Jaccard, so the
    // verified positives and the near-miss candidates are two filters
    // of the same frame — not two full sketch builds
    val audit = Cached.pin(Dedup.minhashEstError(documents))
    val pairs = audit.where(col("true_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("true_jaccard").as("jaccard"))
    val cands = audit.where(col("est_jaccard") < hardMax)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
    val bidir = cands.select(col("a_id").as("anchor"), col("b_id").as("neg"),
        col("est_jaccard"))
      .unionByName(cands.select(col("b_id").as("anchor"),
        col("a_id").as("neg"), col("est_jaccard")))
    // a verified positive of the anchor is NEVER a negative, whatever
    // its estimate says — exclude BEFORE the argmax so the rank-2
    // candidate steps up instead of falling to the ring
    val posBidir = pairs.select(col("a_id").as("anchor"),
        col("b_id").as("neg"))
      .unionByName(pairs.select(col("b_id").as("anchor"),
        col("a_id").as("neg")))
    val w = Window.partitionBy("anchor")
      .orderBy(col("est_jaccard").desc, col("neg"))
    val hardest = bidir.join(posBidir, Seq("anchor", "neg"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("anchor").as("a_id"), col("neg").as("hard_id"),
        col("est_jaccard").as("hard_est"))
    tripletsWithRing(documents, pairs, negBuckets)
      .join(hardest, Seq("a_id"), "left")
      .withColumn("use_hard", col("hard_id").isNotNull)
      // a row is dropped ONLY when neither path yields a negative —
      // an anchor with a valid banded candidate survives a colliding
      // (e.g. singleton-bucket) ring
      .where(col("use_hard") || col("ring_ok"))
      .select(col("a_id").as("anchor_id"), col("b_id").as("pos_id"),
        when(col("use_hard"), col("hard_id")).otherwise(col("neg_id"))
          .as("neg_id"),
        when(col("use_hard"), col("hard_est")).as("neg_est"),
        when(col("use_hard"), lit("banded")).otherwise(lit("ring"))
          .as("neg_kind"),
        col("jaccard"))
  }

  /** Read-side health audit over persisted MODEL artifacts — the
    * [[graft.operators.Dedup.indexStats]] third-leg discipline
    * applied to the train-once/serve-many families (lm / bpe / probe
    * / dsir / ann): one row per expected artifact frame with its row
    * count, so an operator fleet answers "what models exist, how big,
    * is any partially written" without loading a single model into
    * memory. A missing artifact emits `present = false` with a NULL
    * count rather than crashing the audit (bpe's `vocab/` is
    * legitimately optional; for the others a false row IS the
    * partial-write alarm this frame exists to raise). Each present
    * artifact contributes one count aggregate over its own parquet —
    * payloads and corpora are never scanned; |models| × |artifacts|
    * is config-sized.
    */
  def modelStats(spark: org.apache.spark.sql.SparkSession,
      models: Seq[(String, String, String)]): DataFrame = {
    require(models.nonEmpty, "modelStats: no models given")
    val artifactsOf = Map(
      "lm" -> Seq("pairs", "vocab", "firsts", "meta"),
      "bpe" -> Seq("merges", "vocab"),
      "probe" -> Seq("weights", "meta"),
      "dsir" -> Seq("counts", "ratio", "meta"),
      "ann" -> Seq("centroids", "codebooks", "codes"))
    import spark.implicits._
    val frames = models.flatMap { case (id, kind, path) =>
      val arts = artifactsOf.getOrElse(kind,
        throw new IllegalArgumentException(
          s"modelStats: unknown model kind '$kind' for '$id' " +
            s"(want ${artifactsOf.keys.mkString("|")})"))
      arts.map { a =>
        try
          spark.read.parquet(s"$path/$a")
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(id).as("model_id"), lit(kind).as("kind"),
              lit(a).as("artifact"), lit(true).as("present"),
              col("n_rows"))
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            Seq((id, kind, a, false, Option.empty[Long]))
              .toDF("model_id", "kind", "artifact", "present", "n_rows")
        }
      }
    }
    frames.reduce(_.unionByName(_))
  }

  /** End-to-end corpus curation — the pipeline a user of this library
    * actually runs, composed from the individually-oracled stages into
    * ONE declarative program (one action, one Catalyst plan — every
    * stage's filter shrinks the input of the next, and AQE sees the
    * whole pipeline when re-planning):
    *
    *   1. benchmark holdout: docs standing in for the eval suite
    *      (`doc_id % benchmarkEvery == 0`, the [[decontaminate]]
    *      convention) never enter the training corpus;
    *   2. cleaning gate + exact-dedup keep-first ([[TextOps.cleanCorpus]]
    *      rule, text retained for the later stages);
    *   3. Gopher-rules document filter ([[TextOps.gopherGate]] keep);
    *   4. n-gram decontamination: anti-join against the benchmark
    *      overlap set;
    *   5. near-dup keep-one: [[Dedup.dedupGroups]] representatives
    *      only (cheap pushed-down gates run FIRST so the expensive
    *      banded-minhash chain sees the smallest possible corpus);
    *   6. deterministic split stamp ([[TextOps.splitOf]] — the same
    *      content-hash rule [[graft.sources.CorpusStore]] partitions
    *      by, so this output drops straight into `writeWithManifest`).
    *
    * Returns (doc_id, text, lang, source, n_tok, split). Not
    * SQL-oracled as a unit (stage 5's oracle is already a RECURSIVE
    * CTE); instead the spec asserts the behavioral contract on gate
    * data: no benchmark doc, no exact-dup text, every survivor passes
    * the Gopher gate, zero decontamination hits among survivors, and
    * zero verified near-dup pairs within the output.
    */
  def curateCorpus(documents: DataFrame, minTokens: Int = 10,
      minStopRatio: Double = 0.05, benchmarkEvery: Int = 10,
      gopherMinTok: Long = 50, neardupThreshold: Double = 0.8,
      valPct: Int = 10, testPct: Int = 10,
      sentenceDedup: Boolean = false,
      lineDedup: Boolean = false): DataFrame = {
    val train =
      documents.where(pmod(col("doc_id"), lit(benchmarkEvery)) =!= 0)
    val scored = train.select(Seq(col("doc_id"), col("text"), col("lang"),
      col("source")) ++ TextOps.cleaningScores: _*)
    val wDup = Window.partitionBy("text_hash").orderBy(col("doc_id"))
    val exactKept = scored
      .where(col("n_tok") >= minTokens && col("stop_ratio") >= minStopRatio)
      .withColumn("rn", row_number().over(wDup))
      .where(col("rn") === 1)
      .select("doc_id", "text", "lang", "source", "n_tok")
    // 2a-line (opt-in, late r14): the Dolma/RefinedWeb line-level
    // stage BEFORE the sentence-span rule (published order — line
    // boilerplate is cut before sentence statistics are trusted):
    // duplicated long lines keep their global first occurrence, each
    // doc rebuilds newline-joined ([[TextOps.lineDedupApply]]), a doc
    // that keeps NO line (pure boilerplate) drops here; n_tok
    // recomputed over the rebuilt text (whitespace class — the
    // sentence stage's kept_tokens convention)
    val afterLine = if (!lineDedup) exactKept else
      TextOps.lineDedupApply(exactKept)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .join(exactKept.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("n_tok",
          size(filter(split(col("text"), "\\s+"), w => w =!= ""))
            .cast("long"))
        .select("doc_id", "text", "lang", "source", "n_tok")
    // 2b (opt-in, r13 verdict #6): the C4 §2.2 three-sentence-span
    // rule as a CLEANING stage between exact-dedup and gopher —
    // non-owner occurrences of duplicated spans drop their sentences,
    // each doc rebuilds from its kept sentences ([[TextOps
    // .sentSpanDedupApply]]), and a doc that loses EVERY sentence
    // (pure boilerplate) drops here; all downstream gates read the
    // rebuilt text
    val cleaned = if (!sentenceDedup) afterLine else
      TextOps.sentSpanDedupApply(afterLine)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"),
          col("kept_tokens").as("n_tok"))
        .join(afterLine.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "text", "lang", "source", "n_tok")
    val gophKeep = TextOps.gopherGate(cleaned, minTok = gopherMinTok)
      .where(col("keep")).select("doc_id")
    val gated = cleaned.join(gophKeep, "doc_id")
    // benchmark shingles come from the FULL corpus (the holdout docs),
    // so decontamination runs against `documents`, not `train`
    val hits = decontaminate(documents, benchmarkEvery).select("doc_id")
    // materialize the gated corpus once: the near-dup stage's iterative
    // actions (edge derivation, fixpoint counts, the final join) would
    // otherwise RE-EXECUTE the whole gate chain per action. At sf0.1
    // the chain is cheap (9.0 → 8.1 s; the composed run costs ≈1.3 s
    // over the sum of its standalone stages), but the re-execution it
    // removes scales with the CORPUS while the checkpoint is one
    // write — the same move a staged pipeline makes by persisting the
    // gated corpus (CorpusStore) before the expensive dedup pass; lazy
    // localCheckpoint keeps the zero-rows case free
    val decon = gated.join(hits, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val reps = Dedup.dedupGroups(decon, threshold = neardupThreshold)
      .where(col("group_id") === col("doc_id")).select("doc_id")
    decon.join(reps, "doc_id")
      .withColumn("split", TextOps.splitOf(valPct, testPct))
      .select("doc_id", "text", "lang", "source", "n_tok", "split")
  }

  /** [[curateCorpus]] with the MARKUP front door — the shape a real
    * intake runs, since published pipelines (C4, RefinedWeb) start
    * from HTML, not pre-extracted text: [[graft.operators.TextOps
    * .textExtract]] strips tags and boilerplate lines first, docs
    * whose every line is boilerplate drop at the door, and the
    * extracted prose flows into the standard curation chain under the
    * page's own (lang, source). `pages` carries
    * (doc_id, html, lang, source).
    *
    * Composition contract (spec-asserted): when the markup is the
    * synthetic wrapper (prose survives extraction verbatim), the
    * output EQUALS [[curateCorpus]] run directly on the docs whose
    * text clears the extractor's word floor — the front door adds
    * extraction, never curation drift.
    */
  def curateCorpusFromHtml(pages: DataFrame, minWords: Int = 5,
      maxLinkDensity: Double = 0.34, minTokens: Int = 10,
      minStopRatio: Double = 0.05, benchmarkEvery: Int = 10,
      gopherMinTok: Long = 50, neardupThreshold: Double = 0.8,
      valPct: Int = 10, testPct: Int = 10): DataFrame = {
    // lazy checkpoint (r15 opt round — the decon-checkpoint move one
    // stage earlier): curateCorpus references its input from THREE
    // subtrees (the cleaning-score chain, the decontamination
    // benchmark side and its corpus side), and extraction is the
    // expensive per-byte stage — un-materialized, the tag/boilerplate
    // regex pass ran once per reference (measured: 3 × 1.4 s
    // single-task stages at sf0.1). One materialization is the
    // guide-§8 "decode once" rule; value-neutral.
    val extracted = TextOps.textExtract(pages, minWords = minWords,
        maxLinkDensity = maxLinkDensity)
      .where(col("n_content_lines") > 0)
      .select(col("doc_id"), col("extract").as("text"))
      .join(pages.select(col("doc_id"), col("lang"), col("source")),
        "doc_id")
      .localCheckpoint(false)
    curateCorpus(extracted, minTokens, minStopRatio, benchmarkEvery,
      gopherMinTok, neardupThreshold, valPct, testPct)
  }

  /** The attrition funnel of [[curateCorpus]] — the "data card" table
    * every published pipeline reports (C4 §2, RefinedWeb table 2,
    * FineWeb's ablation cards): per stage, how many documents entered,
    * how many it dropped and how many flowed on. Each document gets
    * ONE label — the first stage that stopped it — so the funnel is a
    * single pass over the corpus plus the same near-dup group frame
    * the capstone computes; stage rows with zero drops still appear
    * (a gate that fired nothing is a finding, not a gap).
    *
    * Stage semantics are the capstone's by construction (same score
    * expressions, same gate set joins); CurationSpec ties the two —
    * the funnel's final `n_out` must equal `curateCorpus().count()`
    * and each stage's arithmetic must telescope. Exact integer counts
    * end-to-end, so the whole funnel — including the near-dup stage
    * via the oracle's recursive-CTE components — hash-matches DuckDB
    * *modulo the banded candidate recall* it inherits from
    * [[Dedup.dedupGroups]]: the engine's near edges come from 16×4
    * minhash banding (miss ≈ 2e-4 per pair at J=0.8, plus bucketCap
    * truncation in degenerate hot buckets) while the oracle
    * brute-forces every pair — the q_dedup_groups contract, asserted
    * absent on the gate data, not impossible on an arbitrary corpus.
    */
  def curateReport(documents: DataFrame, minTokens: Int = 10,
      minStopRatio: Double = 0.05, benchmarkEvery: Int = 10,
      gopherMinTok: Long = 50, neardupThreshold: Double = 0.8,
      sentenceDedup: Boolean = false,
      lineDedup: Boolean = false): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val base = documents.select(Seq(col("doc_id"), col("text"), col("lang"),
        col("source")) ++ TextOps.cleaningScores: _*)
      .withColumn("is_bench",
        pmod(col("doc_id"), lit(benchmarkEvery)) === 0)
    val cleanOk =
      col("n_tok") >= minTokens && col("stop_ratio") >= minStopRatio
    val wDup = Window.partitionBy("text_hash").orderBy(col("doc_id"))
    // every gate set below is checkpointed as a narrow id frame: the
    // funnel's final labeled action would otherwise RE-RUN the whole
    // gate chain (window, gopher stats, the decontaminate shingle
    // self-join) a second time — the review-measured double corpus
    // pass (7.9 s vs the capstone's ~4 s at sf0.1). Each frame is a
    // few bytes per surviving doc; lineage truncation is the same
    // curateCorpus move.
    val rnIds = base.where(!col("is_bench") && cleanOk)
      .withColumn("rn", row_number().over(wDup))
      .select(col("doc_id"), col("rn"))
      .localCheckpoint(false)
    val exactKeep = documents
      .select("doc_id", "text", "lang", "source")
      .join(rnIds.where(col("rn") === 1).select("doc_id"), "doc_id")
    // the opt-in line stage (2a-line, late r14): precedes the
    // sentence rule; `lk` marks docs that kept at least one line
    val afterLine = if (!lineDedup) exactKeep else
      TextOps.lineDedupApply(exactKeep)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .join(exactKeep.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "text", "lang", "source")
        .localCheckpoint(false)
    // the opt-in sentence-span stage (the capstone's 2b): downstream
    // gates read the REBUILT text; `sk` marks docs that kept at least
    // one sentence (a pure-boilerplate doc drops here, its own stage)
    val afterSent = if (!sentenceDedup) afterLine else
      TextOps.sentSpanDedupApply(afterLine)
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .join(afterLine.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "text", "lang", "source")
        .localCheckpoint(false)
    val goph = TextOps.gopherGate(afterSent, minTok = gopherMinTok)
      .where(col("keep")).select(col("doc_id"), lit(1).as("g"))
      .localCheckpoint(false)
    val hits = decontaminate(documents, benchmarkEvery)
      .select(col("doc_id"), lit(1).as("h"))
      .localCheckpoint(false)
    val decon = afterSent.join(goph.select("doc_id"), "doc_id")
      .join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val reps = Dedup.dedupGroups(decon, threshold = neardupThreshold)
      .where(col("group_id") === col("doc_id"))
      .select(col("doc_id"), lit(1).as("r"))
    // stage ordinals shift by one past exact_dedup per optional stage
    // that is on — the funnel stays a single telescoping pass
    val l = if (lineDedup) 1L else 0L
    val s = if (sentenceDedup) 1L else 0L
    val joined0 = base.join(rnIds, Seq("doc_id"), "left")
    // the lk/sk joins and their label branches exist only when their
    // stage does, so the flag-off funnel's plan is bit-identical to
    // the r13 shape
    val joined1 =
      if (lineDedup)
        joined0.join(afterLine.select(col("doc_id"), lit(1).as("lk")),
          Seq("doc_id"), "left")
      else joined0.withColumn("lk", lit(1))
    val labeled0 =
      (if (sentenceDedup)
        joined1.join(afterSent.select(col("doc_id"), lit(1).as("sk")),
          Seq("doc_id"), "left")
      else joined1.withColumn("sk", lit(1)))
        .join(goph, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .join(reps, Seq("doc_id"), "left")
    val labeled = labeled0
      .withColumn("stage_ord",
        when(col("is_bench"), lit(1L))
          .when(!cleanOk, lit(2L))
          .when(col("rn") > 1, lit(3L))
          .when(lit(lineDedup) && col("lk").isNull, lit(4L))
          .when(lit(sentenceDedup) && col("sk").isNull, lit(4L + l))
          .when(col("g").isNull, lit(4L + l + s))
          .when(col("h").isNotNull, lit(5L + l + s))
          .when(col("r").isNull, lit(6L + l + s))
          .otherwise(lit(7L + l + s)))
    val counts = labeled.groupBy("stage_ord")
      .agg(count(lit(1)).as("n_dropped"))
    val stageSeq = Seq((1L, "benchmark_holdout"), (2L, "cleaning"),
      (3L, "exact_dedup")) ++
      (if (lineDedup) Seq((4L, "line_dedup")) else Seq.empty) ++
      (if (sentenceDedup) Seq((4L + l, "sentence_dedup")) else Seq.empty) ++
      Seq((4L + l + s, "gopher"), (5L + l + s, "decontaminate"),
        (6L + l + s, "neardup"))
    val stages = stageSeq.toDF("stage_ord", "stage")
    val total = documents.agg(count(lit(1)).as("total"))
    // funnel arithmetic over the constant 6-row stage frame: the
    // unpartitioned running sum and the single-row total broadcast
    // never see corpus-sized data
    val wCum = Window.orderBy("stage_ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    stages.join(counts, Seq("stage_ord"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .crossJoin(broadcast(total))
      .withColumn("n_in",
        col("total") - coalesce(sum("n_dropped").over(wCum), lit(0L)))
      .select(col("stage_ord"), col("stage"), col("n_in"),
        col("n_dropped"), (col("n_in") - col("n_dropped")).as("n_out"))
  }

  /** Crawl-snapshot diff — the audit frame the incremental family
    * ([[Dedup.dedupAgainst]] / [[Dedup.noveltyAgainst]] /
    * [[Dedup.perceptualDedupAgainst]]) acts on: per document id,
    * whether snapshot N+1 `added`, `removed`, `changed` or kept it
    * `unchanged` relative to snapshot N, by content identity
    * (md5(text) — the house exact-dup key), with `source` taken from
    * the side that has the row (the new snapshot wins when both do —
    * a re-crawled doc reports its CURRENT provenance). A production
    * pipeline runs THIS first: only `added`/`changed` rows need
    * sketching/indexing, `removed` rows need index retraction, and
    * the status counts are the crawl-health dashboard (a crawl where
    * 40% "changed" is usually a parser change, not the web).
    *
    * Scale shape: two scans (each snapshot hashed at its own scan —
    * only doc_id/source/md5 leave the scan, text never shuffles) and
    * ONE full-outer sort-merge join keyed on doc_id. No window, no
    * driver state; at 100 TB the join is exactly the snapshot-sized
    * keyed shuffle the problem requires, and nothing else.
    *
    * Caller contract: `doc_id` is unique WITHIN each snapshot (the
    * crawl key) — duplicate ids would multiply through the join and
    * report one id several times; run [[graft.operators.Dedup.exact]]
    * first if the crawl cannot guarantee it.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), col("source").as("o_source"),
      md5(col("text")).as("o_h"))
    val n = newDocs.select(col("doc_id"), col("source").as("n_source"),
      md5(col("text")).as("n_h"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_h").isNull, "added")
          .when(col("n_h").isNull, "removed")
          .when(col("o_h") =!= col("n_h"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Content-distribution drift between crawl snapshots — the
    * crawl-health complement to [[snapshotDiff]] (the diff counts
    * WHAT changed; this measures whether the surviving content's
    * CHARACTER moved): per source present in both snapshots, the
    * total-variation distance between the two unigram distributions,
    * TV = ½ Σ_tok |p_new(tok) − p_old(tok)| ∈ [0, 1]. A parser
    * change, template swap or register shift moves TV sharply even
    * when the diff says "mostly unchanged"; near-zero means the
    * re-crawl is distributionally the same corpus.
    *
    * TV instead of KL deliberately: KL needs smoothing the moment a
    * new token appears (infinite otherwise) and drags the §5b log-
    * determinism machinery in; TV is EXACT in integers — per token
    * |tf_new·N_old − tf_old·N_new| as DECIMAL(18,0) cross-products
    * (precision 37 products, fold-order-free DECIMAL sum — the ANSI
    * BIGINT product trap from skewReport avoided by construction),
    * finished with ONE unrounded IEEE division by 2·N_old·N_new —
    * bit-identical across engines with no rounding step anywhere.
    *
    * Plan: one (source, tok) count aggregate per snapshot, one
    * full-outer join on that key, per-source totals derived from the
    * SAME joined frame (no second corpus pass) — shuffle O(distinct
    * (source, tok)), never corpus-sized rows past the scans. Sources
    * present in only one snapshot are omitted (drift against an
    * empty distribution is the diff's added/removed story, not a
    * distance).
    */
  def snapshotDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def tf(df: DataFrame, name: String) = df
      .select(col("source"),
        explode(tokenize(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as(name))
    val joined = tf(oldDocs, "tf_o")
      .join(tf(newDocs, "tf_n"), Seq("source", "tok"), "full_outer")
      .na.fill(0L, Seq("tf_o", "tf_n"))
    val totals = joined.groupBy("source")
      .agg(sum(col("tf_o")).as("n_o"), sum(col("tf_n")).as("n_n"))
    val d18 = "decimal(18,0)"
    joined.join(totals, "source")
      .where(col("n_o") > 0 && col("n_n") > 0)
      .select(col("source"), col("n_o"), col("n_n"),
        abs(col("tf_n").cast(d18) * col("n_o").cast(d18) -
          col("tf_o").cast(d18) * col("n_n").cast(d18)).as("num"))
      .groupBy("source", "n_o", "n_n")
      .agg(sum(col("num")).as("s"))
      .select(col("source"),
        col("n_o").as("n_tok_old"), col("n_n").as("n_tok_new"),
        (col("s").cast("double") /
          (lit(2.0) * col("n_o").cast("double") * col("n_n").cast("double")))
          .as("drift_tv"))
  }

  /** Deterministic synthetic snapshot pair over one corpus — the
    * fixture derivation [[snapshotDiff]]'s registry entry and oracle
    * share (the gainVariants pattern: the test data has one
    * generation, so the second snapshot is derived, md5-bucketed so
    * DuckDB reproduces it bit-for-bit). Buckets of
    * `hashBucket(text, 100, "snap:")`: `[0, addedPct)` exists only in
    * the NEW snapshot (crawled later), `[100-removedPct, 100)` only
    * in the OLD (dropped), `[changedLo, changedHi)` appears in both
    * with the new text revised (a fixed suffix — content identity
    * changes, the id does not). Everything else is identical in both.
    */
  def snapshotPair(documents: DataFrame, addedPct: Int = 3,
      removedPct: Int = 3, changedLo: Int = 50,
      changedHi: Int = 60): (DataFrame, DataFrame) = {
    val bucket =
      graft.functions.TextFunctions.hashBucket(col("text"), 100, "snap:")
    val base = documents.select(col("doc_id"), col("text"), col("lang"),
      col("source"), bucket.as("snap_bucket"))
    val old = base.where(col("snap_bucket") >= addedPct)
      .drop("snap_bucket")
    val newer = base.where(col("snap_bucket") < 100 - removedPct)
      .withColumn("text",
        when(col("snap_bucket") >= changedLo &&
          col("snap_bucket") < changedHi,
          concat(col("text"), lit(" snapshot-rev")))
          .otherwise(col("text")))
      .drop("snap_bucket")
    (old, newer)
  }

  /** Seeded deterministic training order — the epoch shuffle a
    * training run needs to be REPRODUCIBLE at 100 TB: every doc gets
    * a (shard, pos) coordinate from content-free hashes of
    * (seed, doc_id), so any worker can materialize its shard's exact
    * read order independently (no global RNG state, no driver-side
    * permutation array — the q_domain_mix hash-not-RNG discipline
    * applied to ordering). Different seeds give independent epoch
    * orders; the same seed replays bit-for-bit, which is what makes
    * loss-spike forensics ("which batch was that") possible.
    *
    * Shard and order derive from DIFFERENTLY-SALTED md5 keys
    * (engine-portable, the [[graft.functions.TextFunctions.hashBucket]]
    * convention) so a shard never correlates with its internal order.
    *
    * Plan shape: one projection + ONE window partitioned by shard
    * (never a global sort — `pos` is per-shard, and shards are the
    * parallel read unit; a consumer wanting one stream reads shards
    * round-robin). O(n/nShards) rows per window partition, no joins —
    * so nShards IS the per-task sort size knob: the 1024 default
    * keeps a billion-doc corpus under ~1M rows per window task; size
    * it to corpus/desired-task-rows, not to reader count (a reader
    * can own many shards).
    */
  def trainOrder(documents: DataFrame, seed: Long = 0,
      nShards: Int = 1024): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val key = concat(lit(s"$seed:"), col("doc_id").cast("string"))
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
    documents
      .select(col("doc_id"),
        graft.functions.TextFunctions.hashBucket(key, nShards, "shard:")
          .as("shard"),
        md5(key).as("ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }
}
