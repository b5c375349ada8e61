package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.ops.Dedup

/** The end-to-end training-corpus pipeline — the composition a
  * 100 TB data-curation run actually executes, built from the
  * individually oracle-checked operators: quality scoring → language
  * filter → exact dedup → near-dup dedup (MinHash+LSH → clusters) →
  * corpus stats. Registered as ModelRegistry models so it runs with
  * the same materialization/audit machinery as the EDW/logistics DAGs.
  *
  * Every stage is one scan + at most one shuffle; nothing is
  * collected to the driver. Filters run before the expensive dedup
  * stages so shingling/minhashing only sees surviving docs.
  */
object CorpusPipeline {

  /** Quality metrics (the q19 formulas) appended as columns. */
  def withQuality(docs: DataFrame, text: String = "text"): DataFrame =
    docs
      .withColumn("n_tokens", T.tokenCount(col(text)).cast("long"))
      .withColumn("avg_token_len",
        (length(col(text)) - col("n_tokens") + 1).cast("double") /
          col("n_tokens").cast("double"))

  /** Keep docs inside the quality envelope (token count + word shape). */
  def qualityFilter(docs: DataFrame, minTokens: Long = 5,
      maxTokens: Long = 10000, maxAvgTokenLen: Double = 15.0): DataFrame =
    withQuality(docs)
      .filter(col("n_tokens").between(minTokens, maxTokens) &&
        col("avg_token_len") <= maxAvgTokenLen)

  /** Keep docs whose predicted language matches. */
  def languageFilter(docs: DataFrame, lang: String = "en",
      text: String = "text"): DataFrame =
    docs.withColumn("lang_pred", T.langId(col(text)))
      .filter(col("lang_pred") === lang)

  /** Exact dedup: survivor = min doc id per content fingerprint (one
    * hash aggregation + one semi-join shaped join back). */
  def dedupExact(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val keep = docs
      .select(col(id), T.fingerprint(col(text)).as("__fp"))
      .groupBy(col("__fp")).agg(min(col(id)).as(id))
      .select(col(id))
    docs.join(keep, Seq(id))
  }

  /** Per-source curation FUNNEL — the observability query every
    * pipeline dashboard runs: document counts per source at each stage
    * of the canonical chain (raw → quality envelope → language filter
    * → exact-dedup keeper), so a source whose docs die at one stage
    * (spam source collapsing at quality, mislabeled source at langid,
    * mirror source at dedup) is visible as a row, not a mystery.
    *
    * Scale shape: each stage is the chain's own plan topped with one
    * count aggregation keyed by the source (shuffle carries #sources
    * rows per stage); the four branches share nothing at runtime but
    * each is a single pass — at 100 TB, persist the chain's final
    * stage if the funnel runs alongside the export itself. */
  def curationFunnel(docs: DataFrame,
      source: String = "source"): DataFrame = {
    def cnt(df: DataFrame, ord: Int, stage: String) =
      df.groupBy(col(source)).agg(count(lit(1)).as("n_docs"))
        .select(lit(ord).as("stage_ord"), lit(stage).as("stage"),
          col(source), col("n_docs"))
    val quality = qualityFilter(docs)
    val langed = languageFilter(quality)
    cnt(docs, 0, "raw")
      .unionByName(cnt(quality, 1, "quality"))
      .unionByName(cnt(langed, 2, "lang"))
      .unionByName(cnt(dedupExact(langed), 3, "dedup"))
  }

  /** Near-dup dedup: MinHash signatures → LSH band candidates →
    * connected components → keep each cluster's min id. Docs that pair
    * with nothing survive untouched (clusters only contain paired
    * docs, so an anti-join on losers is the cheap formulation). */
  def dedupNear(docs: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3, k: Int = 16,
      bandRows: Int = 4): DataFrame = {
    val sig = Dedup.minhashSignatures(docs, id, text, n, k)
    // pinned: the pair set is tiny and feeds the node union + both edge
    // directions — without the pin the signature+band join re-runs per
    // consumer subtree
    val pairs = Dedup.lshCandidatePairs(sig, id, k, bandRows)
      .localCheckpoint()
    val clusters = Dedup.duplicateClusters(
      pairs.select(col("id_a").as(id))
        .unionByName(pairs.select(col("id_b").as(id))).distinct(),
      id, pairs)
    // duplicateClusters materializes eagerly, so the pair checkpoint is
    // already dead — free its pinned blocks instead of leaking per call
    graft.CacheTracker.releaseCheckpoint(pairs)
    val losers = clusters
      .filter(col(id) =!= col("cluster"))
      .select(col(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** Benchmark decontamination: drop every corpus doc sharing at least
    * `minHits` word n-grams with the benchmark set — the standard
    * train/test-overlap removal step of LLM data curation (exact
    * n-gram collision, the GPT-3/PaLM-style 13-gram rule; n and the
    * hit threshold are the policy knobs). Returns the surviving corpus
    * docs unchanged.
    *
    * Scale shape: one shingle pass over each side, distinct benchmark
    * gram hashes (benchmarks are small — broadcastable; AQE decides),
    * one semi-join-shaped aggregation on the 64-bit gram hash, one
    * anti-join back. The corpus is never shuffled except on the gram
    * hash match. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 5,
      minHits: Int = 1): DataFrame = {
    val grams = (d: DataFrame) => graft.ops.Compute.spread(d).select(col(id),
      explode(array_distinct(T.shinglesOf(col(text), n))).as("g"))
      .select(col(id), T.hash60(col("g"), 0).as("h"))
    val benchGrams = grams(benchmark).select(col("h")).distinct()
    val contaminated = grams(corpus)
      .join(benchGrams, Seq("h"))
      .groupBy(col(id)).agg(count(lit(1)).as("__bench_hits"))
      .filter(col("__bench_hits") >= minHits)
      .select(col(id))
    corpus.join(contaminated, Seq(id), "left_anti")
  }

  /** Graded train/test-contamination scoring — the thresholded
    * generalization of [[decontaminate]]'s any-collision rule: per
    * corpus doc, the fraction of its DISTINCT word n-grams that also
    * occur anywhere in the benchmark set (PaLM-style "drop when ≥τ of
    * the document's n-grams are contained"). Integer hit/total counts
    * and one IEEE division, so the score is bit-stable on any engine.
    * Docs too short to shingle have no grams → containment 0 (nothing
    * measurable is contaminated).
    *
    * Scale shape: identical to [[decontaminate]] — one shingle pass
    * per side, distinct benchmark gram hashes (broadcastable), one
    * equi-join on the 60-bit hash + per-doc count, one join back to
    * per-doc gram totals. The corpus shuffles only on matching grams. */
  def containmentScores(corpus: DataFrame, benchmark: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 5,
      tau: Double = 0.7): DataFrame = {
    val grams = (d: DataFrame) => graft.ops.Compute.spread(d).select(col(id),
      explode(array_distinct(T.shinglesOf(col(text), n))).as("g"))
      .select(col(id), T.hash60(col("g"), 0).as("h"))
    val corpusGrams = grams(corpus)
    val sizes = corpusGrams.groupBy(col(id)).agg(count(lit(1)).as("n_grams"))
    val hits = corpusGrams
      .join(grams(benchmark).select(col("h")).distinct(), Seq("h"))
      .groupBy(col(id)).agg(count(lit(1)).as("bench_hits"))
    corpus.select(col(id)).join(sizes, Seq(id), "left")
      .join(hits, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("bench_hits"), lit(0L)).as("bench_hits"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("bench_hits"), lit(0L)).cast("double") /
            col("n_grams").cast("double")).as("containment"))
      .withColumn("contaminated", col("containment") >= tau)
  }

  /** Gopher/RefinedWeb-style repetition signal: per document, the
    * fraction of word n-gram OCCURRENCES (with multiplicity — this is
    * not the dedup shingle set) taken by the single most frequent
    * n-gram. Boilerplate and spam repeat a phrase; prose does not:
    * corpus-curation recipes drop docs whose top-2-gram fraction
    * exceeds ~0.2. Docs too short to form a gram score 0.
    *
    * Scale shape: one shingle pass (spread first — per-row cost), two
    * hash aggregations (gram counts, then per-doc max/sum), one left
    * join back to keep short docs; no self-joins, no windows. */
  def repetitionScores(docs: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 2): DataFrame = {
    val grams = graft.ops.Compute.spread(docs)
      .select(col(id), explode(T.shinglesOf(col(text), n)).as("g"))
    val stats = grams
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(id)).agg(
        max(col("c")).as("top_gram_count"), sum(col("c")).as("n_grams"))
    docs.select(col(id)).join(stats, Seq(id), "left")
      .select(col(id),
        coalesce(col("top_gram_count"), lit(0L)).as("top_gram_count"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(col("top_gram_count").cast("double") /
            col("n_grams").cast("double")).as("rep_ratio"))
  }

  /** Token-budget shard packing — the sequence-packing front half of an
    * LM training-data export: every doc gets the shard id
    * `floor(tokens_before / budget)` where `tokens_before` is the
    * exclusive running token total in `id` order, so consecutive docs
    * fill a shard until the budget spills into the next one. (This is
    * the prefix-sum formulation of greedy packing: a shard's total
    * stays within budget + one doc, and the assignment is a pure
    * function of the data — no partitioning or run dependence.)
    *
    * Scale shape: a GLOBAL running sum would be a one-partition window
    * — the classic scale trap — so it is decomposed two-level: the
    * caller supplies `bucket`, a coarse grouping MONOTONE in `id`
    * (date, file, id-range), in-bucket running sums run as a
    * partitioned window, and the cross-bucket offsets are an aggregate
    * of #buckets rows whose own prefix sum is a deliberately tiny
    * single-partition window, broadcast-joined back. Exactly the
    * per-date-partition packing a 100 TB export does. */
  def packShards(docs: DataFrame, budgetTokens: Long, bucket: Column,
      id: String = "doc_id", text: String = "text"): DataFrame =
    packShardsFromCounts(
      docs.select(col(id),
        T.tokenCount(col(text)).cast("long").as("n_tokens")),
      budgetTokens, bucket, id)

  /** [[packShards]] over a PRECOMPUTED per-doc token-count table —
    * the budget column is pluggable, so shards can pack by whatever
    * the trainer actually consumes: whitespace tokens (q86), LEARNED
    * BPE subword counts (q182 via [[graft.ops.BpeTrainer]]), or any
    * cost model. Same two-level prefix-sum shape. */
  def packShardsFromCounts(counts: DataFrame, budgetTokens: Long,
      bucket: Column, id: String = "doc_id",
      tokens: String = "n_tokens"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val t = counts.select(col(id), bucket.as("__b"),
      col(tokens).cast("long").as("n_tokens"))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col(id))
    val run = t.withColumn("__run",
      sum(col("n_tokens")).over(inBucket) - col("n_tokens"))
    // #buckets rows: the single-partition window is bounded and cheap
    val acrossBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__bt"))
      .select(col("__b"),
        coalesce(sum(col("__bt")).over(acrossBuckets), lit(0L)).as("__off"))
    run.join(broadcast(offsets), Seq("__b"))
      .select(col(id), col("n_tokens"),
        expr(s"(__run + __off) div ${budgetTokens}L").as("shard"))
  }

  /** Per-source token-budget QUOTA FILL — the data-recipe admission
    * step: each source contributes its highest-priority documents
    * until the source's token budget is exhausted (kept = the longest
    * priority-ordered prefix whose running token total stays within
    * `budgetTokens`). Priority is the seeded 60-bit hash of the doc id
    * — a deterministic exchangeable order, the "uniform random subject
    * to budget" recipe; swap the priority column for a quality score
    * and the same plan is quality-ranked admission.
    *
    * Scale shape: the running sum is NOT one window per source over
    * data-sized partitions (a 100 TB source would serialize) — it is
    * the [[packShards]] two-level prefix sum applied per source: the
    * top 4 bits of the priority hash form 16 buckets MONOTONE in
    * priority, in-bucket running sums run as (source, bucket)
    * partitioned windows, and cross-bucket offsets are an aggregate of
    * #sources·16 rows broadcast-joined back. */
  def quotaFill(docs: DataFrame, budgetTokens: Long,
      source: String = "source", id: String = "doc_id",
      text: String = "text", seed: Int = 7): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val t = docs.select(col(id), col(source),
        T.tokenCount(col(text)).cast("long").as("n_tokens"),
        T.hash60(col(id).cast("string"), seed).as("__pri"))
      .withColumn("__b", expr(s"__pri div ${1L << 56}L"))
    val inBucket = Window.partitionBy(col(source), col("__b"))
      .orderBy(col("__pri"), col(id))
    val run = t.withColumn("__cum", sum(col("n_tokens")).over(inBucket))
    // #sources × 16 rows: bounded, broadcastable by construction
    val acrossBuckets = Window.partitionBy(col(source)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col(source), col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
      .select(col(source), col("__b"),
        coalesce(sum(col("__bt")).over(acrossBuckets), lit(0L)).as("__off"))
    run.join(broadcast(offsets), Seq(source, "__b"))
      .withColumn("cum_tokens", col("__cum") + col("__off"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(id), col(source), col("n_tokens"), col("cum_tokens"))
  }

  /** Within-doc duplicate n-gram COVERAGE — the Gopher repetition
    * signal (Rae et al. 2021, "fraction of characters in duplicate
    * n-grams") in token space: the fraction of a document's tokens
    * lying inside any n-gram that occurs ≥ 2 times IN THAT DOCUMENT.
    * Complements [[repetitionScores]] (top-gram share) and
    * [[dupSpanFraction]] (cross-doc spans): this is the self-repetition
    * kill rule for looping generators and boilerplate-stuffed pages.
    *
    * Scale shape: every aggregation is keyed by doc id (gram counts
    * per (doc, hash), covered positions per doc) — cost ∝ grams, and
    * the interval union is computed as a distinct-position count (each
    * duplicated start explodes into its n covered positions), so no
    * per-doc sort or HOF fold is needed. */
  def dupNgramCoverage(docs: DataFrame, n: Int = 3, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pos = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id),
        posexplode(T.shinglesOf(col(text), n)).as(Seq("st", "g")))
      .select(col(id), col("st"), T.hash60(col("g"), 0).as("h"))
    val dupHashes = pos.groupBy(col(id), col("h"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2)
      .select(col(id), col("h"))
    val dupPos = pos.join(dupHashes, Seq(id, "h"))
    val covered = dupPos
      .select(col(id), explode(sequence(col("st"), col("st") + (n - 1)))
        .as("p"))
      .distinct()
      .groupBy(col(id)).agg(count(lit(1)).as("n_dup_covered"))
    docs.select(col(id), T.tokenCount(col(text)).cast("long").as("n_tokens"))
      .join(covered, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("n_dup_covered"), lit(0L)).as("n_dup_covered"),
        (coalesce(col("n_dup_covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** [[packSequences]]'s CONTENT path: materialize each fixed-width
    * training sequence's actual token text (docs crossing boundaries,
    * no padding) — what the export actually writes, where
    * [[packSequences]] reports only the boundaries. Every token gets
    * its global stream position from the same two-level prefix sum,
    * then ONE shuffle keyed by seq_id regroups the token stream and a
    * sorted struct-array rebuild makes the in-sequence order
    * deterministic on any partitioning. That single corpus-wide token
    * shuffle IS the honest floor for a re-segmented export — the
    * output rows cut across input rows, so some repartition of the
    * content is unavoidable; everything around it is narrow. */
  def packSequenceText(docs: DataFrame, width: Long, bucket: Column,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(width > 0, "width must be positive")
    val t = docs.select(col(id), bucket.as("__b"), col(text),
      T.tokenCount(col(text)).cast("long").as("n_tokens"))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col(id))
    val run = t.withColumn("__run",
      sum(col("n_tokens")).over(inBucket) - col("n_tokens"))
    val acrossBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__bt"))
      .select(col("__b"),
        coalesce(sum(col("__bt")).over(acrossBuckets), lit(0L)).as("__off"))
    run.join(broadcast(offsets), Seq("__b"))
      .filter(col("n_tokens") > 0)
      .select((col("__run") + col("__off")).as("__start"),
        posexplode(T.tokens(col(text))).as(Seq("__tpos", "__tok")))
      .select((col("__start") + col("__tpos")).as("__gpos"), col("__tok"))
      .groupBy(expr(s"__gpos div ${width}L").as("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("__gpos"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text"))
  }

  /** Fixed-width training-SEQUENCE packing — the back half of the LM
    * export that [[packShards]] fronts: concatenate all docs in `id`
    * order into one global token stream and cut it into exact
    * `width`-token sequences, docs crossing sequence boundaries (the
    * standard pretraining feed: no padding, documents separated only
    * by position). Output is one row per sequence: contributing doc
    * count, first/last doc id, and its token count (= width except
    * possibly the final sequence).
    *
    * Scale shape: each doc's global token offset comes from the same
    * two-level prefix sum as [[packShards]] (in-bucket partitioned
    * window + broadcast #buckets-row offsets — no data-sized
    * single-partition window), then each doc EXPLODES only over the
    * sequences it actually overlaps: fan-out = n_docs +
    * total_tokens/width, and the final per-sequence aggregate shuffles
    * on seq_id. All arithmetic is exact int64 (`div`, not double
    * division). */
  def packSequences(docs: DataFrame, width: Long, bucket: Column,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(width > 0, "width must be positive")
    val t = docs.select(col(id), bucket.as("__b"),
      T.tokenCount(col(text)).cast("long").as("n_tokens"))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col(id))
    val run = t.withColumn("__run",
      sum(col("n_tokens")).over(inBucket) - col("n_tokens"))
    val acrossBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("__b")).agg(sum(col("n_tokens")).as("__bt"))
      .select(col("__b"),
        coalesce(sum(col("__bt")).over(acrossBuckets), lit(0L)).as("__off"))
    val spans = run.join(broadcast(offsets), Seq("__b"))
      .filter(col("n_tokens") > 0) // empty docs occupy no stream positions
      .select(col(id), col("n_tokens"),
        (col("__run") + col("__off")).as("__start"))
      .withColumn("seq_id", explode(sequence(
        expr(s"__start div ${width}L"),
        expr(s"(__start + n_tokens - 1) div ${width}L"))))
      .withColumn("n_seq_tokens",
        least(col("__start") + col("n_tokens"), (col("seq_id") + 1) * width)
          - greatest(col("__start"), col("seq_id") * width))
    spans.groupBy(col("seq_id")).agg(
      count(lit(1)).as("n_docs"),
      min(col(id)).as("first_doc"),
      max(col(id)).as("last_doc"),
      sum(col("n_seq_tokens")).as("n_tokens"))
  }

  /** Stratified quota sampling — the data-mixing primitive: up to
    * `quota` docs per stratum, chosen by a SEEDED deterministic hash
    * order (md5-derived, so any engine reproduces the same sample;
    * changing the seed redraws it). `sample_rank` is the doc's 1-based
    * position in its stratum's draw order, so downstream can cut a
    * smaller quota without resampling.
    *
    * Scale shape: one window partitioned BY THE STRATA — the shuffle
    * key is (lang, source, ...), so parallelism is the stratum count
    * and no global order exists anywhere. Per-stratum top-k via
    * row_number is the rank-and-prune plan Spark pushes into the
    * window sort. */
  def stratifiedSample(docs: DataFrame, quota: Int, seed: Int,
      strata: Seq[String] = Seq("lang", "source"),
      id: String = "doc_id"): DataFrame = {
    require(quota > 0, "quota must be positive")
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(T.hash60(col(id).cast("string"), seed), col(id))
    docs.select((col(id) +: strata.map(col)): _*)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quota)
  }

  /** Rate-based mixture sampling — the data-mixing formulation that
    * survives streaming (no per-stratum counting cursor): given target
    * SHARES per stratum and a target total, each stratum gets
    * acceptance rate r_s = min(1, share_s · total / n_s), and a doc is
    * kept iff its seeded 60-bit hash falls below ⌊r_s · 2⁶⁰⌋ — a
    * deterministic Bernoulli draw, reproducible across engines and
    * re-runs (the property [[stratifiedSample]]'s rank draw has for
    * batch, carried over to rates). Strata absent from `shares` get
    * rate 0 (dropped) — an explicit mixture spec, not a passthrough.
    *
    * Determinism: rate = one double multiply + one divide of exact
    * integers, threshold = one multiply by the exactly-representable
    * 2⁶⁰ + floor — every step is a single correctly-rounded IEEE op,
    * so any engine computes the identical threshold; the accept
    * compare is pure int64.
    *
    * Scale shape: one count aggregation keyed by the stratum, a
    * #strata-row rate table broadcast back, one filter — no windows,
    * no global order, nothing driver-side. */
  def mixtureSample(docs: DataFrame, shares: Seq[(String, Double)],
      targetTotal: Long, seed: Int, stratum: String = "lang",
      id: String = "doc_id"): DataFrame = {
    require(shares.nonEmpty, "mixture spec must name at least one stratum")
    val shareCol = shares.tail.foldLeft(
      when(col(stratum) === lit(shares.head._1), lit(shares.head._2))) {
        case (acc, (s, w)) => acc.when(col(stratum) === lit(s), lit(w))
      }.otherwise(lit(0.0))
    val rates = docs.groupBy(col(stratum))
      .agg(count(lit(1)).as("__n"))
      .select(col(stratum),
        least(lit(1.0),
          shareCol * lit(targetTotal.toDouble) / col("__n").cast("double"))
          .as("accept_rate"))
      .withColumn("__thresh",
        floor(col("accept_rate") * lit(1152921504606846976.0)) // 2^60
          .cast("long"))
    docs.join(broadcast(rates), Seq(stratum))
      .filter(T.hash60(col(id).cast("string"), seed) < col("__thresh"))
      .select(col(id), col(stratum), col("accept_rate"))
  }

  /** Tokenizer-vocabulary build: the k most frequent tokens (with
    * multiplicity) and the share of all token occurrences each covers —
    * the frequency table a BPE/unigram trainer seeds from, and the
    * first question asked of any new corpus ("what does the head of
    * the distribution look like?").
    *
    * Scale shape: one explode + one hash aggregation (map-side combine
    * does the heavy lifting — partial counts per token per partition,
    * so the shuffle carries |vocab| rows, not |tokens|), then TakeOrdered
    * for the top-k (no global sort materializes). The grand total rides
    * the same aggregation via a broadcast 1-row cross join, not a
    * second scan. Ties break on the token string so the cut is
    * deterministic. */
  def topTokens(docs: DataFrame, k: Int,
      text: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(T.tokens(col(text))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"))
    val total = counts.agg(sum(col("n_occ")).as("__total"))
    val w = Window.orderBy(col("n_occ").desc, col("token"))
    counts
      .orderBy(col("n_occ").desc, col("token")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w)) // k rows: tiny window
      .select(col("rank"), col("token"), col("n_occ"),
        (col("n_occ").cast("double") / col("__total").cast("double"))
          .as("coverage"))
  }

  /** Zipf-slope fit over the vocabulary head: OLS of ln(freq) against
    * ln(rank) for the top-k tokens — the slope estimates −α of the
    * corpus's Zipf law, the single-number sanity check of token
    * distribution health (α drifting from ~1 flags boilerplate
    * flooding or over-aggressive cleaning; Zipf 1949, and the fit
    * protocol of Piantadosi 2014's review). k is the head on purpose:
    * the published fits exclude the noisy tail, and bounding the
    * regression to k rows keeps the whole statistic driver-free.
    *
    * Scale shape: [[topTokens]]' explode + map-side-combined count +
    * TakeOrdered; everything after the cut operates on k rows (the
    * declared bounded rank window). Determinism: each ln passes the
    * repo-wide DECIMAL(18,6) channel, per-row products stay at their
    * EXACT product scale (decimal(37,12) — never re-cast to a
    * narrower decimal, because DuckDB truncates decimal→decimal while
    * Spark rounds HALF_UP), the k-row sums are exact decimals, and
    * slope/intercept are a FIXED sequence of IEEE double ops over
    * those exact sums — bit-reproducible in any engine that mirrors
    * the expression order. */
  def zipfSlope(docs: DataFrame, k: Int,
      text: String = "text"): DataFrame = {
    require(k >= 2, s"a regression needs k >= 2 head tokens, got $k")
    val counts = docs
      .select(explode(T.tokens(col(text))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"))
    val w = Window.orderBy(col("n_occ").desc, col("token"))
    val terms = counts
      .orderBy(col("n_occ").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(w)) // k rows: tiny window
      .select(
        log(col("rank").cast("double")).cast("decimal(18,6)").as("x"),
        log(col("n_occ").cast("double")).cast("decimal(18,6)").as("y"))
      .select(col("x"), col("y"),
        (col("x") * col("y")).as("xy"), // decimal(37,12): exact
        (col("x") * col("x")).as("xx"))
    val s = terms.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("xy")).cast("double").as("sxy"),
      sum(col("xx")).cast("double").as("sxx"))
    val nD = col("n").cast("double")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    s.select(col("n"), slope.as("slope"),
      ((col("sy") - slope * col("sx")) / nD).as("intercept"))
  }

  /** Heaps'-law curve: vocabulary size as a function of tokens seen,
    * measured at `nCheckpoints` evenly spaced doc-id cutoffs (Heaps
    * 1978 — V(n) ≈ K·n^β; the sublinearity is what makes open-vocab
    * tokenizers viable, and a bend in this curve is the classic
    * symptom of template/boilerplate corpora). A token counts toward
    * vocabulary at the FIRST doc that contains it, so checkpoint
    * vocab sizes are exact, not sampled.
    *
    * Scale shape: the stream never sorts globally — each token type
    * reduces to its min doc id (map-side-combined), each doc to its
    * token count, both bucket into their covering checkpoint via a
    * 16-element codegen'd HOF (exact integer cutoffs — no double
    * division anywhere), and the only windows are cumulative sums over
    * the nCheckpoints-row spine (declared bounded). The max-id scalar
    * rides as a declared 1-row broadcast attach. */
  def heapsLaw(docs: DataFrame, nCheckpoints: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(nCheckpoints >= 1, s"nCheckpoints=$nCheckpoints")
    val spark = docs.sparkSession
    val nc = lit(nCheckpoints.toLong)
    val maxId = docs.agg(max(col(id)).as("__max"))
    // cp(i) = (max*i) div nCheckpoints, exact in integer arithmetic
    def cp(i: Column, m: Column): Column =
      ((m * i - pmod(m * i, nc)) / nc).cast("long")
    // smallest checkpoint index whose cutoff covers v
    def bucketOf(v: Column, m: Column): Column =
      array_min(filter(
        transform(sequence(lit(1L), nc), i => when(cp(i, m) >= v, i)),
        x => x.isNotNull))
    val toks = docs.select(col(id), explode(T.tokens(col(text))).as("tok"))
    val firstDoc = toks.groupBy(col("tok")).agg(min(col(id)).as("fd"))
      .crossJoin(broadcast(maxId)) // declared 1-row scalar attach
      .select(bucketOf(col("fd"), col("__max")).as("ck"))
      .groupBy(col("ck")).agg(count(lit(1)).as("new_types"))
    val docToks = docs
      .select(col(id), size(T.tokens(col(text))).cast("long").as("nt"))
      .crossJoin(broadcast(maxId))
      .select(bucketOf(col(id), col("__max")).as("ck"), col("nt"))
      .groupBy(col("ck")).agg(sum(col("nt")).as("new_tokens"))
    import spark.implicits._
    val spine = (1L to nCheckpoints.toLong).toDF("ck")
      .crossJoin(broadcast(maxId))
      .select(col("ck"), cp(col("ck"), col("__max")).as("cut_doc_id"))
    val w = Window.orderBy(col("ck")) // nCheckpoints rows: tiny window
    spine
      .join(firstDoc, Seq("ck"), "left")
      .join(docToks, Seq("ck"), "left")
      .select(col("ck").as("ckpt"), col("cut_doc_id"),
        sum(coalesce(col("new_tokens"), lit(0L))).over(w)
          .as("tokens_seen"),
        sum(coalesce(col("new_types"), lit(0L))).over(w)
          .as("vocab_size"))
      .orderBy(col("ckpt"))
  }

  /** Occurrence-weighted token-rarity scoring — the CCNet-style LM
    * quality filter's shape with a determinism-safe statistic: each
    * token occurrence scores the odds-ratio rarity
    * (n_docs − df + 0.5)/(df + 0.5) of its type (the same log-free
    * idf-odds as [[graft.ops.Retrieval]]'s BM25 — ln is <1 ulp, not
    * exactly rounded, so engines may legally disagree on it), and a
    * doc's score is the mean over its occurrences. High = dominated by
    * rare types (gibberish/IDs), low = common-word text; threshold it
    * like a perplexity filter.
    *
    * Determinism: per-occurrence rarity is a few single IEEE ops on
    * exact-integer-derived doubles; the per-doc sum folds the SORTED
    * occurrence list (one deterministic order on any partitioning —
    * the q102 idiom), and the mean is one final division.
    *
    * Scale shape: one distinct (doc, token) pass → df agg (shuffle
    * carries |vocab|), one equi-join of occurrences to the df table,
    * one per-doc aggregation whose list is bounded by doc length. No
    * similarity join, no window. */
  def rarityScores(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val toks = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(T.tokens(col(text))).as("tok"))
    val dfreq = toks.select(col(id), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("__df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    toks.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__r",
        ((col("__n_docs") - col("__df")) + 0.5) / (col("__df") + 0.5))
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_tokens"),
        aggregate(sort_array(collect_list(col("__r"))), lit(0.0),
          (a, b) => a + b).as("__sum_r"))
      .select(col(id), col("n_tokens"),
        (col("__sum_r") / col("n_tokens").cast("double")).as("rarity"))
  }

  /** BPE merge-pair statistics — the inner quantity a byte-pair
    * tokenizer trainer maximizes each merge round: the corpus-weighted
    * frequency of adjacent character pairs. Computed the way
    * production BPE trainers do it — over the WORD HISTOGRAM, not the
    * raw corpus: the vocabulary aggregation compresses the corpus to
    * |vocab| rows first, and the char-pair explode runs on distinct
    * words weighted by their counts, so per-character work is
    * O(|vocab| · word-length) no matter how many times a word repeats.
    * Top-k pairs with deterministic (count desc, pair asc) tie-break,
    * [[topTokens]]-style.
    *
    * Scale shape: one token explode + hash agg (shuffle carries
    * |vocab|), one bounded explode over distinct words, one hash agg
    * on the pair (|char-bigram| rows), TakeOrdered for the cut. */
  def bpePairStats(docs: DataFrame, k: Int,
      text: String = "text"): DataFrame = {
    val vocab = graft.ops.Compute.spread(docs)
      .select(explode(split(col(text), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = vocab.select(col("wc"), explode(expr(
      "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
      .as("pair"))
    val agg = pairs.groupBy(col("pair")).agg(sum(col("wc")).as("n_occ"))
    val w = Window.orderBy(col("n_occ").desc, col("pair"))
    agg.orderBy(col("n_occ").desc, col("pair")).limit(k)
      .withColumn("rank", row_number().over(w)) // k rows: tiny window
      .select(col("rank"), col("pair"), col("n_occ"))
  }

  /** Corpus-level duplicated-span fraction (the Lee et al. 2021
    * "Deduplicating Training Data" diagnostic): per document, the
    * share of its DISTINCT word n-gram windows that also occur in at
    * least one OTHER document. Doc-level dedup (q18/q23) misses
    * boilerplate shared across otherwise-distinct pages; this is the
    * signal that finds it. Docs shorter than n grams score 0 over 0.
    *
    * Scale shape: one native shingle pass (explode), distinct
    * (doc, gram-hash) pairs, one aggregation for per-gram document
    * frequency, one equi-join back on the 60-bit gram hash, one
    * per-doc aggregation. Two shuffles on the gram hash + one on the
    * doc id — no similarity join, no candidate blowup; cost ∝ total
    * grams, which is the floor for this statistic. */
  def dupSpanFraction(docs: DataFrame, n: Int = 8, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val grams = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(T.shinglesOf(col(text), n)).as("g"))
      .select(col(id), T.hash60(col("g"), 0).as("h"))
      .distinct()
    val df = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__df"))
    val perDoc = grams.join(df, Seq("h"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__df") >= 2, 1)).as("n_dup_grams"))
    docs.select(col(id))
      .join(perDoc, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup_grams").cast("double") /
            col("n_grams").cast("double"))
          .as("dup_fraction"))
  }

  /** Duplicated-span REMOVAL — the cleaning op behind
    * [[dupSpanFraction]]'s diagnostic (Lee et al. 2021's dedup applied,
    * not just measured, restricted to word n-grams): a token is removed
    * iff it lies inside any n-gram window that occurs in ≥ 2 distinct
    * documents; the output doc is the surviving tokens re-joined.
    * Within-doc repeats deliberately do NOT count (q84's repetition
    * score owns that signal) — the target is cross-document boilerplate.
    *
    * Scale shape: the df side is exactly [[dupSpanFraction]]'s (native
    * positional shingles → distinct (doc, gram-hash) → one hash agg on
    * the gram hash → equi-join back); the duplicated START POSITIONS
    * then aggregate per doc (`collect_set`, bounded by grams-per-doc)
    * and the final cleanup is a narrow per-row array pass — coverage
    * test per token over the doc's own dup-start list, no shuffle
    * beyond the df join. No similarity join anywhere; cost ∝ total
    * grams + Σ(tokens · dup-starts) per doc. */
  def removeDupSpans(docs: DataFrame, n: Int = 5, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pos = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id),
        posexplode(T.shinglesOf(col(text), n)).as(Seq("st", "g")))
      .select(col(id), col("st"), T.hash60(col("g"), 0).as("h"))
    val dupHashes = pos.select(col(id), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val dupStarts = pos.join(dupHashes, Seq("h"))
      .groupBy(col(id)).agg(collect_set(col("st")).as("__dup"))
    docs.select(col(id), col(text))
      .join(dupStarts, Seq(id), "left")
      .withColumn("__toks", split(col(text), " "))
      .withColumn("__dup",
        coalesce(col("__dup"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(col("__dup"), s => s <= i && i <= s + (n - 1))))
      .select(col(id),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        array_join(col("__kept"), " ").as("text_clean"))
  }

  /** ExactSubstr duplicated-span detection (Lee et al. 2021 §3, the
    * suffix-array companion to [[removeDupSpans]]'s fixed-gram rule):
    * report every MAXIMAL run of tokens covered by some substring of
    * ≥ k tokens that occurs at least twice in the corpus — including
    * a verbatim repeat inside a single document, which the df-based
    * [[removeDupSpans]] deliberately ignores. The suffix-array
    * construction reduces exactly to k-gram coverage: a substring of
    * length m ≥ k repeats iff each of its k-token windows repeats at
    * the matching offsets, and conversely any position inside a
    * window whose k-gram occurs twice lies in a repeated k-token
    * substring — so covered positions = union of [st, st+k) over
    * start positions whose k-gram has global OCCURRENCE count ≥ 2,
    * and the variable-length duplicates q94/q107 miss fall out as the
    * merged intervals, reported with their actual lengths.
    *
    * Scale shape: positional shingle pass (explode), one hash agg on
    * the 60-bit gram hash for occurrence counts, equi-join back, then
    * interval-merge inside a doc-partitioned window (lag + running
    * sum — never an unpartitioned window) and a per-span aggregation.
    * Two gram-hash shuffles + one doc-id shuffle; cost ∝ total grams,
    * the same floor as [[dupSpanFraction]] — no suffix ARRAY is ever
    * materialized, which is what makes the published algorithm
    * cluster-shaped here. */
  def exactSubstrSpans(docs: DataFrame, k: Int = 8, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    // occurrence counts via a gram-hash-partitioned window, not
    // agg + join-back: the count and the per-position filter happen in
    // ONE pass over one exchange, so the shingle+md5 scan — the cost
    // floor — runs exactly once
    val pos = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id),
        posexplode(T.shinglesOf(col(text), k)).as(Seq("st", "g")))
      .select(col(id), col("st"), T.hash60(col("g"), 0).as("h"))
    val starts = pos
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__n") >= 2)
      .select(col(id), col("st"))
    val w = Window.partitionBy(col(id)).orderBy(col("st"))
    // a start opens a NEW span iff its window [st, st+k) leaves a hole
    // after the previous one; span ids are the running count of opens
    val flagged = starts
      .withColumn("__prev", lag(col("st"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("st") > col("__prev") + k, 1)
          .otherwise(0))
      .withColumn("__span", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(id), col("__span"))
      .agg(min(col("st")).as("__s"), max(col("st")).as("__e"))
      .select(col(id), col("__s").cast("long").as("span_start"),
        (col("__e") + k - col("__s")).cast("long").as("span_len"))
  }

  /** ExactSubstr REMOVAL — [[exactSubstrSpans]] applied as a cleaning
    * op (Lee et al. 2021 §3.2): every token covered by a ≥ k-token
    * substring occurring ≥ 2 times anywhere in the corpus is cut and
    * the survivors re-joined — the released tool's behavior (every
    * occurrence goes; the paper notes keeping one copy changes
    * little). Differs from [[removeDupSpans]] exactly as q191 differs
    * from q94: occurrence count (within-doc repeats duplicate too),
    * not cross-document frequency.
    *
    * Scale shape: the dup-start side is [[exactSubstrSpans]]'s
    * one-pass windowed count; starts then aggregate per doc
    * (`collect_set`, bounded by grams-per-doc) and the cleanup is
    * [[removeDupSpans]]'s narrow per-row array pass. */
  def exactSubstrRemove(docs: DataFrame, k: Int = 8, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pos = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id),
        posexplode(T.shinglesOf(col(text), k)).as(Seq("st", "g")))
      .select(col(id), col("st"), T.hash60(col("g"), 0).as("h"))
    val dupStarts = pos
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__n") >= 2)
      .groupBy(col(id)).agg(collect_set(col("st")).as("__dup"))
    docs.select(col(id), col(text))
      .join(dupStarts, Seq(id), "left")
      .withColumn("__toks", split(col(text), " "))
      .withColumn("__dup",
        coalesce(col("__dup"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(col("__dup"), s => s <= i && i <= s + (k - 1))))
      .select(col(id),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"),
        array_join(col("__kept"), " ").as("text_clean"))
  }

  /** Epoch-weighted mixture UPSAMPLING — the data-recipe complement
    * of [[mixtureSample]]: there the acceptance rate is capped at 1
    * (pure downsampling); here a stratum whose target share exceeds
    * its natural share gets rate > 1 and each doc is emitted
    * floor(rate) times plus one more with probability frac(rate),
    * decided by the seeded 60-bit hash (deterministic: the replica
    * set (doc_id, copy) is stable across runs and engines). This is
    * how high-quality sources run >1 epoch in a fixed-token-budget
    * mixture.
    *
    * Scale shape: one count aggregation (|strata| rows) broadcast
    * back, then a generate-per-row explode — output size is the only
    * cost, there is no shuffle of the corpus itself. */
  def upsampleMixture(docs: DataFrame, shares: Seq[(String, Double)],
      targetTotal: Long, seed: Int, stratum: String = "lang",
      id: String = "doc_id"): DataFrame = {
    val shareCol = shares.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    val rates = docs.groupBy(col(stratum))
      .agg(count(lit(1)).as("__n"))
      .select(col(stratum),
        (shareCol * lit(targetTotal.toDouble) / col("__n").cast("double"))
          .as("rate"))
      .withColumn("__base", floor(col("rate")))
      .withColumn("__thresh",
        floor((col("rate") - col("__base").cast("double"))
          * lit(1152921504606846976.0)) // 2^60
          .cast("long"))
    docs.join(broadcast(rates), Seq(stratum))
      .withColumn("n_copies",
        col("__base") +
          when(T.hash60(col(id).cast("string"), seed) < col("__thresh"),
            lit(1L)).otherwise(lit(0L)))
      .filter(col("n_copies") >= 1)
      .select(col(id), col(stratum), col("rate"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** Context-window chunking: each doc's token stream cut into
    * windows of `width` tokens every `stride` tokens (overlap =
    * width − stride) — the shape a pretraining tokenizer feed or a
    * RAG indexer consumes. One narrow projection + one explode; no
    * shuffle, no join. The token array is carried once per emitted
    * chunk (bounded ×⌈n/stride⌉ fan-out, a small constant). Chunk
    * identity is the seeded 60-bit content hash, so chunk-level dedup
    * composes with the q18 fingerprint machinery unchanged. */
  def chunkTokens(docs: DataFrame, width: Int, stride: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(stride > 0 && width >= stride, "need 0 < stride <= width")
    docs
      .select(col(id), T.tokens(col(text)).as("ws"))
      .select(col(id), col("ws"),
        explode(sequence(lit(1), size(col("ws")), lit(stride))).as("start"))
      .select(col(id), col("start").cast("int").as("start"),
        size(slice(col("ws"), col("start"), lit(width))).as("n_chunk_toks"),
        T.hash60(concat_ws(" ", slice(col("ws"), col("start"), lit(width))), 0)
          .as("chunk_hash"))
  }

  /** Deterministic train/val/test assignment: seeded 60-bit hash of
    * the id, taken mod 100, against cumulative percentage cuts.
    * Stable across runs, partitionings and engines (no RNG state, no
    * global sort), and independent of any stratum column, so the split
    * is uniform within every stratum by construction. */
  def splitAssign(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10,
      seed: Int = 21, id: String = "doc_id"): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val h = T.hash60(col(id).cast("string"), seed) % 100
    docs.withColumn("split",
      when(h < trainPct, "train")
        .when(h < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** GROUP-keyed split — the leakage-safe variant of [[splitAssign]]:
    * the seeded hash draws on `groupCol` instead of the row id, so
    * every row of a group lands in the SAME split. With near-dup
    * cluster ids as the group this is the standard guard against
    * duplicate-induced eval inflation (a test doc whose near-twin
    * sits in train scores as memorization, not generalization — the
    * Lee et al. 2021 §6 failure); with user/session ids it is the
    * grouped split every ML framework ships. Same deterministic
    * 60-bit draw as [[splitAssign]], replayable and oracle-exact. */
  def splitAssignBy(df: DataFrame, groupCol: String, trainPct: Int = 80,
      valPct: Int = 10, seed: Int = 21): DataFrame = {
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val h = T.hash60(col(groupCol).cast("string"), seed) % 100
    df.withColumn("split",
      when(h < trainPct, "train")
        .when(h < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** BLOOM-FILTER decontamination — the sketch variant of
    * [[decontaminate]] for the case where the benchmark gram set is
    * too large to ship exactly (or must be shared without revealing
    * the grams): the benchmark compresses to a bit set (`m` bits, `k`
    * seeded hashes per gram — the classic Bloom membership sketch),
    * and a corpus gram is "possibly contaminated" iff ALL its k bit
    * positions are set. False positives at the standard Bloom rate
    * (deterministic here — both engines compute the same bits);
    * false negatives impossible, so the flagged set is a SUPERSET of
    * [[decontaminate]]'s exact hits — the safe direction for
    * contamination removal.
    *
    * Scale shape: the bit set is ≤ m rows (broadcast); corpus grams
    * explode to k positions each, join the broadcast bits, and a
    * gram counts as hit iff its DISTINCT matched positions equal its
    * distinct position count. Cost ∝ k · corpus grams, no shuffle of
    * the corpus itself. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 4, m: Int = 65536, k: Int = 3, seedBase: Int = 200,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(m >= 2 && k >= 1, "need m >= 2 and k >= 1")
    def positions(g: Column): Column =
      array_distinct(array((0 until k).map(j =>
        T.hash60(g, seedBase + j) % m): _*))
    val bits = benchmark
      .select(explode(array_distinct(T.shinglesOf(col(text), n))).as("g"))
      .select(explode(positions(col("g"))).as("bit"))
      .distinct()
    val cg = graft.ops.Compute.spread(corpus.select(col(id), col(text)))
      .select(col(id),
        explode(array_distinct(T.shinglesOf(col(text), n))).as("g"))
      .select(col(id), T.hash60(col("g"), 0).as("gh"),
        positions(col("g")).as("__ps"))
      .withColumn("__np", size(col("__ps")))
    cg.select(col(id), col("gh"), col("__np"),
        explode(col("__ps")).as("bit"))
      .join(broadcast(bits), Seq("bit"))
      .groupBy(col(id), col("gh"), col("__np"))
      .agg(count(lit(1)).as("__hit"))
      .filter(col("__hit") === col("__np"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Content-overlap STITCH pairs — adjacency recovery for chunked /
    * paginated corpora: directed pairs (a, b) where a's last `k`
    * tokens equal b's first `k` tokens, the signature of a document
    * split into overlapping chunks (or a scrape paginating with
    * carried-over trailing content). Rows shorter than 2k are skipped
    * (their prefix and suffix overlap — a degenerate self-signal).
    *
    * Scale shape: one narrow projection computes each row's prefix
    * and suffix 60-bit hashes, then ONE equi-join on the hash —
    * never any pairwise scan; fan-out is bounded by hash-bucket
    * multiplicity (how many rows genuinely share that k-gram). */
  def stitchPairs(docs: DataFrame, k: Int = 8, id: String = "chunk_id",
      text: String = "text"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val t = docs.select(col(id), T.tokens(col(text)).as("__ws"))
      .filter(size(col("__ws")) >= 2 * k)
      .select(col(id),
        T.hash60(concat_ws(" ", slice(col("__ws"), lit(1), lit(k))), 0)
          .as("__pre"),
        T.hash60(concat_ws(" ", slice(col("__ws"), lit(-k), lit(k))), 0)
          .as("__suf"))
    t.select(col(id).as("id_a"), col("__suf").as("__h"))
      .join(t.select(col(id).as("id_b"), col("__pre").as("__h")), Seq("__h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Corpus SNAPSHOT DIFF — the change feed between two corpus
    * versions: full outer join on the doc id comparing content
    * fingerprints, emitting `added` (new id), `removed` (gone id),
    * `changed` (same id, different normalized content). The
    * incremental-reprocessing driver: downstream stages (dedup state,
    * embeddings, shards) re-run only on this delta instead of the
    * whole corpus.
    *
    * Scale shape: two narrow fingerprint projections + one equi-join
    * on the id; unchanged rows (the overwhelming majority) are
    * filtered before anything downstream sees them. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val p = prev.select(col(id).as("__ip"), T.fingerprint(col(text)).as("__fp"))
    val c = curr.select(col(id).as("__ic"), T.fingerprint(col(text)).as("__fc"))
    p.join(c, col("__ip") === col("__ic"), "full_outer")
      .select(coalesce(col("__ip"), col("__ic")).as(id),
        when(col("__ip").isNull, "added")
          .when(col("__ic").isNull, "removed")
          .when(col("__fp") =!= col("__fc"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Train/test LEAKAGE audit — the split-integrity check run after
    * [[splitAssign]]: near-duplicate pairs that CROSS the train
    * boundary (one side lands in train, the other in val/test), each
    * verified by exact n-gram Jaccard ≥ `minJ`. Exact-dup leakage is
    * caught by dedup-before-split; this catches the near-dup leaks —
    * the documents whose paraphrase/re-crawl sits in train while the
    * original is held out, silently inflating eval scores.
    *
    * Scale shape: candidates come from the banded-LSH equi-join
    * (never all-pairs), the split filter prunes to crossing pairs
    * BEFORE verification, and the exact-Jaccard verify joins shingle
    * sets only for surviving candidates (cost ∝ candidate pairs ×
    * shingles, on the 64-bit gram hash). */
  def trainTestLeak(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10,
      seed: Int = 21, minJ: Double = 0.5, n: Int = 3, k: Int = 16,
      bandRows: Int = 4, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val split = splitAssign(docs.select(col(id)), trainPct, valPct, seed, id)
      .select(col(id), col("split"))
    val sig = Dedup.minhashSignatures(docs, id, text, n, k)
    val cross = Dedup.lshCandidatePairs(sig, id, k, bandRows)
      .select(col("id_a"), col("id_b"))
      .join(split.select(col(id).as("id_a"), col("split").as("__sa")), "id_a")
      .join(split.select(col(id).as("id_b"), col("split").as("__sb")), "id_b")
      .filter((col("__sa") === "train") =!= (col("__sb") === "train"))
    // exact verify on the crossing candidates only
    val idx = Dedup.shingleIndex(docs, id, text, n)
      .select(col(id), xxhash64(col("sh")).as("sh"))
    val sizes = idx.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val inter = cross
      .join(idx.select(col(id).as("id_a"), col("sh")), Seq("id_a"))
      .join(idx.select(col(id).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("__na")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("__nb")), "id_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("__na") + col("__nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(
        when(col("__sa") =!= "train", col("id_a")).otherwise(col("id_b"))
          .as("leak_id"),
        when(col("__sa") =!= "train", col("__sa")).otherwise(col("__sb"))
          .as("split"),
        when(col("__sa") === "train", col("id_a")).otherwise(col("id_b"))
          .as("train_id"),
        col("jaccard"))
  }

  /** Cross-source contamination matrix: for every source pair, how
    * many distinct whole-document fingerprints AND distinct n-gram
    * span hashes they share — the provenance-level duplication
    * diagnostic (document-level replication vs boilerplate bleed)
    * that drives dedup-before-mixing decisions. Each key set is
    * distinct per source first, so both equi-joins' fan-out is
    * bounded by per-key source multiplicity (≤ #sources), never
    * all-pairs; each shared key then contributes exactly one joined
    * row per pair, so plain count(*) IS the distinct count. The two
    * pair tables meet in a full outer join: a pair can share spans
    * without whole-doc dups (the common case) or — for sub-n-token
    * docs — fingerprints without spans. */
  def crossSourceOverlap(docs: DataFrame, text: String = "text",
      source: String = "source", gramN: Int = 5): DataFrame = {
    // Per shared key: aggregate its sorted distinct source set, then
    // explode every i<j pair from that (≤ #sources)-element array —
    // ONE aggregation instead of a key self-join. The self-join
    // formulation shuffles the full (source, key) set twice and
    // re-derives the same pairs from a larger intermediate; here the
    // shuffle carries each key once and pair fan-out is bounded by
    // C(|sources sharing key|, 2) ≤ C(#sources, 2), a small constant.
    // The sorted set makes source_a < source_b by construction.
    def pairCounts(keyed: DataFrame, out: String): DataFrame =
      keyed.groupBy(col("k"))
        .agg(sort_array(collect_set(col(source))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(flatten(transform(col("ss"), (x, i) =>
          transform(slice(col("ss"), i + lit(2), size(col("ss"))),
            y => struct(x.as("source_a"), y.as("source_b")))))).as("p"))
        .groupBy(col("p.source_a").as("source_a"),
          col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as(out))
    val fps = pairCounts(
      docs.select(col(source), T.fingerprint(col(text)).as("k")).distinct(),
      "n_shared_fps")
    val spans = pairCounts(
      graft.ops.Compute.spread(docs.select(col(source), col(text)))
        .select(col(source), explode(T.shinglesOf(col(text), gramN)).as("g"))
        .select(col(source), T.hash60(col("g"), 0).as("k")).distinct(),
      "n_shared_grams")
    fps.join(spans, Seq("source_a", "source_b"), "full_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
  }

  /** Deterministic weighted sampling — the priority-sampling scheme of
    * Duffield/Lund/Thorup (priority q = u/w for u uniform): per
    * stratum, keep the k docs with SMALLEST priority
    * hash60(id)/weight, so inclusion probability grows with weight
    * (a doc with 2× the weight halves its priority). The uniform draw
    * is the seeded 60-bit hash, so the sample is stable across runs,
    * partitionings and engines, and the priority itself is one
    * exactly-rounded double division — oracle-checkable bit-for-bit.
    *
    * Scale shape: the per-stratum window is the q87 pattern
    * (parallelism = stratum count); for huge strata or tiny k the
    * mergeable bottom-k aggregator ([[graft.functions.BottomKSample]],
    * q91) computes the same smallest-priority set with bounded memory
    * and no window sort. */
  def weightedSample(docs: DataFrame, k: Int, weight: Column, seed: Int,
      stratum: String = "lang", id: String = "doc_id"): DataFrame = {
    val pr = T.hash60(col(id).cast("string"), seed).cast("double") /
      weight.cast("double")
    val w = Window.partitionBy(col(stratum))
      .orderBy(col("priority").asc, col(id).asc)
    docs.withColumn("priority", pr)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** CCNet-style sub-document dedup, re-expressed for a token-stream
    * corpus: each doc splits into consecutive `blockTokens`-token
    * blocks (the "paragraph" analog when the text carries no newline
    * structure), a block occurrence survives only if it is the
    * corpus-wide FIRST occurrence of its content hash (lexicographic
    * (id, block_idx) — deterministic on any partitioning), and the doc
    * is rebuilt from its surviving blocks. Unlike whole-doc dedup
    * (q18) this removes the *shared regions* of partially-overlapping
    * docs; unlike dup-span removal (q107, df-threshold on grams) the
    * criterion is strict first-occurrence, so the corpus-wide content
    * is emitted exactly once.
    *
    * Scale shape: block construction is a narrow higher-order
    * projection (no shuffle); the keeper draw is one hash aggregation
    * on the block hash + one equi-join back; the rebuild is one
    * per-doc aggregation with a bounded sorted-array fold. Nothing is
    * all-pairs and no window runs over a data-sized partition. */
  def dedupBlocks(docs: DataFrame, blockTokens: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val b = lit(blockTokens)
    val blocks = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id), T.tokens(col(text)).as("__ws"))
      .select(col(id), posexplode(transform(
        sequence(lit(0),
          ceil(size(col("__ws")).cast("double") / b.cast("double"))
            .cast("int") - 1),
        i => concat_ws(" ", slice(col("__ws"), i * b + 1, b))))
        .as(Seq("block_idx", "block")))
      .withColumn("__h", T.hash60(col("block"), 0))
    val keepers = blocks.groupBy(col("__h"))
      .agg(min(struct(col(id), col("block_idx"))).as("__k"))
    blocks.join(keepers, Seq("__h"))
      .withColumn("__kept",
        col(id) === col(s"__k.$id") && col("block_idx") === col("__k.block_idx"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(!col("__kept"), 1)).as("n_dup_blocks"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__kept"), struct(col("block_idx"), col("block"))))),
          s => s("block"))).as("text_clean"))
  }

  /** Gopher-style composite quality rules (Rae et al. 2021, §A1.1
    * adapted to the word-token corpus): each heuristic is a NAMED
    * boolean column so a curation dashboard can attribute kills per
    * rule, and `pass` is their conjunction. All metrics are
    * exact-integer-derived (counts, one final division each), so the
    * whole rule table is oracle-checkable.
    *
    * Scale shape: one narrow projection — per-row token-array work,
    * no shuffle, no join; codegen keeps it in one stage. */
  def gopherRules(docs: DataFrame,
      minTokens: Long = 10, maxTokens: Long = 10000,
      minAvgLen: Double = 2.0, maxAvgLen: Double = 12.0,
      minAlphaFrac: Double = 0.7, minStopHits: Long = 2,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = T.tokens(col(text))
    val n = T.tokenCount(col(text)).cast("long")
    docs.select(col(id),
        n.as("n_tokens"),
        ((length(col(text)) - n + 1).cast("double") / n.cast("double"))
          .as("avg_token_len"),
        (size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
          n.cast("double")).as("alpha_frac"),
        T.stopwordHits(toks, T.lexicons.toMap.apply("en")).cast("long")
          .as("stop_hits"))
      .withColumn("r_token_count",
        col("n_tokens").between(minTokens, maxTokens))
      .withColumn("r_avg_len",
        col("avg_token_len").between(minAvgLen, maxAvgLen))
      .withColumn("r_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("r_stopwords", col("stop_hits") >= minStopHits)
      .withColumn("pass",
        col("r_token_count") && col("r_avg_len") &&
          col("r_alpha") && col("r_stopwords"))
  }

  /** Temperature-flattened mixture weights at α = 1/2 (the multilingual
    * / multi-source sampling rule of mBERT/XLM-R and data-mixing
    * recipes): source share ∝ sqrt(p_i), which upweights small sources
    * relative to proportional sampling without letting any source
    * dominate. α is pinned to 1/2 because sqrt is an IEEE
    * correctly-rounded operation — any engine computing it on the same
    * exact-integer-derived double gets the same bits, which a general
    * pow(p, α) does NOT guarantee; other temperatures belong behind
    * the same shape with an engine-pinned rounding channel.
    *
    * Scale shape: one count aggregation (shuffle carries #sources
    * rows), two 1-row broadcast scalar attaches (grand total and the
    * sorted-fold normalizer — the q102 determinism idiom). */
  def temperatureShares(docs: DataFrame,
      stratum: String = "source"): DataFrame = {
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__n"))
    val withW = counts.crossJoin(broadcast(total))
      .withColumn("p", col("n_docs").cast("double") / col("__n").cast("double"))
      .withColumn("__w", sqrt(col("p")))
    val z = withW.agg(
      aggregate(sort_array(collect_list(col("__w"))), lit(0.0),
        (a, x) => a + x).as("__z"))
    withW.crossJoin(broadcast(z))
      .select(col(stratum), col("n_docs"), col("p"),
        (col("__w") / col("__z")).as("share"))
  }

  /** Boilerplate-prefix detection: docs of one source opening with the
    * same `prefixTokens`-token prefix are template instances (scraped
    * headers, licence banners, form letters); per (source, prefix)
    * document frequency flags them. The Dolma/C4-style boilerplate
    * diagnostic re-expressed for the token-stream corpus (no line
    * structure to hash, so the prefix window stands in for "first
    * line").
    *
    * Scale shape: one narrow prefix-hash projection, one count
    * aggregation on (source, prefix-hash), one equi-join back —
    * df-table cardinality is bounded by distinct prefixes. */
  def boilerplatePrefix(docs: DataFrame, prefixTokens: Int = 8,
      minDf: Long = 3, id: String = "doc_id", source: String = "source",
      text: String = "text"): DataFrame = {
    require(prefixTokens > 0, "prefixTokens must be positive")
    val pfx = concat_ws(" ", slice(T.tokens(col(text)), 1, prefixTokens))
    val t = docs.select(col(id), col(source), T.hash60(pfx, 0).as("__ph"))
    val dfs = t.groupBy(col(source), col("__ph"))
      .agg(count(lit(1)).as("prefix_df"))
    t.join(dfs, Seq(source, "__ph"))
      .select(col(id), col(source), col("prefix_df"),
        (col("prefix_df") >= minDf).as("is_boilerplate"))
  }

  /** Out-of-vocabulary rate against the corpus' own top-`vocabSize`
    * token head — the tokenizer-coverage diagnostic run before
    * committing a vocab: what fraction of each doc's occurrences a
    * candidate vocabulary would miss. Cut ties break (count desc,
    * token asc) so the vocab set is deterministic.
    *
    * Scale shape: one token df aggregation (map-side combined), a
    * TakeOrdered head for the vocab, one BROADCAST left join of the
    * occurrence stream against the tiny vocab, one per-doc count
    * aggregation. The occurrence stream is never shuffled except by
    * doc id. */
  def oovRate(docs: DataFrame, vocabSize: Int = 20,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id), explode(T.tokens(col(text))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Adjacent-bigram collocation mining ranked by LIFT — PMI's
    * argument without its logarithm (ln is not exactly rounded, so
    * engines may legally disagree on it; lift orders identically):
    * lift(a,b) = P(ab) / (P(a)·P(b)), with P from exact integer
    * counts and the ratio a fixed chain of IEEE double ops. Top-k by
    * (count desc, pair asc) — the deterministic frequency cut; lift
    * annotates strength.
    *
    * Scale shape: unigram and bigram passes are explode + hash agg
    * (map-side combined, shuffles carry |vocab| and |bigram vocab|);
    * the cut is TakeOrdered; the tiny top-k side then equi-joins the
    * unigram table and picks up the two grand totals as 1-row
    * broadcast attaches. */
  def collocationLift(docs: DataFrame, k: Int,
      text: String = "text"): DataFrame = {
    val toks = graft.ops.Compute.spread(docs.select(col(text)))
      .select(T.tokens(col(text)).as("ws"))
    val uni = toks.select(explode(col("ws")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val n1 = uni.agg(sum(col("n_tok")).as("__n1"))
    val bi = toks
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("tok_a"), b.as("tok_b")))).as("p"))
      .select(col("p.tok_a").as("tok_a"), col("p.tok_b").as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
    val n2 = bi.agg(sum(col("n_ab")).as("__n2"))
    bi.orderBy(col("n_ab").desc, col("tok_a"), col("tok_b")).limit(k)
      .join(uni.select(col("tok").as("tok_a"), col("n_tok").as("__na")),
        Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("n_tok").as("__nb")),
        Seq("tok_b"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        ((col("n_ab").cast("double") / col("__n2").cast("double")) /
          ((col("__na").cast("double") / col("__n1").cast("double")) *
            (col("__nb").cast("double") / col("__n1").cast("double"))))
          .as("lift"))
  }

  /** Content-defined chunking (the Rabin/CDC scheme of storage dedup
    * and incremental-ingest pipelines, over tokens): a chunk boundary
    * falls AFTER token i wherever the rolling window hash of the last
    * `w` tokens ending at i satisfies `hash % (1<<maskBits) == 0`, plus
    * a forced boundary at the doc end. Unlike fixed-stride chunking
    * (q99), an insertion near the start shifts only the chunks up to
    * the next content boundary — every later chunk re-aligns and
    * dedups against the previous version (the property CDC exists
    * for). Expected chunk length = 2^maskBits tokens.
    *
    * Scale shape: boundary detection and span construction are one
    * narrow higher-order projection over the token array (no shuffle,
    * no join); the explode fan-out is #chunks ≈ n_tokens/2^maskBits.
    * Chunk identity is the seeded 60-bit content hash, so chunk-level
    * dedup composes with the q18 fingerprint machinery unchanged. */
  def contentDefinedChunks(docs: DataFrame, w: Int = 3, maskBits: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(w > 0 && maskBits >= 1 && maskBits <= 20,
      "need w > 0 and maskBits in [1,20]")
    val mask = 1L << maskBits
    val ws = col("__ws")
    val n = size(ws)
    // candidate boundary positions (1-based, after token i), i in [w, n]
    val bpos = when(n >= w,
      filter(sequence(lit(w), n),
        i => T.hash60(concat_ws(" ", slice(ws, i - w + 1, lit(w))), 0) % mask
          === 0L)).otherwise(array().cast("array<int>"))
    docs.select(col(id), T.tokens(col(text)).as("__ws"))
      .withColumn("__bs", bpos)
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bs"), b => b + 1)))
      .withColumn("__ends", concat(col("__bs"), array(n)))
      .select(col(id), col("__ws"), posexplode(
        filter(zip_with(col("__starts"), col("__ends"),
          (s, e) => struct(s.as("s"), e.as("e"))), p => p("s") <= p("e")))
        .as(Seq("chunk_idx", "span")))
      .select(col(id), col("chunk_idx"),
        (col("span.e") - col("span.s") + 1).cast("long").as("n_chunk_toks"),
        T.hash60(concat_ws(" ",
          slice(col("__ws"), col("span.s"), col("span.e") - col("span.s") + 1)),
          0).as("chunk_hash"))
  }

  /** EXACT corpus quantiles of the token-length distribution via a
    * value histogram — the scale-safe formulation for any
    * bounded-cardinality metric: aggregate counts per DISTINCT length
    * (map-side combined; cardinality ≤ max doc length, thousands not
    * billions), run the cumulative sum over that tiny table (the
    * deliberate q86-offsets-style bounded single-partition window),
    * and each requested p picks the smallest value whose cumulative
    * count reaches the nearest-rank cutoff ⌈p·N⌉. No global sort of
    * the data, no approximation — percentile_approx exists for the
    * unbounded-cardinality case, this is the exact path when the
    * domain is small.
    *
    * The p × distinct-values probe join is a bounded nested loop
    * (|ps| · |lengths| pairs) — declared, constant-sized. */
  def lengthQuantiles(docs: DataFrame, ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      text: String = "text"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "quantiles must lie in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val c = docs.select(T.tokenCount(col(text)).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("__n"))
    // bounded single-partition window: one row per DISTINCT length
    val cum = c.withColumn("__cum",
      sum(col("__n")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = c.agg(sum(col("__n")).as("__t"))
    ps.toDF("p").crossJoin(broadcast(total))
      .withColumn("__rank", ceil(col("p") * col("__t")).cast("long"))
      .join(cum, col("__cum") >= col("__rank"))
      .groupBy(col("p")).agg(min(col("v")).as("quantile"))
  }

  /** Grouped exact token-length quantiles — [[lengthQuantiles]] per
    * group (source/language/shard): the per-stratum length profile a
    * mixture recipe reads before setting chunk widths or packing
    * budgets. Same bounded-histogram construction, with the cumulative
    * window PARTITIONED by the group (one #distinct-lengths-sized
    * partition per group — bounded by max doc length, never by data),
    * and the probe join bounded by |groups| × |ps| × |lengths|. */
  def lengthQuantilesBy(docs: DataFrame, group: String = "source",
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      text: String = "text"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "quantiles must lie in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val c = docs.select(col(group),
        T.tokenCount(col(text)).cast("long").as("v"))
      .groupBy(col(group), col("v")).agg(count(lit(1)).as("__n"))
    val cum = c.withColumn("__cum",
      sum(col("__n")).over(Window.partitionBy(col(group)).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumnRenamed(group, "__g")
    val total = c.groupBy(col(group)).agg(sum(col("__n")).as("__t"))
    total.crossJoin(broadcast(ps.toDF("p")))
      .withColumn("__rank", ceil(col("p") * col("__t")).cast("long"))
      .join(cum, col("__g") === col(group) && col("__cum") >= col("__rank"))
      .groupBy(col(group), col("p")).agg(min(col("v")).as("quantile"))
  }

  /** Tokenizer FERTILITY per source — subword-to-word ratio, the
    * tokenizer-coverage diagnostic (a source whose fertility spikes is
    * one the tokenizer fragments — code, URLs, non-target languages —
    * and its real token budget is correspondingly larger). Subword
    * proxy: maximal letter runs, digit runs, and single punctuation
    * marks (the pre-merge alphabet of a BPE trainer); words = the
    * whitespace tokens every other op counts.
    *
    * Scale shape: one codegen'd regexp projection + one map-side-
    * combined aggregation; exact integer sums, one final division. */
  def tokenizerFertility(docs: DataFrame, source: String = "source",
      text: String = "text"): DataFrame = {
    val t = docs.select(col(source),
      T.tokenCount(col(text)).cast("long").as("__w"),
      size(regexp_extract_all(lower(col(text)),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("__s"))
    t.groupBy(col(source)).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_subtokens"))
      .withColumn("fertility",
        col("n_subtokens").cast("double") / col("n_words").cast("double"))
  }

  /** Per-source SCORECARD — the one-row-per-source dashboard joining
    * the curation signals: document/token volume, quality-envelope
    * survivors (the [[qualityFilter]] rule), exact-dup rate
    * (1 − distinct fingerprints / docs), and tokenizer fertility —
    * the table a mixing decision actually reads. Three per-source
    * hash aggregations + two equi-joins on the source key; every
    * ratio divides exact integers. */
  def sourceScorecard(docs: DataFrame, source: String = "source",
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val base = withQuality(docs, text)
    val agg1 = base.groupBy(col(source)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(when(col("n_tokens").between(5L, 10000L) &&
        col("avg_token_len") <= 15.0, 1L).otherwise(0L)).as("n_quality"))
    val fp = docs.select(col(source), T.fingerprint(col(text)).as("__fp"))
      .groupBy(col(source)).agg(count_distinct(col("__fp")).as("n_distinct_fp"))
    val fert = tokenizerFertility(docs, source, text)
      .select(col(source), col("fertility"))
    agg1.join(fp, Seq(source)).join(fert, Seq(source))
      .withColumn("dup_rate", lit(1.0) -
        col("n_distinct_fp").cast("double") / col("n_docs").cast("double"))
      .select(col(source), col("n_docs"), col("n_tokens"), col("n_quality"),
        col("n_distinct_fp"), col("dup_rate"), col("fertility"))
  }

  /** Per-source distribution drift as TOTAL-VARIATION distance from
    * the corpus token distribution: TV(s) = ½ Σ_tok |p_s − p_corpus|
    * — the drift/contamination detector run when a new crawl lands
    * (KL/JS need logs; TV is the log-free metric with the same
    * "how different is this source" reading, in [0,1]).
    *
    * Exactness: every term is INTEGER until one final division —
    * |n_st·N − n_t·N_s| sums exactly (no float summation order
    * anywhere, unlike a sorted-fold of per-token doubles), the
    * out-of-source mass Σ_{t∉s} p_c collapses to the closed form
    * N_s·(N − Σ_{t∈s} n_t) (no source×vocab grid materializes), and
    * TV = (Σ + closed form) / (2·N_s·N) is one IEEE division of
    * exactly-derived operands. int64 holds to ~10^6-token-corpus ×
    * source scale; beyond that switch the two sums to DECIMAL(38,0) —
    * same plan, wider type.
    *
    * Scale shape: three hash aggregations (per-(source,token),
    * per-token, per-source — all map-side combined), one equi-join on
    * the token, one broadcast grand total, one per-source aggregation.
    * Nothing is all-pairs and no per-group list is collected. */
  def sourceDivergence(docs: DataFrame, source: String = "source",
      text: String = "text"): DataFrame = {
    val toks = graft.ops.Compute.spread(docs.select(col(source), col(text)))
      .select(col(source), explode(T.tokens(col(text))).as("tok"))
    val st = toks.groupBy(col(source), col("tok"))
      .agg(count(lit(1)).as("__n_st"))
    val ct = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n_t"))
    val ns = toks.groupBy(col(source)).agg(count(lit(1)).as("n_tokens_src"))
    val n = toks.agg(count(lit(1)).as("__n"))
    st.join(ct, Seq("tok"))
      .join(ns, Seq(source))
      .crossJoin(broadcast(n))
      .groupBy(col(source))
      .agg(
        max(col("n_tokens_src")).as("n_tokens_src"),
        max(col("__n")).as("__nn"),
        sum(abs(col("__n_st") * col("__n") -
          col("__n_t") * col("n_tokens_src"))).as("__num"),
        sum(col("__n_t")).as("__sum_nt"))
      .select(col(source), col("n_tokens_src"),
        ((col("__num") +
          col("n_tokens_src") * (col("__nn") - col("__sum_nt")))
          .cast("double") /
          (lit(2L) * col("n_tokens_src") * col("__nn")).cast("double"))
          .as("tv_distance"))
  }

  /** Corpus-level stats of a (possibly filtered) doc set. */
  def stats(docs: DataFrame): DataFrame =
    withQuality(docs).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      min(col("n_tokens")).as("min_tokens"),
      max(col("n_tokens")).as("max_tokens"))

  /** Batch-incremental ingestion against a persistent seen-fingerprint
    * table — the registry-cadence analog of StreamingDedup.firstSeen:
    * returns only the never-seen docs of `newDocs` (earliest id wins
    * within the batch) and merges their fingerprints into the table,
    * stamped with `batchId`.
    *
    * Exactly-once under replay: the returned frame anti-joins only
    * against fingerprints claimed by OTHER batches (the caller's own
    * subdirectory is excluded at listing), so it evaluates to the same
    * rows whether the state write happened or not — re-running a batch
    * (same `batchId`, same docs) after a crash at ANY point re-emits
    * exactly the docs it claimed and overwrites only its own subdir,
    * idempotently.
    *
    * State layout — APPEND-ONLY BY CONSTRUCTION (the
    * [[graft.ops.Upsert.writeBatchState]] contract): a fresh
    * fingerprint can't equal one claimed by a prior batch (the
    * anti-join removed it), so batches are disjoint and each lands
    * only `seenPath/<batchId>/` — O(batch) state I/O per run instead
    * of the whole-table rewrite's O(total state).
    *
    * Scale shape: one fingerprint aggregation over the batch, one
    * anti-join against the seen table (shuffle on the 128-bit key),
    * one O(batch) subdir write — the seen table is the only state and
    * it grows with DISTINCT content only. `batchId` must be unique per
    * logical batch (reused only for replays). */
  def ingestNew(spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      seenPath: String, batchId: String, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    import graft.ops.Upsert
    val withFp = newDocs.withColumn("__fp", T.fingerprint(col(text)))
    val batchFirst = withFp.join(
      withFp.groupBy(col("__fp")).agg(min(col(id)).as(id)), Seq("__fp", id))
    // other batches' claims only — our own (possibly crash-landed)
    // subdir is excluded at listing, so replays never see themselves
    val seen = Upsert.readBatchState(spark, seenPath,
      excludeBatch = batchId, schema = "__fp STRING, batch_id STRING")
    val fresh = seen.map(s => batchFirst.join(
      s.select(col("__fp")), Seq("__fp"), "left_anti")).getOrElse(batchFirst)
    // MATERIALIZED before the state write: the admitted set is what the
    // caller consumes, and pinning it first makes the write below pure
    // bookkeeping. (With the per-batch layout the anti side's pinned
    // file listing stays valid forever — other batches' subdirs are
    // never rewritten — but a materialized result is still the safe
    // API.) Tracked so the harness's end-of-query sweep frees it.
    val admitted = graft.CacheTracker.trackCheckpoint(
      fresh.localCheckpoint())
    // APPEND-ONLY state: this batch's fresh fingerprints can't collide
    // with other batches' (they were anti-joined away), so the batch
    // lands only its own subdir — O(batch) I/O, no whole-table rewrite.
    Upsert.writeBatchState(
      admitted.select(col("__fp"))
        .withColumn("batch_id", lit(batchId)).distinct(),
      seenPath, batchId)
    admitted.drop("__fp")
  }

  /** Batch-incremental NEAR-dup ingestion against a persistent LSH
    * band-bucket table — the MinHash/LSH analog of [[ingestNew]]'s
    * exact seen-table: a new doc is ADMITTED iff none of its band keys
    * collides with a previously-admitted doc's band key, and
    * intra-batch collisions resolve to the min doc id per connected
    * component ([[Dedup.duplicateClusters]]); admitted docs' band keys
    * merge into the table stamped with `batchId`. Docs too short to
    * shingle have no bands and are admitted trivially (compose with
    * [[ingestNew]] for exact-content dedup).
    *
    * Near-dup admission is GREEDY first-seen (like any streaming
    * dedup): a doc suppressed by a prior bucket contributes no buckets
    * itself, so a later doc near BOTH keeps only the admitted side's
    * buckets as its reference set.
    *
    * Exactly-once under replay, same argument as [[ingestNew]]: the
    * admitted set is computed against buckets claimed by OTHER batches
    * only, so a replay (same `batchId`, same docs) recomputes the
    * identical admitted set whether or not the state write happened;
    * re-writing the batch's own subdirectory is idempotent by the
    * atomic per-subdir swap. The result is MATERIALIZED before the
    * write and safe to consume at any time.
    *
    * State layout — APPEND-ONLY BY CONSTRUCTION: an admitted doc's
    * band keys can never equal a prior batch's key (it would have been
    * suppressed), so batches never overlap and the table needs no
    * cross-batch rewrite. Each batch writes ONLY its own rows to
    * `bucketPath/<batchId>/` (atomic per-subdir swap, crash-recovered
    * on read), and the prior state is the union of the other
    * subdirectories. A run therefore costs O(batch) state I/O where
    * the previous whole-table rewrite cost O(total state) — at 100 TB
    * the difference between an ingest loop that stays flat and one
    * whose every batch rewrites the accumulated corpus state.
    *
    * Scale shape: one signature pass over the batch, one semi-join of
    * batch bands against the bucket table (shuffle on band_key), one
    * intra-batch band self-join (batch-sized), CC on the intra-batch
    * pair graph (micro-batch sized, O(log d) rounds) — the bucket
    * table is the only persistent state and grows with ADMITTED docs ×
    * bands only. */
  def ingestNewNearDup(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, bucketPath: String, batchId: String,
      id: String = "doc_id", text: String = "text",
      n: Int = 3, k: Int = 16, bandRows: Int = 4): DataFrame = {
    import graft.ops.Upsert
    val sig = Dedup.minhashSignatures(newDocs, id, text, n, k)
    // checkpointed: feeds four subtrees and must stay stable across the
    // bucket-table swap below
    val bands = Dedup.bandKeys(sig, id, k, bandRows).localCheckpoint()
    val prior = readBucketState(spark, bucketPath, excludeBatch = batchId)
    // 1. suppress docs colliding with an already-admitted bucket
    val suppressedByPrior = prior.map(p =>
      bands.join(p.select(col("band"), col("band_key")),
          Seq("band", "band_key"), "left_semi")
        .select(col(id)).distinct())
    val liveBands = suppressedByPrior
      .map(s => bands.join(s, Seq(id), "left_anti")).getOrElse(bands)
    // 2. intra-batch near-dup clusters among the survivors: losers are
    // every non-min member of a band-collision component. The pair set
    // is checkpointed: it feeds the node union + both edge directions,
    // and without the pin the band self-join re-runs per consumer.
    val l = liveBands.select(col(id).as("id_a"), col("band"), col("band_key"))
    val r = liveBands.select(col(id).as("id_b"), col("band"), col("band_key"))
    val pairs = l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint()
    val nodes = pairs.select(col("id_a").as(id))
      .unionByName(pairs.select(col("id_b").as(id))).distinct()
    val losers = Dedup.duplicateClusters(nodes, id, pairs)
      .filter(col(id) =!= col("cluster")).select(col(id))
    val dropIds = suppressedByPrior match {
      case Some(s) => s.unionByName(losers)
      case None => losers
    }
    val admitted = newDocs.join(dropIds, Seq(id), "left_anti")
      .localCheckpoint() // materialize BEFORE the swap: consumable anytime
    // CC labels and the pair set are dead once `admitted` is
    // materialized — free them now so a long-running ingest loop
    // doesn't leak one checkpoint pair per batch
    graft.CacheTracker.releaseCheckpoint(losers)
    graft.CacheTracker.releaseCheckpoint(pairs)
    // 3. land ONLY this batch's band keys — the append-only write
    // (cross-batch disjointness argued in the scaladoc; no prior-state
    // rewrite, O(batch) I/O)
    val newBuckets = bands
      .join(admitted.select(col(id)), Seq(id), "left_semi")
      .select(col("band"), col("band_key"))
      .withColumn("batch_id", lit(batchId)).distinct()
    Upsert.writeBatchState(newBuckets, bucketPath, batchId)
    // band checkpoint is dead after the swap (its last consumer is the
    // newBuckets write); the admitted frame stays live for the caller
    // and is swept at the harness's query boundary
    graft.CacheTracker.releaseCheckpoint(bands)
    graft.CacheTracker.trackCheckpoint(admitted)
  }

  /** Read the near-dup bucket state: union of every completed batch
    * subdirectory except `excludeBatch` (the caller's own batch, so
    * replays never see their previous selves) — the append-only layout
    * of [[graft.ops.Upsert.readBatchState]] with the band schema. */
  def readBucketState(spark: org.apache.spark.sql.SparkSession,
      bucketPath: String, excludeBatch: String): Option[DataFrame] =
    graft.ops.Upsert.readBatchState(spark, bucketPath, excludeBatch,
      schema = "band INT, band_key STRING, batch_id STRING")

  /** T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4, the masked
    * denoising objective every encoder-decoder pretraining run feeds
    * on): noise spans are cut out of the token stream, the INPUT keeps
    * the surviving tokens with each span replaced by one sentinel, and
    * the TARGET is the sentinels followed by the tokens they hid.
    *
    * Deterministic variant (the repo's seeded-hash discipline — no RNG
    * state, byte-stable under replay and partitioning): positions
    * partition into fixed blocks of `blockLen`; in each block a seeded
    * hash of (doc_id, block) picks the span start offset in
    * [0, blockLen − spanLen], masking `spanLen` tokens — giving exactly
    * spanLen/blockLen noise density and fixed span length (T5 defaults
    * 3/20 = 15% density, mean span 3). Sentinels carry the BLOCK index
    * (`<extra_id_b>`), not a per-doc dense rank — ids can skip where a
    * block's span falls past the doc's end, a documented simplification
    * that keeps the construction one pure projection.
    *
    * Scale shape: one explode over the token stream, codegen'd span
    * arithmetic per row, ONE doc-keyed aggregation with fixed-order
    * assembly (sort_array over (pos, token) structs) — no window over
    * data-sized input, no join, shuffle carries the token stream once
    * (the same floor as any re-segmentation).
    *
    * Returns (doc_id, n_tokens, n_masked, input_text, target_text),
    * oracle-exact (q189). */
  def spanCorruption(docs: DataFrame, blockLen: Int = 20,
      spanLen: Int = 3, seed: Int = 0, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(blockLen >= 1 && spanLen >= 1 && spanLen <= blockLen,
      s"need 1 <= spanLen <= blockLen, got $spanLen/$blockLen")
    val t = graft.ops.Compute.spread(docs.select(col(id), col(text)))
      .select(col(id), posexplode(T.tokens(col(text))).as(Seq("i0", "tok")))
    val b = floor(col("i0") / lit(blockLen)).cast("long")
    val off = pmod(
      T.hash60(concat_ws("#", col(id), b), seed),
      lit((blockLen - spanLen + 1).toLong))
    val inBlockPos = col("i0") % lit(blockLen)
    val inSpan = inBlockPos >= off && inBlockPos < off + lit(spanLen)
    val spanStart = inSpan && inBlockPos === off
    val sentinel = concat(lit("<extra_id_"), b.cast("string"), lit(">"))
    val marked = t
      .withColumn("__in", when(!inSpan, col("tok"))
        .when(spanStart, sentinel))            // else null → dropped
      .withColumn("__tg", when(spanStart, concat_ws(" ", sentinel, col("tok")))
        .when(inSpan, col("tok")))             // else null → dropped
      .withColumn("__m", when(inSpan, 1L).otherwise(0L))
    def assemble(c: String): Column =
      array_join(transform(
        sort_array(collect_list(when(col(c).isNotNull,
          struct(col("i0"), col(c).as("t"))))),
        x => x("t")), " ")
    marked.groupBy(col(id))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("__m")).cast("long").as("n_masked"),
        assemble("__in").as("input_text"),
        assemble("__tg").as("target_text"))
  }

  /** Fixed-size training shards: bounded rows per output file (the
    * shape downstream training loaders consume), writers spread across
    * the cluster. `maxRecordsPerFile` does the bounding; the
    * repartition spreads rows so shard sizes are even rather than
    * mirroring upstream partition skew. */
  def writeShards(df: DataFrame, path: String, rowsPerShard: Int,
      numWriters: Int): Unit =
    df.repartition(numWriters)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerShard.toLong)
      .parquet(path)

  /** [[writeShards]] with a DETERMINISTIC seeded global shuffle: rows
    * are range-partitioned and sorted by a seeded content hash, so the
    * shard assignment AND the row order inside every shard are a pure
    * function of (data, seed) — rerunning the export reproduces
    * byte-identical training order (the reproducibility contract
    * training loaders need), and changing the seed is a fresh
    * epoch-level reshuffle. Hash partitioning ON the seeded key (not
    * `repartitionByRange`, whose boundary sampling seeds from the
    * run-specific RDD id and would break cross-run determinism) keeps
    * writers balanced because the key is uniform; the sort is the one
    * extra cost a deterministic order has. */
  def writeShardsShuffled(df: DataFrame, path: String, rowsPerShard: Int,
      numWriters: Int, seed: Int, id: String = "doc_id"): Unit = {
    val key = T.hash60(col(id).cast("string"), seed)
    df.withColumn("__shuffle_key", key)
      .repartition(numWriters, col("__shuffle_key"))
      .sortWithinPartitions(col("__shuffle_key"))
      .drop("__shuffle_key")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerShard.toLong)
      .parquet(path)
  }

  /** [[writeShards]] bounded by TOKENS instead of rows — the export
    * half of [[packShards]]: docs land in files partitioned by their
    * budget-packed shard id, so every output shard holds consecutive
    * docs totalling ≤ budget + one doc worth of tokens (what a
    * sequence-packing loader wants: near-full, never overfull-by-more-
    * than-one). Written `partitionBy(shard)` so a loader reads exactly
    * one shard directory per training slot and partition pruning
    * serves shard-range reads. */
  def writeShardsByTokenBudget(df: DataFrame, path: String,
      budgetTokens: Long, bucket: Column, id: String = "doc_id",
      text: String = "text"): Unit = {
    val assignment = packShards(df, budgetTokens, bucket, id, text)
      .select(col(id), col("shard"))
    df.join(assignment, Seq(id))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)
  }

  /** The full pipeline as registry models over a `documents` source. */
  def models(): Seq[graft.runner.ModelRegistry.Model] = {
    import graft.runner.ModelRegistry._
    Seq(
      Model("corpus_quality", Seq("documents"), Table,
        (_, d) => qualityFilter(d("documents"))),
      Model("corpus_en", Seq("corpus_quality"), Table,
        (_, d) => languageFilter(d("corpus_quality"))),
      Model("corpus_unique", Seq("corpus_en"), Table,
        (_, d) => dedupExact(d("corpus_en"))),
      Model("corpus_canonical", Seq("corpus_unique"), Table,
        (_, d) => dedupNear(d("corpus_unique"))),
      Model("corpus_stats", Seq("corpus_canonical"), Table,
        (_, d) => stats(d("corpus_canonical"))))
  }
}
