package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication & similarity for training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup / ANN.
  *
  * Scale design:
  *  - exact dedup = one hash aggregation on a 128-bit fingerprint;
  *  - Jaccard = self-join on exploded shingles (inverted index); the
  *    scale path is MinHash+LSH which replaces the all-pairs shingle
  *    join with a band-bucket join whose fan-out is bounded by band
  *    collisions — at 100 TB, bucket-join + AQE skew handling;
  *  - SimHash = one pass of 60 conditional aggregates (no row blowup);
  *    near-dup = xor+bit_count on a 60-bit key;
  *  - ANN brute-force broadcasts the (small) query set; the bucketed
  *    variant prunes by coarse quantizer cell first.
  */
object Dedup {

  /** Operator-internal persist: MEMORY_AND_DISK (indexes can exceed
    * executor memory at cluster scale and must spill), registered with
    * [[graft.CacheTracker]] so harness sweeps can release intermediates
    * between queries — the operator itself cannot know when the caller
    * has finished materializing the returned lazy frame. */
  private def cached(df: DataFrame): DataFrame = graft.CacheTracker.track(
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Exact duplicate groups by normalized-text fingerprint: keeper =
    * min id (deterministic survivor), n_docs = group size. */
  def exactDupGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), T.fingerprint(col(text)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("n_docs"))

  /** (id, shingle) inverted index with distinct shingles per doc.
    * The source is [[Compute.spread]]
    * first: shingling cost ∝ text length, not input bytes, so a
    * narrow scan (one small parquet file) must not serialize the
    * whole explode+hash burn into one task. */
  def shingleIndex(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    Compute.spread(df).select(col(id),
        explode(array_distinct(T.shinglesOf(col(text), n))).as("sh"))

  /** All-pairs n-gram Jaccard >= minJ via the inverted index:
    * |A ∩ B| from the shingle self-join, |A ∪ B| = |A|+|B|-|A∩B|. */
  def jaccardPairs(df: DataFrame, id: String, text: String,
      n: Int, minJ: Double): DataFrame =
    jaccardPairsFromIndex(shingleIndex(df, id, text, n), id, minJ)

  /** [[jaccardPairs]] over a prebuilt (id, sh) shingle index — the
    * fused-harness entry: an evaluation that derives exact truth AND
    * an approximate candidate set from the SAME corpus (q122/q157)
    * builds the tokenize+shingle index once and feeds it to both. */
  def jaccardPairsFromIndex(shIdx: DataFrame, id: String,
      minJ: Double): DataFrame = {
    // The index feeds three subtrees (both join sides + sizes); persist
    // it so tokenize+shingle runs once, not three times. MEMORY_AND_DISK:
    // at cluster scale the index can exceed executor memory and spills.
    // Join on a 64-bit shingle hash, not the string: ~3× smaller
    // shuffle and cheaper probes; a count-altering collision needs two
    // distinct shingles of the SAME document pair to collide (~2⁻⁶⁴
    // per pair) and the oracle gate would surface it.
    val idx = cached(shIdx.select(col(id), xxhash64(col("sh")).as("sh")))
    val sizes = idx.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = idx.select(col(id).as("id_a"), col("sh"))
    val b = idx.select(col(id).as("id_b"), col("sh"))
    val inter = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs — excerpt/quote detection, the
    * complement of symmetric Jaccard: C = |A∩B| / min(|A|,|B|), the
    * fraction of the SMALLER doc's n-grams inside the larger. A short
    * quote embedded in a long doc scores near 1 here while its Jaccard
    * is near 0, which is why corpus curation runs both.
    *
    * Contract detail that is also the scale lever: n-grams with
    * document frequency > `maxDf` are EXCLUDED from every doc's gram
    * set (sizes included) — boilerplate-gram exclusion, standard in
    * web-scale containment dedup. Semantically it ignores grams so
    * common they carry no authorship signal; physically it caps the
    * inverted-index bucket fan-out at maxDf² pairs per gram, which is
    * what keeps the self-join near-linear. The DuckDB oracle applies
    * the identical cap, so results stay exactly comparable.
    *
    * Join runs on 64-bit gram hashes (same collision argument as
    * [[jaccardPairs]]); counts are exact integers, the score is one
    * IEEE division. */
  def containmentPairs(df: DataFrame, id: String, text: String,
      n: Int, minC: Double, maxDf: Long): DataFrame = {
    // index feeds dfreq + both join sides + sizes: persist it once
    val idx = cached(shingleIndex(df, id, text, n)
      .select(col(id), xxhash64(col("sh")).as("h")))
    val rare = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val kept = cached(idx.join(rare, Seq("h")))
    val sizes = kept.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col(id).as("id_a"), col("h"))
    val b = kept.select(col(id).as("id_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("containment", col("n_inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= minC)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("n_a"), col("n_b"), col("containment"))
  }

  /** EXACT n-gram Jaccard >= minJ via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): under any global total order on shingles (ascending
    * 64-bit hash here), two sets with J >= t must share an element in
    * their PREFIXES of length |X| - ceil(t*|X|) + 1 — so candidates
    * come from an equi-join on prefix shingles only, plus the length
    * filter t*|A| <= |B| <= |A|/t, and the exact Jaccard is verified on
    * the carried sorted hash arrays (array_intersect, no second join).
    * Canonical emission (only at the smallest shared prefix hash) makes
    * pairs exactly-once with no distinct.
    *
    * Same result set as [[jaccardPairs]] at a fraction of the candidate
    * count — this is the exact-Jaccard scale path; [[jaccardPairs]]
    * stays as the inverted-index baseline and MinHash+LSH
    * ([[lshCandidatePairs]]) as the approximate one. */
  def jaccardPairsPrefix(df: DataFrame, id: String, text: String,
      n: Int, minJ: Double): DataFrame = {
    // global order = ascending (document frequency, hash): prefixes then
    // hold each doc's RAREST shingles, so prefix buckets are tiny — the
    // property that makes AllPairs prune (a hash-only order would put
    // stopword shingles in prefixes and recreate the hot buckets the
    // construction exists to avoid)
    // idx feeds dfreq AND the join-back; arrs feeds both sides of the
    // prefix self-join — persist both so the tokenize+shingle+hash and
    // the per-doc sort run once, not per subtree (same reasoning and
    // storage level as jaccardPairs' index persist)
    val idx = cached(shingleIndex(df, id, text, n)
      .select(col(id), xxhash64(col("sh")).as("h")))
    val dfreq = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val arrs = cached(idx.join(dfreq, Seq("h"))
      .groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col(id), col("ord.h").as("shs"))
      .withColumn("sz", size(col("shs")))
      .withColumn("npfx",
        (col("sz") - ceil(col("sz") * lit(minJ)) + 1).cast("int"))
      .withColumn("pfx", slice(col("shs"), lit(1), col("npfx"))))
    val e = arrs.select(col(id), col("shs"), col("sz"), col("pfx"),
      explode(col("pfx")).as("p"))
    val a = e.select(col(id).as("id_a"), col("shs").as("sh_a"),
      col("sz").as("n_a"), col("pfx").as("pfx_a"), col("p"))
    val b = e.select(col(id).as("id_b"), col("shs").as("sh_b"),
      col("sz").as("n_b"), col("pfx").as("pfx_b"), col("p"))
    a.join(b, Seq("p"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
      .filter(col("n_b") >= ceil(col("n_a") * lit(minJ)) &&
        col("n_a") >= ceil(col("n_b") * lit(minJ)))
      // canonical prefix element: emit each pair exactly once
      .filter(col("p") ===
        array_min(array_intersect(col("pfx_a"), col("pfx_b"))))
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** MinHash signatures: k independent seeded 60-bit hashes, min over
    * the doc's distinct shingles — one explode + one aggregation with
    * k min() columns (map-side combine keeps the shuffle tiny). Docs
    * with no shingle (shorter than n tokens) are dropped. */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      n: Int, k: Int): DataFrame =
    minhashSignaturesFromIndex(shingleIndex(df, id, text, n), id, k)

  /** [[minhashSignatures]] over a prebuilt (id, sh) shingle index —
    * see [[jaccardPairsFromIndex]] for when callers pre-build it. */
  def minhashSignaturesFromIndex(shIdx: DataFrame, id: String,
      k: Int): DataFrame = {
    val idx = shIdx.withColumn("h31", T.hash31(col("sh")))
    val mins = (0 until k).map(i => min(T.minhashPerm(col("h31"), i)).as(s"mh$i"))
    idx.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** (id, band, band_key) table: the k-wide MinHash signature split
    * into bands of `rows` hashes — one pass over the signatures (all
    * band keys as an array, then posexplode; a per-band union would
    * recompute the signature subtree nBands×). Shared by the batch
    * pair generator ([[lshCandidatePairs]]) and the incremental
    * bucket-table ingestion (CorpusPipeline.ingestNewNearDup). */
  def bandKeys(sig: DataFrame, id: String, k: Int, rows: Int): DataFrame = {
    require(k % rows == 0, "k must be divisible by band rows")
    val nBands = k / rows
    val keys = array((0 until nBands).map { b =>
      concat_ws("_",
        (b * rows until (b + 1) * rows).map(i => col(s"mh$i").cast("string")): _*)
    }: _*)
    sig.select(col(id), posexplode(keys).as(Seq("band", "band_key")))
  }

  /** LSH candidate pairs: docs sharing any full band collide. The join
    * is on (band_index, band_key) — bounded fan-out, no all-pairs
    * compare. The exploded band table is persisted (it is tiny:
    * docs × bands) because it feeds both self-join sides. */
  def lshCandidatePairs(sig: DataFrame, id: String, k: Int, rows: Int): DataFrame = {
    val bands = cached(bandKeys(sig, id, k, rows))
    val l = bands.select(col(id).as("id_a"), col("band"), col("band_key"))
    val r = bands.select(col(id).as("id_b"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** 60-bit SimHash over tokens (with multiplicity): bit j of the
    * result is 1 iff sum over tokens of (2*bit_j(hash(token))-1) > 0.
    * Single aggregation pass, 60 conditional sums — no bit-position
    * explode. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val tok = Compute.spread(df)
      .select(col(id), explode(T.tokens(col(text))).as("tok"))
      .withColumn("hv", T.hash60(col("tok"), 0))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("hv"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b"))
    val agg = tok.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 60).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(id), sh.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance (popcount of xor) <=
    * maxDist, computed EXACTLY via the pigeonhole chunk join: split the
    * 60-bit hash into `maxDist+1` disjoint chunks — any pair within
    * hamming distance maxDist differs in at most maxDist bit positions,
    * so at least one chunk matches exactly. Candidates come from an
    * equi-join on (chunk_idx, chunk_value) (a hash shuffle join — no
    * all-pairs / nested-loop), then the full distance is verified.
    * Same result set as a cartesian compare, at bucket-join cost.
    *
    * Scale note: per-chunk fan-out is bounded by (chunk_idx, value)
    * bucket sizes — 60/(maxDist+1) bits per chunk. Large maxDist means
    * coarse chunks and fatter buckets; at extreme corpus sizes pick a
    * tighter maxDist or recurse the construction (split each chunk
    * collision group again). AQE skew-join splits oversized buckets. */
  def simhashNearPairs(sh: DataFrame, id: String, maxDist: Int): DataFrame =
    hammingNearPairs(sh, id, maxDist, bits = 60, hashCol = "simhash")

  /** The pigeonhole construction generalized to any hash width ≤ 64 —
    * the same machinery serves the 60-bit text SimHash (above) and the
    * 64-bit image dHash (q190). `bits = 64` is safe: the top chunk's
    * arithmetic shiftright sign-extends, but the width mask cuts the
    * extension back off, and `bit_count(xor)` is sign-agnostic. */
  def hammingNearPairs(sh: DataFrame, id: String, maxDist: Int,
      bits: Int, hashCol: String): DataFrame =
    hammingNearPairsConfirmed(sh, id, maxDist, bits, hashCol)

  /** [[hammingNearPairs]] with TWO-STAGE verification: candidates
    * still come from the pigeonhole equi-join on `hashCol` (stage 1 —
    * the cheap, index-able hash), but a pair is emitted only if it
    * ALSO passes every confirm channel (stage 2 — higher-fidelity
    * evidence carried alongside the hash and checked INSIDE the same
    * codegen'd join stage, no second join or shuffle):
    *
    *  - `confirmHam`: (column, radius) pairs — 64-bit confirm hashes
    *    that must be within `radius` Hamming distance;
    *  - `confirmEq`: columns that must be exactly equal (the lossless
    *    verify channel — e.g. an exact content signature).
    *
    * This is the production near-dup shape: a single perceptual hash
    * over low-entropy content (tiny thumbnails, short clips) saturates
    * its bit budget and over-merges at corpus scale; the fix is never
    * a tighter stage-1 radius (recall dies) but independent confirm
    * channels verified per candidate. Costs nothing at candidate
    * generation — confirm columns ride the same shuffle rows. */
  def hammingNearPairsConfirmed(sh: DataFrame, id: String, maxDist: Int,
      bits: Int, hashCol: String,
      confirmHam: Seq[(String, Int)] = Nil,
      confirmEq: Seq[String] = Nil): DataFrame = {
    val nChunks = maxDist + 1
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64]: $bits")
    require(nChunks <= bits, s"maxDist must be < $bits")
    val base = bits / nChunks
    val extra = bits % nChunks
    val widths = (0 until nChunks).map(c => base + (if (c < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def chunkOf(h: Column, c: Int): Column =
      shiftright(h, offsets(c)).bitwiseAND(lit((1L << widths(c)) - 1))
    val chunks = array((0 until nChunks).map(c => chunkOf(col(hashCol), c)): _*)
    // pinned: the chunk index feeds BOTH sides of the self-join, and the
    // broadcast side's exchange type differs from the probe side's, so
    // exchange reuse can never kick in — without the pin the entire
    // upstream simhash aggregation (token explode + 60 conditional sums)
    // runs twice
    val confirmCols = confirmHam.map(_._1) ++ confirmEq
    val idx = cached(sh.select(
      (Seq(col(id), col(hashCol)) ++ confirmCols.map(col) :+
        posexplode(chunks).as(Seq("chunk", "cv"))): _*))
    val a = idx.select(
      (Seq(col(id).as("id_a"), col(hashCol).as("sh_a")) ++
        confirmCols.map(c => col(c).as(s"__${c}_a")) ++
        Seq(col("chunk"), col("cv"))): _*)
    val b = idx.select(
      (Seq(col(id).as("id_b"), col(hashCol).as("sh_b")) ++
        confirmCols.map(c => col(c).as(s"__${c}_b")) ++
        Seq(col("chunk"), col("cv"))): _*)
    // canonical-chunk dedup, all inside the codegen'd join stage: a
    // pair is emitted ONLY from its first matching chunk (all earlier
    // chunks must differ — cheap bit math on the carried hashes), and
    // the full distance is verified in the same stage. Exactly-once
    // emission means no distinct and no second shuffle at all.
    val firstMatchingChunk = (0 until nChunks).map { c =>
      (col("chunk") <= lit(c)) ||
        (chunkOf(col("sh_a"), c) =!= chunkOf(col("sh_b"), c))
    }.reduce(_ && _)
    val confirmed = (confirmHam.map { case (c, r) =>
      bit_count(col(s"__${c}_a").bitwiseXOR(col(s"__${c}_b"))) <= r
    } ++ confirmEq.map(c => col(s"__${c}_a") === col(s"__${c}_b")))
      .foldLeft(lit(true))(_ && _)
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatchingChunk)
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .filter(confirmed)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private def quantized(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), V.quantize(col(vec)).as("q"))
      .withColumn("nsq", V.normSqQ(col("q")))

  private def scoredPairs(candidates: DataFrame, minCos: Double): DataFrame =
    candidates
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_a"), col("q_b")), col("n_a"), col("n_b")))
      .filter(col("cosine") >= minCos)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** Embedding near-dup pairs, APPROXIMATE (the scale path): quantized
    * cosine >= minCos over candidates from banded random-hyperplane
    * LSH: each vector gets `bands` bucket ids of `bitsPerBand`
    * hyperplane sign bits ([[lshBucket]] with per-band plane offsets);
    * vectors colliding in ANY band are scored exactly (the standard
    * LSH OR-construction — more bands = higher recall, fatter
    * candidate set). The equi-join on (band, bucket) replaces the
    * all-pairs theta join; approximate by design (a qualifying pair
    * colliding in no band is missed), but deterministic — the oracle
    * computes identical integer buckets.
    *
    * The approximation is in the NAME so no caller mistakes it for the
    * exact contract — that's [[embeddingDupPairsExact]]. */
  def embeddingDupPairsLsh(df: DataFrame, id: String, vec: String,
      minCos: Double, bands: Int = 4, bitsPerBand: Int = 4): DataFrame = {
    val q = quantized(df, id, vec)
    val bucketCols = array((0 until bands).map(t =>
      lshBucket(col("q"), bitsPerBand, planeOffset = t * bitsPerBand)): _*)
    val bk = cached(q.select(col(id), col("q"), col("nsq"),
      bucketCols.as("bks"),
      posexplode(bucketCols).as(Seq("band", "bucket"))))
    val l = bk.select(col(id).as("id_a"), col("q").as("q_a"),
      col("nsq").as("n_a"), col("bks").as("bks_a"),
      col("band"), col("bucket"))
    val r = bk.select(col(id).as("id_b"), col("q").as("q_b"),
      col("nsq").as("n_b"), col("bks").as("bks_b"),
      col("band"), col("bucket"))
    // canonical-band dedup: emit a pair only from its FIRST matching
    // band (earlier bands must differ — array compares on the carried
    // bucket vectors), then verify the exact cosine in the same
    // codegen'd stage. Exactly-once emission, no distinct shuffle.
    val firstMatchingBand = (0 until bands).map { c =>
      (col("band") <= lit(c)) ||
        (element_at(col("bks_a"), c + 1) =!= element_at(col("bks_b"), c + 1))
    }.reduce(_ && _)
    scoredPairs(l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatchingBand), minCos)
  }

  /** Embedding near-dup pairs, EXACT: the all-pairs cosine baseline —
    * O(n²), ground truth at test scale, NOT the production path
    * (that's [[embeddingDupPairsLsh]]). */
  def embeddingDupPairsExact(df: DataFrame, id: String, vec: String,
      minCos: Double): DataFrame = {
    val q = quantized(df, id, vec)
    val a = q.select(col(id).as("id_a"), col("q").as("q_a"),
      col("nsq").as("n_a"))
    val b = q.select(col(id).as("id_b"), col("q").as("q_b"),
      col("nsq").as("n_b"))
    scoredPairs(a.join(b, col("id_a") < col("id_b")), minCos)
  }

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: min-label
    * propagation WITH pointer-jumping, iterated to TRUE fixpoint.
    * Returns (id, cluster) where cluster = min id of the component —
    * the canonical "keeper".
    *
    * Each round does two steps:
    *  1. propagate — every node adopts min(own, neighbours') label
    *     (one join + one aggregation on the edge list);
    *  2. shortcut — every node then follows its label one hop,
    *     label(n) := min(label(n), label(label(n))) (labels are always
    *     ids of reachable nodes, so the composed label stays within the
    *     component). The shortcut halves label-chain depth, so a
    *     path-shaped duplicate chain of diameter d converges in
    *     O(log d) rounds instead of O(d) — this is the Shiloach-Vishkin
    *     pointer-jumping idea in DataFrame form. (One hop per round is
    *     a MEASURED choice — see the dead-end note in the loop body.)
    *
    * The frontier is `localCheckpoint`ed every round: lineage is
    * truncated (no exponentially growing plan) and each round's labels
    * are served from executor storage; the SUPERSEDED frontier's
    * pinned blocks are freed as soon as the next one is materialized
    * (round 3's bench died of exactly these blocks accumulating), and
    * the final frontier is registered with [[graft.CacheTracker]] for
    * the harness's end-of-query sweep. Rounds run until NOTHING
    * changes (both steps are pointwise monotone non-increasing, so
    * next == labels is a genuine fixpoint = exact min labeling); the
    * change test is a `__changed` flag computed IN the shortcut pass
    * and probed with a limit-1 scan of the just-materialized local
    * blocks — not the extra join + count() per round that made
    * micro-batch CC latency-bound. `maxIter` is only a runaway
    * backstop — exceeding it THROWS rather than silently mislabeling
    * (log₂-depth convergence makes 50 rounds enough for any physically
    * possible component).
    *
    * SMALL-GRAPH FAST PATH: when the doubled edge list fits under
    * `localEdgeCap` rows (probed with one `limit(cap+1).collect()` on
    * the cached edges — the same materialization the first round would
    * pay anyway), components resolve by driver-side union-find and the
    * (≤ cap-row) label mapping joins back as a broadcast. Micro-batch
    * ingest (q82) and LSH pair graphs (q77/q111/q132) have
    * candidate-pair counts orders of magnitude below the cap while the
    * distributed loop costs ~0.5 s of scheduling PER ROUND on them —
    * measured 1.2 s → ~0.1 s for 76 pairs. The collect is bounded by
    * the cap (≈3 MB of id pairs), never by data size: a graph over the
    * cap takes the pointer-jumping path unchanged, so 100 TB behavior
    * is identical. Specs pin BOTH paths (`localEdgeCap = 0` forces the
    * distributed loop). */
  /** Rounds the last [[duplicateClusters]] call took to converge —
    * observability for specs pinning the round economics (each round
    * costs a checkpointed materialization, the dominant latency of
    * micro-batch CC). Thread-confined test use only. */
  private[graft] var lastClusterRounds: Int = 0

  def duplicateClusters(ids: DataFrame, id: String, pairs: DataFrame,
      maxIter: Int = 50, localEdgeCap: Int = 200000): DataFrame = {
    // undirected edge list, both directions
    val e1 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = cached(e1.unionByName(
      e1.select(col("dst").as("src"), col("src").as("dst"))))
    // ---- small-graph fast path: one probe-and-collect job ----
    if (localEdgeCap > 0) {
      val sample = edges.limit(localEdgeCap + 1).collect()
      if (sample.length <= localEdgeCap) {
        // union-find with path compression; component label = min id
        // (same contract as the distributed fixpoint). String ids
        // compare by CODE POINT (= UTF-8 binary, what Spark min() and
        // the oracle use) — Java's natural String order diverges for
        // supplementary-plane ids. Long and other Comparable ids are
        // unaffected.
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: String, y: String) => Compute.codePointCompare(x, y) < 0
          case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        }
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.getOrDefault(c, c) != c) {
            val nxt = parent.get(c); parent.put(c, r); c = nxt
          }
          r
        }
        sample.foreach { row =>
          val (a, b) = (row.get(0), row.get(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min id becomes the root → root IS the label
            if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        edges.unpersist(blocking = false)
        lastClusterRounds = 0
        import scala.jdk.CollectionConverters._
        val mapping = parent.keySet().asScala.toSeq
          .map(n => org.apache.spark.sql.Row(n, find(n)))
        val spark = ids.sparkSession
        val idType = pairs.schema("id_a").dataType
        val mapDf = spark.createDataFrame(
          spark.sparkContext.parallelize(mapping, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__node", idType),
            org.apache.spark.sql.types.StructField("__cluster", idType))))
        // materialize before returning — callers (q77, ingest) release
        // their pair/band checkpoints as soon as this returns, on the
        // invariant that CC output carries no lineage back to them
        // (the distributed path guarantees it via the per-round
        // frontier checkpoints)
        val res = ids.select(col(id))
          .join(broadcast(mapDf), col(id) === col("__node"), "left")
          .select(col(id), coalesce(col("__cluster"), col(id)).as("cluster"))
          .localCheckpoint()
        graft.CacheTracker.trackCheckpoint(res)
        return res
      }
      // over the cap: fall through to the distributed loop (the cached
      // edges are already materialized up to cap+1 rows — the loop's
      // first round completes the materialization)
    }
    var labels = ids.select(col(id).as("node"), col(id).as("cluster"))
      .localCheckpoint()
    // no edges → every node already carries its fixpoint label (the
    // common case for clean micro-batches in incremental ingestion):
    // zero rounds instead of one no-op propagate+shortcut round.
    var converged = edges.isEmpty
    var it = 0
    while (!converged) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"duplicateClusters did not converge in $maxIter rounds")
      // 1. propagate: each node adopts min(own, neighbours') label —
      // aggregate the neighbour minimum, then least() it against the
      // node's own label (no self-union: one join + one agg + one join)
      val nbrMin = edges
        .join(labels, edges("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nmin"))
      val prop = labels.join(nbrMin, labels("node") === nbrMin("dst"), "left")
        .select(labels("node").as("node"), col("cluster").as("old"),
          least(col("cluster"), col("nmin")).as("cluster"))
      // 2. shortcut: follow the label one hop (left join: a label that
      // is its own cluster maps to itself), carrying the convergence
      // flag so no separate comparison join is needed.
      // MEASURED dead end (round 4): fusing a SECOND shortcut into the
      // same materialization ("double hop", quartering chain depth per
      // round) made q77 2.6s -> 8.2s and q82 3.9s -> 12s at sf0.1 —
      // hop2 self-joins two copies of the hop1 subtree, and exchange
      // reuse does not cover the duplicated propagate tree, so each
      // round costs ~4x the work to save ~1 round in log-depth. One
      // hop per round is the right trade; keep it.
      val stepped = least(col("p.cluster"), coalesce(col("lc"), col("p.cluster")))
      val next = prop.alias("p")
        .join(prop.select(col("node").as("ln"), col("cluster").as("lc"))
          .alias("l"), col("p.cluster") === col("l.ln"), "left")
        .select(col("p.node").as("node"), stepped.as("cluster"),
          (stepped =!= col("p.old")).as("__changed"))
        .localCheckpoint()
      val changed = !next.filter(col("__changed")).isEmpty
      // `next` is eagerly materialized: the previous frontier's pinned
      // blocks are dead — free them now instead of leaking one
      // checkpoint per round
      graft.CacheTracker.releaseCheckpoint(labels)
      labels = next.drop("__changed")
      converged = !changed
      it += 1
    }
    edges.unpersist(blocking = false)
    graft.CacheTracker.trackCheckpoint(labels)
    lastClusterRounds = it
    labels.select(col("node").as(id), col("cluster"))
  }

  /** One-keeper-per-cluster dedup decision: keep = (id == cluster min). */
  def dedupDecision(ids: DataFrame, id: String, pairs: DataFrame): DataFrame =
    duplicateClusters(ids, id, pairs)
      .withColumn("keep", col(id) === col("cluster"))

  /** Batch-incremental pair→cluster MAINTENANCE — the resolution
    * stage's between-retrains story, completing the incremental
    * triptych (exact dedup `ingestNew`, candidate generation
    * `ingestNewNearDup`, now the keeper DECISION itself). Persistent
    * state under two roots:
    *
    *  - `bandRoot`: the APPEND-ONLY band table (every ingested doc's
    *    LSH band keys; batches are disjoint because a doc ingests
    *    once), one subdirectory per batch —
    *    [[graft.ops.Upsert.writeBatchState]]'s O(batch) layout;
    *  - `decisionRoot`: per-batch decision DELTAS (new docs + old
    *    docs whose cluster CHANGED this batch), read back
    *    latest-epoch-wins. Deltas, not snapshots: a new bridge doc
    *    merging two old families relabels only the larger family, so
    *    per-batch write cost tracks merge activity, not corpus size.
    *
    * Per batch: the batch's bands join the FULL band table (new-new
    * + new-old collisions — exactly the candidate pairs a full-corpus
    * banding would emit involving a new doc), prior assignments
    * replay as STAR EDGES (cluster ↔ member, the compressed
    * transitive closure of everything already resolved — diameter 2,
    * so the CC converges in a couple of pointer-jump rounds), and ONE
    * [[dedupDecision]] over star ∪ new edges relabels every doc.
    * Min-label CC is confluent, so the incremental result is EQUAL to
    * a full recompute over all ingested docs — which is exactly what
    * the q213 oracle checks.
    *
    * Exactly-once under replay: the computation reads only OTHER
    * batches' subdirectories, and both writes are idempotent
    * per-subdir atomic swaps keyed by `batchId` (the
    * `ingestNewNearDup` argument). The returned frame is materialized
    * BEFORE the writes and holds the full post-batch assignment.
    *
    * Epochs order the latest-wins read of the decision deltas, so they
    * MUST be monotone across every batch ever written to
    * `decisionRoot` — including batches from a PRIOR checkpoint
    * lineage (a fresh stream checkpoint restarts Spark's micro-batch
    * counter at 0, so a raw batch id is NOT safe as an epoch: old
    * deltas would keep higher epochs and stale assignments would win
    * reads). The default (`epoch = -1`) derives the epoch from the
    * persisted state itself — max over all prior deltas' epochs, plus
    * one — which is monotone across lineages by construction and
    * replay-stable (a replayed batch re-derives from the same OTHER
    * batches and idempotently overwrites its own subdir). Pass an
    * explicit epoch only when the caller owns monotonicity end to end
    * (e.g. a controlled rebuild). */
  def dedupDecisionIngest(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, bandRoot: String, decisionRoot: String,
      batchId: String, epoch: Int = -1, id: String = "doc_id",
      text: String = "text", n: Int = 3, k: Int = 16,
      rows: Int = 4): DataFrame = {
    import graft.ops.{Upsert => U}
    val sig = minhashSignatures(docs, id, text, n, k)
    val newBands = bandKeys(sig, id, k, rows).localCheckpoint()
    val bandSchema = s"$id BIGINT, band INT, band_key STRING"
    val priorBands = U.readBatchState(spark, bandRoot, batchId, bandSchema)
    val allBands = priorBands.fold(newBands)(newBands.unionByName(_))
    // candidate pairs involving a new doc: batch side × full table
    val newPairs = newBands
      .select(col(id).as("__na"), col("band"), col("band_key"))
      .join(allBands.select(col(id).as("__nb"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("__na") =!= col("__nb"))
      .select(least(col("__na"), col("__nb")).as("id_a"),
        greatest(col("__na"), col("__nb")).as("id_b"))
      .distinct()
    val decSchema = s"$id BIGINT, cluster BIGINT, keep BOOLEAN, epoch INT"
    val priorRaw = U.readBatchState(spark, decisionRoot, batchId, decSchema)
    // auto epoch: strictly above every epoch already persisted (any
    // lineage) — one tiny agg over the delta state, which the replay
    // below fully scans anyway
    val effEpoch =
      if (epoch >= 0) epoch
      else priorRaw.map(_.agg(coalesce(max(col("epoch")), lit(-1)))
        .head().getInt(0) + 1).getOrElse(0)
    val prior = priorRaw
      .map(_.groupBy(col(id))
        .agg(max_by(col("cluster"), col("epoch")).as("cluster")))
    val starEdges = prior.map(_
        .filter(col("cluster") =!= col(id))
        .select(col("cluster").as("id_a"), col(id).as("id_b")))
      .getOrElse(newPairs.limit(0))
    val allIds = prior.map(_.select(col(id)))
      .fold(docs.select(col(id)))(docs.select(col(id)).unionByName(_))
      .distinct()
    val pairs = newPairs.unionByName(starEdges).localCheckpoint()
    val decided = graft.CacheTracker.trackCheckpoint(
      dedupDecision(allIds, id, pairs).localCheckpoint())
    graft.CacheTracker.releaseCheckpoint(pairs)
    // delta = new docs + relabeled old docs (latest-epoch-wins on read)
    val delta = prior match {
      case None => decided
      case Some(p) =>
        decided.join(p.select(col(id), col("cluster").as("__old")),
            Seq(id), "left")
          .filter(col("__old").isNull || col("__old") =!= col("cluster"))
          .drop("__old")
    }
    U.writeBatchState(newBands.select(col(id), col("band"),
      col("band_key")), bandRoot, batchId)
    U.writeBatchState(delta.withColumn("epoch", lit(effEpoch)),
      decisionRoot, batchId)
    graft.CacheTracker.releaseCheckpoint(newBands) // written: now dead
    decided
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): within each embedding cluster (`label`), members
    * connected by cosine ≥ `minCos` form a duplicate component, and
    * the component KEEPS the member with the LOWEST cosine to the
    * cluster centroid (the paper's rule: redundant near-centroid
    * copies drop, the informative outlier survives); ties break on the
    * id. Unpaired members keep themselves. Returns every member with
    * (label, cos_centroid, cluster, kept).
    *
    * Scale shape: candidates come from the banded hyperplane LSH
    * equi-join ([[embeddingDupPairsLsh]] — no all-pairs anywhere),
    * restricted to same-label pairs; centroid cosines are
    * [[EmbeddingStats.memberCentroidCosine]]'s O(n·d) pass; components
    * resolve by pointer-jumping CC over the (sparse) verified pair
    * graph; the keeper draw is one window partitioned by the cluster
    * ids. At 100 TB fold the label into the LSH bucket join key so
    * cross-cluster collisions never reach the verifier — here they are
    * dropped right after the same equi-join, which is the same plan
    * shape with a slightly wider candidate set. */
  def semanticDedup(emb: DataFrame, minCos: Double, id: String = "vec_id",
      vec: String = "embedding", label: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val memberCos = EmbeddingStats.memberCentroidCosine(emb, id, vec, label)
    val lab = emb.select(col(id), col(label))
    // pinned: the LSH join feeds both the node set and the CC edge
    // list — without the checkpoint it runs twice
    val pairs = embeddingDupPairsLsh(emb, id, vec, minCos)
      .join(lab.select(col(id).as("id_a"), col(label).as("__la")), Seq("id_a"))
      .join(lab.select(col(id).as("id_b"), col(label).as("__lb")), Seq("id_b"))
      .filter(col("__la") === col("__lb"))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val nodes = pairs.select(col("id_a").as(id))
      .unionByName(pairs.select(col("id_b").as(id))).distinct()
    val comp = duplicateClusters(nodes, id, pairs)
      .withColumnRenamed("cluster", "__c")
    // comp is materialized by duplicateClusters; the pair graph is dead
    graft.CacheTracker.releaseCheckpoint(pairs)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("cos_centroid").asc, col(id).asc)
    memberCos.join(comp, Seq(id), "left")
      .withColumn("cluster", coalesce(col("__c"), col(id))).drop("__c")
      .withColumn("kept", row_number().over(w) === 1)
  }

  /** Random-hyperplane LSH bucket id for a quantized vector: bit j =
    * [dot(q, w_j) >= 0] with deterministic integer hyperplanes
    * w_j[i] = ((a_j·(i+1) + b_j) mod 1009) − 504 (reusing the minhash
    * LCG coefficient family). Exact integer math → identical buckets
    * on any engine, so even the approximate ANN path is
    * oracle-checkable. */
  def lshBucket(vecQ: Column, bits: Int, planeOffset: Int = 0): Column = {
    import graft.functions.{TextFunctions => TF}
    (0 until bits).map { j =>
      val p = planeOffset + j
      val w = array((0 until 64).map(i =>
        lit((TF.minhashA(p) * (i + 1) + TF.minhashB(p)) % 1009 - 504)): _*)
      when(V.dotQ(vecQ, w) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH-bucketed ANN — the 100 TB scale path for [[annTopK]]: corpus
    * and queries are bucketed by [[lshBucket]] and only same-bucket
    * pairs are scored (join on bucket id instead of all-pairs /
    * broadcast nested loop). Approximate by design (recall < 1); the
    * approximation is deterministic, so results still match the
    * oracle computing the same buckets. */
  def annTopKLsh(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, bits: Int = 8): DataFrame = {
    val prep = (d: DataFrame, suffix: String) =>
      d.select(col(id).as(s"id_$suffix"), V.quantize(col(vec)).as(s"q_$suffix"))
        .withColumn(s"n_$suffix", V.normSqQ(col(s"q_$suffix")))
        .withColumn("bucket", lshBucket(col(s"q_$suffix"), bits))
    val c = prep(corpus, "c")
    val q = prep(queries, "q")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("id_q") =!= col("id_c"))
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_q"), col("q_c")), col("n_q"), col("n_c")))
    val w = Window.partitionBy(col("id_q"))
      .orderBy(col("cosine").desc, col("id_c").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("rank"), col("id_c"), col("cosine"))
  }

  /** Metadata-FILTERED LSH ANN — the "filtered vector search" serving
    * shape (top-k among only the candidates satisfying the query's
    * metadata predicate — the same-language / same-tenant / same-split
    * constraint every production vector store bolts onto ANN): the
    * filter column joins INTO the bucket key, so candidate generation
    * is one equi-join on (bucket, filter) — the filter prunes buckets
    * BEFORE scoring instead of post-filtering a top-k that may then
    * starve below k (the classic filtered-ANN failure). Same
    * deterministic hyperplanes and exact integer scoring as
    * [[annTopKLsh]], so the filtered path stays oracle-checkable. */
  def annTopKLshFiltered(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, filterCol: String, k: Int,
      bits: Int = 8): DataFrame = {
    val prep = (d: DataFrame, suffix: String) =>
      d.select(col(id).as(s"id_$suffix"), col(filterCol).as("__f"),
          V.quantize(col(vec)).as(s"q_$suffix"))
        .withColumn(s"n_$suffix", V.normSqQ(col(s"q_$suffix")))
        .withColumn("bucket", lshBucket(col(s"q_$suffix"), bits))
    val c = prep(corpus, "c")
    val q = prep(queries, "q")
    val scored = c.join(broadcast(q), Seq("bucket", "__f"))
      .filter(col("id_q") =!= col("id_c"))
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_q"), col("q_c")), col("n_q"), col("n_c")))
    val w = Window.partitionBy(col("id_q"))
      .orderBy(col("cosine").desc, col("id_c").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("__f").as(filterCol), col("rank"),
        col("id_c"), col("cosine"))
  }

  /** Multi-probe LSH ANN: like [[annTopKLsh]], but each query also
    * probes every bucket at hamming distance 1 from its own (flip each
    * of the `bits` sign bits) — the standard multi-probe trick
    * (Lv et al., VLDB'07): ~(bits+1)× the candidates for one extra
    * explode of the SMALL query side, recall substantially up, and the
    * corpus layout/scan untouched (still one equi-join on bucket id,
    * corpus never shuffled — the exploded query side stays broadcast).
    * Deterministic probes keep it oracle-checkable: candidates are
    * exactly the corpus rows with hamming(bucket_q, bucket_c) <= 1. */
  def annTopKMultiProbe(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, bits: Int = 8): DataFrame = {
    val prep = (d: DataFrame, suffix: String) =>
      d.select(col(id).as(s"id_$suffix"), V.quantize(col(vec)).as(s"q_$suffix"))
        .withColumn(s"n_$suffix", V.normSqQ(col(s"q_$suffix")))
        .withColumn("bucket", lshBucket(col(s"q_$suffix"), bits))
    val c = prep(corpus, "c")
    // probe set = own bucket + each single-bit flip; all distinct, so a
    // corpus row can match a query through at most one probe (no dup
    // candidates, no distinct needed)
    val qp = prep(queries, "q")
      .withColumn("probe", explode(array(
        (col("bucket") +: (0 until bits).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j)))): _*)))
      .drop("bucket")
    val scored = c.join(broadcast(qp), col("bucket") === col("probe"))
      .filter(col("id_q") =!= col("id_c"))
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_q"), col("q_c")), col("n_q"), col("n_c")))
    val w = Window.partitionBy(col("id_q"))
      .orderBy(col("cosine").desc, col("id_c").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("rank"), col("id_c"), col("cosine"))
  }

  /** IVF (inverted-file) ANN — the centroid-partitioned scale path:
    * every corpus vector is assigned ONCE to its nearest
    * coarse-quantizer cell (argmax cosine, min-cell tie-break), and a
    * query scores only the corpus rows in its `nProbe` nearest cells —
    * the equi-join on cell id replaces the all-pairs compare, and
    * recall/cost trade via nProbe exactly as in FAISS-style IVF.
    *
    * The coarse quantizer here is deterministic by construction: the
    * `nCells` smallest-id corpus vectors serve as centroids (a
    * production deployment trains k-means offline — everything
    * downstream: assignment projection, inverted layout, probe join,
    * is identical). Centroids are tiny quantizer METADATA, collected
    * once and inlined as literal vectors, so cell assignment is a pure
    * codegen'd projection — the corpus is never joined or shuffled to
    * find its cell. Exact integer dot products keep even the
    * approximate cell structure oracle-reproducible. */
  def annTopKIvf(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nCells: Int = 8, nProbe: Int = 2): DataFrame = {
    val prep = (d: DataFrame, suffix: String) =>
      d.select(col(id).as(s"id_$suffix"), V.quantize(col(vec)).as(s"q_$suffix"))
        .withColumn(s"n_$suffix", V.normSqQ(col(s"q_$suffix")))
    val cents = quantized(corpus, id, vec).orderBy(col(id)).limit(nCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    // per-centroid (negated cosine, cell id) structs: array_min picks
    // the max-cosine cell with min-id tie-break; array_sort + slice
    // gives the nProbe nearest cells for the query side
    def cellScores(qCol: String, nCol: String): Seq[Column] = cents.toSeq.map {
      case (cid, cvec, cnsq) =>
        val cos = V.cosineFrom(
          V.dotQ(col(qCol), array(cvec.map(lit(_)).toSeq: _*)),
          col(nCol), lit(cnsq))
        struct((-cos).as("nc"), lit(cid).as("cell"))
    }
    val c = prep(corpus, "c")
      .withColumn("cell",
        array_min(array(cellScores("q_c", "n_c"): _*)).getField("cell"))
    val qr = prep(queries, "q")
      .withColumn("probe", explode(slice(
        array_sort(array(cellScores("q_q", "n_q"): _*)), 1, nProbe)))
      .withColumn("cell", col("probe").getField("cell"))
      .drop("probe")
    val scored = c.join(broadcast(qr), Seq("cell"))
      .filter(col("id_q") =!= col("id_c"))
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_q"), col("q_c")), col("n_q"), col("n_c")))
    val w = Window.partitionBy(col("id_q"))
      .orderBy(col("cosine").desc, col("id_c").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("rank"), col("id_c"), col("cosine"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    * the MOSS scheme): hash every POSITIONAL word n-gram, slide a
    * window of `w` consecutive hashes, select each full window's
    * minimum; the DISTINCT selected hashes are the document's
    * fingerprint set. Guarantee: any shared token run of length
    * ≥ w+n−1 between two documents yields at least one SHARED
    * fingerprint, at ~2/(w+1) of the gram count stored — a
    * local-similarity property the whole-document hash
    * (`TextFunctions.fingerprint`) cannot give. One explode + one
    * window pass + one distinct; no joins, no driver round-trip. */
  def winnowingFingerprints(df: DataFrame, id: String, text: String,
      n: Int = 3, w: Int = 4): DataFrame = {
    val grams = Compute.spread(df).select(col(id),
        posexplode(T.shinglesOf(col(text), n)).as(Seq("pos", "sh")))
      .withColumn("hv", T.hash60(col("sh"), 0))
    val win = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("wmin", min(col("hv")).over(win))
      // full windows only (pos is 0-based): the first w-1 positions
      // have truncated windows whose minima are not winnowing picks
      .filter(col("pos") >= w - 1 && col("hv") === col("wmin"))
      .select(col(id), col("hv").as("fp")).distinct()
  }

  /** Brute-force top-k cosine neighbors for a query subset. The query
    * side is small by construction — broadcast it so the corpus scan
    * is embarrassingly parallel with no shuffle of the big side. */
  def annTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int): DataFrame = {
    val prep = (d: DataFrame, suffix: String) =>
      d.select(col(id).as(s"id_$suffix"), V.quantize(col(vec)).as(s"q_$suffix"))
        .withColumn(s"n_$suffix", V.normSqQ(col(s"q_$suffix")))
    val c = prep(corpus, "c")
    val q = prep(queries, "q")
    val scored = c.join(broadcast(q), col("id_q") =!= col("id_c"))
      .withColumn("cosine", V.cosineFrom(
        V.dotQ(col("q_q"), col("q_c")), col("n_q"), col("n_c")))
    val w = Window.partitionBy(col("id_q"))
      .orderBy(col("cosine").desc, col("id_c").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_q"), col("rank"), col("id_c"), col("cosine"))
  }

  /** Recall@k of the LSH-bucketed ANN against the exact brute-force
    * baseline — the evaluation harness an approximate-search
    * deployment tunes its `bits` knob with: per query, the fraction of
    * the TRUE top-k the bucketed path returned. Both sides are fully
    * deterministic (exact integer cosines, id tie-breaks), so even the
    * recall numbers are oracle-checkable — not just "approximately
    * right".
    *
    * Scale note: the exact side is the declared all-pairs baseline —
    * at corpus scale this harness runs on a SAMPLED query set (the
    * standard ANN-benchmark protocol), which is how `queries` is meant
    * to be fed; cost is then |sample| × corpus with the query side
    * broadcast, one pass. */
  def annRecall(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, bits: Int = 8): DataFrame = {
    val exact = annTopK(corpus, queries, id, vec, k)
      .select(col("id_q"), col("id_c"))
    val approx = annTopKLsh(corpus, queries, id, vec, k, bits)
      .select(col("id_q"), col("id_c")).withColumn("__hit", lit(1))
    // recall@k proper: hits / |true top-k| — the per-query EXACT result
    // count, not the constant k. They coincide when the corpus offers ≥k
    // candidates per query; near a corpus edge (fewer than k candidates)
    // the constant-k denominator would understate recall. A query with
    // ZERO exact neighbors has undefined recall and is (deliberately)
    // absent from the output — there is nothing to recall.
    exact.join(approx, Seq("id_q", "id_c"), "left")
      .groupBy(col("id_q"))
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_true"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_true").cast("double"))
      .drop("n_true")
  }
}
