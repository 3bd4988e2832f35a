package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale notes (the design constraint, not the test sizes):
  *  - exact dedup = hash-groupBy: one shuffle on a 64-bit fingerprint, never
  *    on the full text;
  *  - MinHash-LSH: per-row signature (map-side, codegen'd), band keys
  *    exploded (H/r small ints per row), one shuffle on (band, bandHash)
  *    buckets; candidate verification joins only within buckets — the
  *    all-pairs O(n^2) join never materializes;
  *  - SimHash: 64-bit signature map-side (native SimHash64 expression),
  *    near-dup candidates via banding on 16-bit chunks, verified by hamming
  *    distance (bit_count, codegen'd).
  */
object Dedup {

  /** Round count of the most recent [[connectedComponents]] call on this
    * JVM — probe/debug instrumentation only, not part of the operator
    * contract (ScaleProbe records it across replication factors).
    */
  @volatile var lastCcRounds: Int = 0

  /** Tokenize to lowercase whitespace words. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Word w-shingles of a text (w consecutive tokens joined by space). */
  def shingles(text: Column, w: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    // slice is 1-based; produce n-w+1 shingles (empty array when n < w)
    filter(
      transform(sequence(lit(1), greatest(n - w + 1, lit(0))),
        i => concat_ws(" ", slice(toks, i, lit(w)))),
      s => length(s) > 0)
  }

  /** Exact dedup: group identical normalized texts by 64-bit fingerprint,
    * keep the smallest id as the survivor. Shuffles (fingerprint, id) pairs
    * only. Returns (keeper, n_copies, fingerprint).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", fingerprint64(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"), col("fp"))

  /** Exact dedup with PRIORITY canonical selection: within an identical-
    * text group the keeper is the copy minimizing (priority, id) —
    * "prefer the curated source over the crawl" instead of min-id. One
    * `min(struct)` aggregate: struct ordering is lexicographic and
    * combines map-side like any min, so the pass costs exactly what
    * [[exactDedup]] does (one fingerprint shuffle, text never moves).
    */
  def exactDedupByPriority(df: DataFrame, idCol: String, textCol: String,
                           priorityCol: String): DataFrame =
    df.withColumn("fp", fingerprint64(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(struct(col(priorityCol).as("p"), col(idCol).as("id"))).as("__k"),
        count(lit(1)).as("n_copies"))
      .select(col("__k.id").as("keeper"),
        col("__k.p").as("keeper_priority"), col("n_copies"))

  /** SOFT dedup: keep every copy but DOWNWEIGHT it by its duplicate
    * multiplicity (w = 1/n) — the sampling-weight alternative to
    * dropping (repeated upsampling of duplicated text measurably hurts
    * LMs; soft dedup keeps the distribution support while equalizing
    * each distinct text's total mass). Composes with
    * [[graft.ops.Search.weightedSample]] for the selection step. One
    * fingerprint pass + one partial-agg groupBy + a (fp, id)-longs join
    * back; the text never shuffles.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("id"), fingerprint64(col(textCol)).as("__fp"))
    val counts = fp.groupBy(col("__fp")).agg(count(lit(1)).as("n_copies"))
    fp.join(counts, "__fp")
      .select(col("id"), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"))
  }

  /** Line-level exact dedup (the C4/CCNet rule): a line that appears
    * anywhere else in the corpus survives only at its FIRST occurrence
    * (min (doc, position)); every document is reassembled from its kept
    * lines in original order. This is how web-scale pipelines strip
    * boilerplate (nav bars, cookie banners, footers) that exact
    * whole-document dedup never sees.
    *
    * Scale shape: lines shuffle ONCE on their 64-bit fingerprint (the
    * keep/drop decision is a per-fingerprint window over tiny groups —
    * never an all-pairs join), then kept lines shuffle ONCE back to their
    * document for reassembly. O(corpus lines) end to end; the fingerprint
    * keys the first shuffle, so dominant-duplicate lines skew a single
    * key's group only by its occurrence count (bounded by doc count, and
    * AQE skew-split covers the pathological banner-on-every-page case).
    * Output is (id, n_kept, fingerprint of the rebuilt text) — the
    * rebuilt text itself stays distributed.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__fp", fingerprint64(col("line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol).asc, col("pos").asc)
    val kept = lines.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    // compiled position-ordered rebuild (see stripSpansAndFingerprint):
    // positions are unique per doc, lines non-null — identical text
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        pos_ordered_join(collect_list(struct(col("pos"), col("line"))), "\n")
          .as("__text"))
    // fully-deduplicated docs (every line seen earlier) come back empty,
    // not absent
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        fingerprint64(coalesce(col("__text"), lit(""))).as("text_fp"))
  }

  /** MinHash signature: H universal-hash mins over word-shingle hashes.
    * Both stages are native one-pass codegen kernels: word_shingle_hashes
    * never materializes shingle strings, and MinHashSignature computes all
    * H mins in a single sweep. (The obvious HOF composition
    * `array((0..H).map(i => array_min(transform(shingles, ...))))` expands
    * the interpreted shingle pipeline H times — HOFs are not CSE'd —
    * measured 50x slower in round 1.)
    */
  def minhashSignature(text: Column, numHashes: Int, shingleWidth: Int): Column =
    minhash_signature(word_shingle_hashes(text, shingleWidth), numHashes)

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket rows by (band index, band content), return
    * distinct candidate id pairs (a < b). Only rows sharing a band bucket
    * ever meet — pair generation is bucket-local.
    *
    * Formulated as ONE groupBy + within-bucket pair expansion rather than
    * a bucket-key self-join: the corpus is shingled exactly once (the
    * self-join read — and therefore had to cache — the banded frame
    * twice, and that MEMORY_AND_DISK cache leaked to the caller), and
    * one hash shuffle of (id, band, bandkey) rows replaces two. The
    * bucket-local quadratic is identical in both formulations — bucket
    * width is bounded by LSH design, and candidates are verified by true
    * Jaccard downstream. Mass-identical documents (which collapse to one
    * bucket and blow up EITHER formulation quadratically) should be
    * pre-collapsed by exactDedup first — the documented pipeline order
    * (Pipeline.cleanCorpus).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, shingleWidth: Int = 3,
                        bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), numHashes, shingleWidth).as("sig"))
    // collapse each band's sub-signature to ONE long key: a scalar
    // grouping key hash-partitions cleanly (an array-typed key degrades
    // the shuffle); collisions are harmless — verification catches them.
    // Every row carries its `keys` array so bucketPairs can emit each
    // pair from its FIRST colliding band only (no distinct pass);
    // bucketPairs trims it to the earlier-band prefix per banded row.
    val keyed = sig.select(col("id"),
      array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
        .as("keys"))
    bucketPairs(keyed.select(col("id"), col("keys"),
      posexplode(col("keys")).as(Seq("band", "bandkey"))))
  }

  /** Distinct candidate id pairs from banded rows (id, band, bandkey,
    * keys): ONE groupBy + within-bucket pair expansion (the shared LSH
    * candidate core of [[minhashCandidates]] and [[embeddingNearDupLsh]]
    * — see the formulation rationale on minhashCandidates). `keys` is
    * the row's full per-band key array; a pair is emitted ONLY from its
    * first colliding band (no earlier band key equal), so the global
    * pair set is distinct by construction and the distinct() exchange
    * over the pair volume — the heaviest stage of the old form, re-
    * shuffling every duplicate candidate — is gone at every scale.
    *
    * r19 form: each banded row carries only its band-key PREFIX
    * (slice(keys, 1, band) — the earlier bands are all the emission
    * test reads, and the average prefix halves the bucket shuffle's key
    * bytes), and the pair expansion + first-band filter run as ONE
    * compiled generator call per bucket ([[graft.functions
    * .FirstBandPairs]]) instead of the interpreted nested-transform +
    * flatten + explode + unrolled-filter pipeline, which materialized
    * every pair with BOTH full key arrays before filtering. Pair set
    * and (a_id < b_id) order are identical.
    */
  private def bucketPairs(banded: DataFrame): DataFrame =
    banded
      .select(col("id"), slice(col("keys"), lit(1), col("band")).as("pref"),
        col("band"), col("bandkey"))
      .groupBy(col("band"), col("bandkey"))
      .agg(sort_array(collect_list(struct(col("id"), col("pref")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(first_band_pairs(col("xs")).as(Seq("a_id", "b_id")))

  /** Word-set Jaccard similarity of two texts. */
  def jaccard(a: Column, b: Column): Column =
    jaccardSets(array_distinct(tokens(a)), array_distinct(tokens(b)))

  /** Jaccard over precomputed distinct-token arrays. Always prefer this in
    * pair joins: tokenization then costs O(rows), not O(pairs).
    */
  def jaccardSets(ta: Column, tb: Column): Column = {
    val inter = size(array_intersect(ta, tb)).cast(DoubleType)
    val uni = size(array_union(ta, tb)).cast(DoubleType)
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Jaccard over precomputed SORTED distinct-token arrays: one codegen'd
    * merge (sorted_intersect_count) instead of two interpreted hash-set
    * builds per pair; union size = |a| + |b| - inter. The fast path for
    * pair-join verification.
    */
  def jaccardSortedSets(ta: Column, tb: Column): Column = {
    val inter = sorted_intersect_count(ta, tb).cast(DoubleType)
    val uni = size(ta).cast(DoubleType) + size(tb).cast(DoubleType) - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Sorted distinct token set of a text (input shape for
    * [[jaccardSortedSets]]).
    */
  def sortedTokenSet(text: Column): Column =
    array_sort(array_distinct(tokens(text)))

  /** Hash-based variant: sorted deduplicated token-HASH set (native
    * one-pass kernel, no token strings) — same Jaccard values modulo
    * ~2^-64 hash collisions, 8-byte merges in the pair join. Preferred in
    * quadratic verification.
    */
  def sortedTokenHashSet(text: Column): Column = sorted_token_hash_set(text)

  /** MinHash-LSH near-duplicate pairs, verified by true Jaccard >= threshold.
    * Candidates come from banding (no all-pairs join); verification re-joins
    * the two texts for candidates only.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 16,
                   shingleWidth: Int = 3, bands: Int = 4): DataFrame =
    verifiedCandidates(df, idCol, textCol, numHashes, shingleWidth, bands)
      .filter(col("jaccard") >= threshold)

  /** HARD NEGATIVES for contrastive training: candidate pairs that
    * collided in an LSH band yet FAILED the Jaccard cut — "looks similar
    * to the sketch, isn't" is exactly the hard-negative definition, and
    * the dedup pipeline produces them as a byproduct (the verification
    * join's rejects), so mining costs nothing beyond keeping the other
    * side of the filter. Pairs with [[Search.contrastivePairs]]'
    * positives: same corpus pass yields both sides of the training pair.
    */
  def minhashHardNegatives(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, numHashes: Int = 16,
                           shingleWidth: Int = 3, bands: Int = 4): DataFrame =
    verifiedCandidates(df, idCol, textCol, numHashes, shingleWidth, bands)
      .filter(col("jaccard") < threshold)

  /** Asymmetric CONTAINMENT near-dup pairs: `(src, dst)` where
    * |src ∩ dst| / |src| >= threshold over the w=1 token-hash sets —
    * "src is (mostly) a subset of dst", the quote/excerpt/boilerplate
    * relation Jaccard misses when sizes differ (a half-length excerpt of
    * a doc has Jaccard ~0.5 but containment 1.0). Candidates come from
    * the same MinHash banding as [[minhashDedup]] — widen with more
    * bands (r=2 collides Jaccard-0.5 pairs w.p. ~0.9 at bands=8) since
    * banding recalls by JACCARD, not containment: an excerpt much
    * shorter than 1/threshold-ish of its source dilutes Jaccard below
    * the banding floor and needs a containment-aware index (LSH
    * Ensemble) — out of scope, documented not hidden. Each unordered
    * candidate pair is verified once and emitted in BOTH orientations
    * (one intersection count serves both), so the quadratic work equals
    * minhashDedup's.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, numHashes: Int = 16,
                       shingleWidth: Int = 3, bands: Int = 8): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, shingleWidth, bands)
    val toks = df.select(col(idCol).as("id"),
      sortedTokenHashSet(col(textCol)).as("toks"))
    def contain(inter: Column, own: Column): Column =
      round(when(size(own) > 0,
        inter / size(own).cast(DoubleType)).otherwise(lit(0.0)), 6)
    cands
      .join(toks.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("__i", sorted_intersect_count(col("a_toks"), col("b_toks"))
        .cast(DoubleType))
      .select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          contain(col("__i"), col("a_toks")).as("containment")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          contain(col("__i"), col("b_toks")).as("containment")))).as("p"))
      .select(col("p.src_id").as("src_id"), col("p.dst_id").as("dst_id"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Shared verification join of [[minhashDedup]] / [[minhashHardNegatives]]:
    * every banded candidate pair with its exact Jaccard (unfiltered).
    * tokenize+hash once per ROW; the join then only moves (id, sorted
    * hash-set) pairs and merge-counts longs.
    */
  private def verifiedCandidates(df: DataFrame, idCol: String,
                                 textCol: String, numHashes: Int,
                                 shingleWidth: Int, bands: Int): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, shingleWidth, bands)
    val toks = df.select(col(idCol).as("id"),
      sortedTokenHashSet(col(textCol)).as("toks"))
    cands
      .join(toks.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("jaccard", round(jaccardSortedSets(col("a_toks"), col("b_toks")), 6))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Cross-corpus MinHash DECONTAMINATION — the fuzzy-text member of the
    * decontam family ([[TextAnalysis.contaminatedDocs]] catches exact
    * n-gram overlap, [[embeddingContaminated]] catches semantic
    * paraphrase; this catches NEAR-VERBATIM rewrites — benchmark items
    * with light edits that break exact shingles but keep Jaccard high).
    * Flags `corpus` rows whose token-set Jaccard with ANY `benchmark`
    * row clears `threshold`: both sides sign under the same minhash
    * family, candidates meet per (band, bandkey) with the benchmark side
    * BROADCAST (an eval set is small by definition), true Jaccard
    * verifies over the w=1 token-hash sets, and only (candidate ids +
    * the corpus side's token sets) ever shuffle. One row per
    * contaminated corpus id: worst (max) verified Jaccard + hit count.
    */
  def minhashContaminated(corpus: DataFrame, idCol: String, textCol: String,
                          benchmark: DataFrame, benchIdCol: String,
                          benchTextCol: String, threshold: Double,
                          numHashes: Int = 16, shingleWidth: Int = 3,
                          bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    def banded(df: DataFrame, id: String, text: String, as: String) =
      df.select(col(id).as(as),
        minhashSignature(col(text), numHashes, shingleWidth).as("sig"))
        .select(col(as),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice(col("sig"),
              b * rowsPerBand + lit(1), lit(rowsPerBand)))))
            .as(Seq("band", "bandkey")))
    val cands = banded(corpus, idCol, textCol, "cid")
      .join(broadcast(banded(benchmark, benchIdCol, benchTextCol, "bid")),
        Seq("band", "bandkey"))
      .select(col("cid"), col("bid")).distinct()
    val cToks = corpus.select(col(idCol).as("cid"),
      sortedTokenHashSet(col(textCol)).as("c_toks"))
    val bToks = benchmark.select(col(benchIdCol).as("bid"),
      sortedTokenHashSet(col(benchTextCol)).as("b_toks"))
    cands
      .join(cToks, "cid")
      .join(broadcast(bToks), "bid")
      .withColumn("jaccard",
        round(jaccardSortedSets(col("c_toks"), col("b_toks")), 6))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("cid"))
      .agg(max(col("jaccard")).as("max_jaccard"), count(lit(1)).as("n_hits"))
      .select(col("cid").as("id"), col("max_jaccard"), col("n_hits"))
  }

  /** Banded MinHash INDEX of an ingested corpus — the stored artifact an
    * ONLINE near-dup check probes: one row per (band, bandkey) with the
    * doc's verification token set alongside, so a probe resolves
    * candidates AND verifies without touching the original texts. Built
    * once per ingest (warm/offline, like the LSH band store); written
    * `partitionBy("band", "bandkey")` in production so probes
    * partition-prune to their own keys.
    */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16, shingleWidth: Int = 3,
                       bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleWidth).as("sig"),
        sortedTokenHashSet(col(textCol)).as("toks"))
      .select(col("id"), col("toks"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"),
            b * rowsPerBand + lit(1), lit(rowsPerBand)))))
          .as(Seq("band", "bandkey")))
  }

  /** ONLINE near-dup check: verified near-dup pairs between `incoming`
    * documents and a STATIC [[minhashBandIndex]] — "does this new doc
    * near-dup anything already ingested?", the first-write-wins dedup
    * decision made AT INGEST instead of by a later batch sweep. The
    * incoming side is pure map-side (signature + band keys + token set —
    * one kernel pass), candidates meet on (band, bandkey) equi-join
    * against the index, exact Jaccard verifies over precomputed token
    * sets, and multi-band hits collapse to one pair. Stream-safe: with a
    * streaming `incoming` this is a stream-static join plus a keyed
    * dropDuplicates — StreamingSpec proves stream == batch pair parity.
    */
  def nearDupsAgainstIndex(incoming: DataFrame, idCol: String,
                           textCol: String, index: DataFrame,
                           threshold: Double, numHashes: Int = 16,
                           shingleWidth: Int = 3, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    val probe = incoming.select(col(idCol).as("in_id"),
        minhashSignature(col(textCol), numHashes, shingleWidth).as("sig"),
        sortedTokenHashSet(col(textCol)).as("in_toks"))
      .select(col("in_id"), col("in_toks"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"),
            b * rowsPerBand + lit(1), lit(rowsPerBand)))))
          .as(Seq("band", "bandkey")))
    probe.join(index, Seq("band", "bandkey"))
      .withColumn("jaccard",
        round(jaccardSortedSets(col("in_toks"), col("toks")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("in_id"), col("id").as("hit_id"), col("jaccard"))
      .dropDuplicates("in_id", "hit_id")
  }

  /** SimHash per document: 64-bit signature over the w=1 shingle token
    * hashes (same native tokenize+hash kernel as minhash/fingerprint, so
    * one DuckDB arithmetic mirror oracles every hash-dedup operator).
    */
  def simhashOf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      simhash64(word_shingle_hashes(col(textCol), 1)).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= maxDist, candidate
    * generation by banding the 64-bit hash into `bands` chunks of
    * `bitsPerBand` bits (standard simhash blocking).
    *
    * Candidate completeness invariant (property-tested in
    * KernelProperties): a pair within hamming distance d < bands must
    * agree on at least one chunk — d differing bits can dirty at most d
    * of the bands, pigeonholing one band clean. `maxDist < bands` is
    * therefore REQUIRED for exact recall; the banding is purely a
    * candidate generator, so any compliant (bands, bitsPerBand) yields
    * the identical verified output. Sizing knob for large corpora: more
    * bands = smaller chunks = denser buckets (more candidates, more
    * verification work); fewer, wider bands = sparser buckets but a
    * lower maxDist ceiling. 2^bitsPerBand bounds the bucket-key space —
    * at corpus sizes where 2^16 buckets/band collide too much, move to
    * e.g. 2 bands x 32 bits (maxDist <= 1) or keep 4x16 and accept
    * denser buckets (verification still filters exactly).
    */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, bands: Int = 4,
                   bitsPerBand: Int = 16): DataFrame = {
    require(bands * bitsPerBand == 64,
      s"bands ($bands) * bitsPerBand ($bitsPerBand) must cover the 64-bit signature")
    require(maxDist < bands,
      s"maxDist ($maxDist) must be < bands ($bands) for candidate completeness " +
        "(hamming <= maxDist => some band agrees)")
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val sh = simhashOf(df, idCol, textCol)
    val banded = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("simhash"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")))
    // this stays a chunk-key SELF-JOIN, unlike minhashCandidates' bucket
    // groupBy: 16-bit chunks of clustered signatures make simhash buckets
    // far denser than minhash band buckets, and the join spreads each
    // bucket's quadratic across tasks where a collect_list would pile it
    // onto one (measured 2.5x slower as a groupBy at sf0.1). The join
    // recomputes the banded subplan per side — one extra map-side
    // signature pass, the lesser evil.
    // first-colliding-band emission instead of distinct() (r19, the
    // bucketPairs trick, directly on the signatures): a pair meeting at
    // band t was co-bucketed at every earlier band whose chunks match,
    // so keeping only rows with NO earlier chunk equal emits each pair
    // exactly once — the distinct's full pair-volume exchange is gone.
    // Statically unrolled shifts over (a_sim, b_sim); all codegen.
    val earlier = (0 until bands - 1).map(u =>
      col("band") > u &&
        shiftrightunsigned(col("a_sim"), u * bitsPerBand).bitwiseAND(lit(mask)) ===
        shiftrightunsigned(col("b_sim"), u * bitsPerBand).bitwiseAND(lit(mask)))
      .reduceOption(_ || _).getOrElse(lit(false))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.id") < col("b.id"))
      .select(col("a.band").as("band"),
        col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.simhash").as("a_sim"), col("b.simhash").as("b_sim"))
      .filter(!earlier)
      .withColumn("hamming", hamming64(col("a_sim"), col("b_sim")))
      .filter(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** N-gram (word-set) Jaccard near-dup pairs within a blocking key — the
    * exact quadratic verifier, bounded by blocks. For unblocked corpora use
    * minhashDedup.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], threshold: Double): DataFrame = {
    // tokenize+hash+sort once per ROW before the self-join (O(rows), not
    // O(pairs)); long hash sets merge-count in codegen
    val base = df.select((Seq(col(idCol).as("id"),
      sortedTokenHashSet(col(textCol)).as("toks")) ++ blockCols.map(col)): _*)
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    base.as("a").join(base.as("b"), cond)
      .withColumn("jaccard", round(jaccardSortedSets(col("a.toks"), col("b.toks")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("jaccard"))
  }

  /** Connected components over an undirected near-duplicate pair list:
    * every node gets the MINIMUM id reachable from it as its component
    * representative — the standard "keep one per duplicate cluster" shape
    * (pairwise output alone can't answer "which docs survive" when dups
    * chain a-b-c).
    *
    * Min-label propagation: each round every node takes the min label among
    * itself and its neighbors (one hash-shuffle join + one partial-agg
    * groupBy per round, both on (long, long) pairs — no driver-side graph).
    * Rounds needed = component diameter; near-dup clusters are shallow
    * (dups of a common source), so this converges in a handful of rounds at
    * any corpus size. Convergence is detected by the monotonically
    * decreasing label sum (labels only ever decrease; summed in DECIMAL so
    * the check cannot wrap however large the id space), one scalar agg per
    * round.
    *
    * `reliableCheckpointEvery` > 0 replaces the eager `localCheckpoint`
    * with a reliable `checkpoint()` (to `spark.sparkContext
    * .setCheckpointDir`) every N rounds: `localCheckpoint` stores blocks
    * on executors, so on a real cluster an executor loss mid-iteration
    * kills the job — reliable checkpoints survive it at the cost of a
    * write to the checkpoint filesystem. 0 (the local default) keeps
    * every round on `localCheckpoint`.
    *
    * If the loop exhausts `maxIter` without reaching the fixpoint the
    * labels are PARTIAL (propagation stopped mid-component); that raises
    * unless `failOnNonConvergence = false`, which downgrades it to a
    * stderr warning.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          reliableCheckpointEvery: Int = 0,
                          failOnNonConvergence: Boolean = true): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetrize with ONE explode pass over the (possibly expensive)
    // pair-generation plan — the previous persist(e) + union(e, e
    // reversed) paid a second persist layer and two cache scans for the
    // same rows (r18, guide §1.2: don't compute what you throw away)
    val sym = edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .persist(lvl)
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    var t = System.nanoTime()
    def lap(tag: String): Unit = if (debug) {
      val now = System.nanoTime()
      System.err.println(f"[cc] $tag ${(now - t) / 1e9}%.2f s")
      t = now
    }
    val nEdges = sym.count() // materialize the edge cache once, up front
    lap(s"edges ($nEdges sym)")
    // DATA-ADAPTIVE driver arm (r19, guide §1.2 step 1): the loop below
    // costs a fixed handful of jobs PER ROUND (hop join + groupBy + jump
    // join + convergence agg), which at bench scale is pure scheduling
    // latency — a 2k-edge label propagation measured 2.0 s of driver
    // round-trips for microseconds of actual work. When the symmetrized
    // edge list is small enough to hold on the driver (<= the
    // `graft.cc.driverMaxEdges` session conf, default 1M sym edges ~
    // tens of MB — the same order as a broadcast join's build side), run
    // THE SAME round recurrence in local arrays: identical hop
    // (neighbor-min over the self-looped edges), identical pointer jump,
    // identical sum-equality convergence rule, identical maxIter /
    // failOnNonConvergence behavior — bit-for-bit the loop's labels,
    // including the partial-propagation state at maxIter exhaustion.
    // Large edge sets (the 100 TB regime) take the distributed loop
    // exactly as before; reliable-checkpoint callers always do (that
    // path exists to survive executor loss, which the driver arm cannot
    // exercise).
    val driverMaxEdges =
      nodes.sparkSession.conf.get("graft.cc.driverMaxEdges", "1000000").toLong
    val idIsLong = sym.schema.fields(0).dataType == LongType
    if (idIsLong && reliableCheckpointEvery == 0 && nEdges <= driverMaxEdges) {
      val rows = sym.collect()
      sym.unpersist(blocking = false)
      // index the edge nodes (every node appears as src by symmetry). An
      // edge with a null end is skipped, as the loop's joins drop it (a
      // null key never matches); both its directions go, so symmetry holds
      val src = new Array[Long](rows.length)
      val dst = new Array[Long](rows.length)
      var m = 0
      val idx = new java.util.HashMap[Long, Int](rows.length * 2)
      val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      var r = 0
      while (r < rows.length) {
        if (!rows(r).isNullAt(0) && !rows(r).isNullAt(1)) {
          val s = rows(r).getLong(0)
          src(m) = s; dst(m) = rows(r).getLong(1); m += 1
          if (!idx.containsKey(s)) { idx.put(s, ids.length); ids += s }
        }
        r += 1
      }
      val n = ids.length
      // CSR adjacency over in-neighbors (symmetric, so = neighbors)
      val deg = new Array[Int](n)
      r = 0
      while (r < m) { deg(idx.get(dst(r))) += 1; r += 1 }
      val off = new Array[Int](n + 1)
      var v = 0
      while (v < n) { off(v + 1) = off(v) + deg(v); v += 1 }
      val fill = java.util.Arrays.copyOf(off, n)
      val nbr = new Array[Int](m)
      r = 0
      while (r < m) {
        val d = idx.get(dst(r))
        nbr(fill(d)) = idx.get(src(r))
        fill(d) += 1; r += 1
      }
      var labels = ids.toArray
      var i = 0
      var converged = false
      while (!converged && i < maxIter) {
        // (a) neighbor-min hop along the self-looped edges
        val hop = new Array[Long](n)
        v = 0
        while (v < n) {
          var mn = labels(v) // the self-loop
          var e = off(v)
          while (e < off(v + 1)) {
            val l = labels(nbr(e)); if (l < mn) mn = l; e += 1
          }
          hop(v) = mn; v += 1
        }
        // (b) pointer jump: l <- min(l, l(l)); labels are edge-node ids
        val next = new Array[Long](n)
        var changed = false
        v = 0
        while (v < n) {
          val h = hop(v)
          // labels only take edge-node id values, so h is always present;
          // getOrDefault (NOT get: a missing boxed key unboxes to 0)
          // mirrors the loop's left-join + coalesce defensiveness
          val j = idx.getOrDefault(h, -1)
          val nl = if (j >= 0 && hop(j) < h) hop(j) else h
          next(v) = nl
          if (nl != labels(v)) changed = true
          v += 1
        }
        labels = next
        i += 1
        // sum-equality convergence == "no label changed" (labels only
        // decrease), with the loop's vacuous round-1 comparison skipped
        converged = i >= 2 && !changed
        lap(s"round $i (driver)")
      }
      lastCcRounds = i
      if (debug)
        System.err.println(s"[cc] converged after $i rounds (driver arm, maxIter $maxIter)")
      if (!converged) {
        val msg = s"connectedComponents did NOT converge after $maxIter rounds: " +
          "labels are partial propagation, not components. Raise maxIter " +
          "(rounds needed ~ log2(component diameter))."
        if (failOnNonConvergence) throw new IllegalStateException(msg)
        System.err.println(s"[cc] WARNING: $msg")
      }
      val sp = nodes.sparkSession
      import sp.implicits._
      val labelRows = ids.indices.map(k => (ids(k), labels(k)))
      val labelDf = sp.createDataset(labelRows).toDF("id", "component")
      return nodes.select(col(idCol).as("id"))
        .join(broadcast(labelDf.select(col("id"), col("component").as("__c"))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    }
    // Iterative-loop discipline: EAGER localCheckpoint each round. Chained
    // persist/unpersist is a trap here — unpersisting round k's frame
    // invalidates the cached plan round k+1 was built over, and every
    // later round then recomputes its (self-join-doubling) full lineage:
    // measured ~8x cost growth per round. Checkpointing truncates lineage.
    // the scalar convergence sum PIGGYBACKS on checkpoint materialization:
    // frames are checkpointed LAZILY and labelSum is the first action, so
    // one job both persists the round's blocks and folds the sum — not a
    // materialization job plus a separate agg job per round
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty edge list -> instant fixpoint
    // iterate ONLY over nodes that appear in some edge: singletons (the
    // bulk of a deduplicated corpus) need no propagation and are stitched
    // back as their own component in one final join — iteration state
    // scales with the pair list, not the corpus
    val edgeNodes = sym.select(col("src").as("id")).distinct()
    // SELF-LOOPS folded into the propagation edges: min(own, neighbors)
    // then falls out of the ONE groupBy directly, removing the
    // left-join-plus-least hop step — one node-sized join fewer per
    // round (r18, guide §2.4). Persisted alongside sym so rounds scan a
    // cache, not the pair plan.
    val symLoop = sym.union(
        edgeNodes.select(col("id").as("src"), col("id").as("dst")))
      .persist(lvl)
    var labels = edgeNodes
      .withColumn("component", col("id"))
      .localCheckpoint(eager = false)
    // no up-front sum job: round 1's propagation job materializes the
    // initial frame anyway, and a null prevSum just skips the (vacuous)
    // round-1 comparison — labels of any non-empty edge set always
    // change in round 1, and an empty set self-converges in round 2
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var i = 0
    // One propagation round: (a) neighbor-min hop along the self-looped
    // edges — the self-loop injects each node's own label, so the single
    // groupBy(dst) IS the hop (no left-join-plus-least step) — then
    // (b) pointer jumping: labels are node ids, so follow one level of
    // indirection (l <- min(l, l(l))), doubling the effective hop length:
    // O(log diameter) rounds instead of O(diameter). `hop` is inlined on
    // both sides of the jump join, NOT checkpointed: its identical
    // exchange subtrees deduplicate under ReuseExchange.
    def oneRound(l: DataFrame): DataFrame = {
      val hop = symLoop.join(l, symLoop("src") === l("id"))
        .groupBy(col("dst")).agg(min(col("component")).as("component"))
        .select(col("dst").as("id"), col("component"))
      hop.as("a")
        .join(hop.select(col("id").as("__lid"), col("component").as("__lcomp")).as("b"),
          col("a.component") === col("__lid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.component"), coalesce(col("__lcomp"), col("a.component")))
            .as("component"))
    }
    while (!converged && i < maxIter) {
      // ONE round per driver action: the round's plan truncates at the
      // previous checkpoint, and the single labelSum action below both
      // materializes the round's lazy checkpoint and decides convergence.
      // Measured dead ends at sf0.1 (see BASELINE.md): unrolling 2
      // rounds/action is 2x slower (nested hop duplication defeats
      // exchange reuse), and disabling AQE for the loop is 3x slower
      // (AQE's runtime broadcast conversion is what keeps rounds cheap).
      val next =
        if (reliableCheckpointEvery > 0 && (i + 1) % reliableCheckpointEvery == 0)
          oneRound(labels).checkpoint() // survives executor loss
        else oneRound(labels).localCheckpoint(eager = false)
      val nextSum = labelSum(next)
      labels = next
      converged = prevSum != null && nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
      // sym's cache is only needed until symLoop materializes (round 1's
      // action scans it once for the union); from round 2 on every scan
      // hits symLoop, so holding both caches doubles the edge list's
      // memory footprint for the rest of the loop (r19 ADVICE)
      if (i == 1) sym.unpersist(blocking = false)
      lap(s"round $i")
    }
    lastCcRounds = i
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged after $i rounds (maxIter $maxIter)")
    if (!converged) {
      val msg = s"connectedComponents did NOT converge after $maxIter rounds: " +
        "labels are partial propagation, not components. Raise maxIter " +
        "(rounds needed ~ log2(component diameter))."
      if (failOnNonConvergence) {
        sym.unpersist(blocking = false)
        symLoop.unpersist(blocking = false)
        throw new IllegalStateException(msg)
      }
      System.err.println(s"[cc] WARNING: $msg")
    }
    sym.unpersist(blocking = false)
    symLoop.unpersist(blocking = false)
    // stitch singletons back: every node not touched by an edge is its
    // own component (left join + coalesce, lazy — the caller's action
    // runs it; at scale this is the only corpus-sized step)
    nodes.select(col(idCol).as("id"))
      .join(labels.select(col("id"), col("component").as("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
  }

  /** Near-duplicate clusters of a corpus: ngram-Jaccard pairs within
    * blocking keys -> connected components -> (id, component) for every
    * document (singletons are their own component).
    *
    * The blocked-exact pair generator is quadratic WITHIN blocks
    * (measured x4.1 pair volume per corpus doubling) — correct when the
    * blocking keys genuinely bound block size, corpus-sized otherwise.
    * For unblocked 100 TB corpora use [[dedupClustersMinhash]]: same
    * component contract, LSH-bounded candidate generation.
    */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    blockCols: Seq[String], threshold: Double): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, blockCols, threshold)
    connectedComponents(df.select(col(idCol)), idCol, pairs, "a_id", "b_id")
  }

  /** Scale-true near-duplicate clusters: MinHash-LSH verified pairs
    * ([[minhashDedup]] — banded candidate buckets, ONE shuffle, the
    * all-pairs join never materializes) -> connected components. This is
    * the composition that survives 100 TB: pair volume is bounded by LSH
    * bucket design rather than by blocking-key cardinality, and the
    * propagation loop's state scales with the pair list, not the corpus.
    * Same output contract as [[dedupClusters]]: (id, component) for every
    * document, component = min reachable id, singletons their own
    * component — only the edge set differs (Jaccard >= threshold over the
    * LSH-candidate pairs instead of over all in-block pairs).
    */
  def dedupClustersMinhash(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, numHashes: Int = 16,
                           shingleWidth: Int = 3, bands: Int = 4): DataFrame = {
    val pairs = minhashDedup(df, idCol, textCol, threshold, numHashes,
      shingleWidth, bands)
    connectedComponents(df.select(col(idCol)), idCol, pairs, "a_id", "b_id")
  }

  /** Scale-true embedding near-duplicate pairs: hyperplane-LSH bucketed
    * candidates (Ann.lshBuckets — nbits broadcast-plane sign bits per row,
    * map-side; banded into `bands` sub-signatures; candidates meet only
    * inside a shared band bucket) verified by exact cosine >= threshold.
    * The embedding analog of [[minhashDedup]]: no blocking key, no
    * all-pairs join — pair volume is bounded by the LSH band design, so
    * this is the composition that survives an unblocked 100 TB corpus
    * where [[embeddingNearDup]]'s within-block quadratic does not.
    * Same output contract: (a_id, b_id, cosine), a < b. Vectors must
    * share one dimension (the plane family is sized from an arbitrary
    * row's); NULL-vector rows are dropped — they cannot near-dup.
    *
    * SIZING (the scale contract is conditional on it): the defaults
    * (nbits=16, bands=4 — 4-bit band keys, 16 buckets per band) are
    * TEST-SCALE; a random pair collides in some band with probability
    * ~1-(1-2^-4)^4 ≈ 23%, which is fine at 10^5 rows and near-quadratic
    * at 10^9. Callers must size `nbits/bands` so 2^(nbits/bands) is
    * large relative to the corpus — e.g. nbits=64 / bands=4 (16-bit band
    * keys, 65536 buckets per band) bounds expected random-collision
    * volume at ~4·n²/2^16 pairs while a true near-dup (cosine→1, sign
    * bits identical) still collides in every band. Wider bands trade
    * recall for candidate volume exactly as in [[simhashDedup]]'s
    * banding note.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, nbits: Int = 16, bands: Int = 4,
                          seed: Long = 42L): DataFrame = {
    require(nbits % bands == 0,
      s"nbits ($nbits) must be divisible by bands ($bands)")
    val r = nbits / bands
    val mask = (1L << r) - 1
    // contract: one uniform vector dimension (the plane family is sized
    // from it); rows with a NULL vector cannot near-dup and are dropped
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    // dimension probe: one row, schema-shaped (like storedLshSignatures);
    // an empty corpus has no pairs (and no dimension to probe)
    val probe = base.select(size(col("v"))).take(1)
    if (probe.isEmpty)
      base.select(col("id").as("a_id"), col("id").as("b_id"),
        lit(0.0).as("cosine"))
    else {
      val dim = probe(0).getInt(0)
      val sigs = graft.ops.Ann.lshBuckets(base, "v", dim, nbits, seed)
      val banded = sigs.select(col("id"),
        array((0 until bands).map(b =>
          shiftright(col("bucket"), b * r).bitwiseAND(lit(mask))): _*)
          .as("keys"))
        .select(col("id"), col("keys"),
          posexplode(col("keys")).as(Seq("band", "bandkey")))
      val cands = bucketPairs(banded)
      cands
        .join(base.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
        .join(base.select(col("id").as("b_id"), col("v").as("b_v")), "b_id")
        .withColumn("cosine", round(v_cosine(col("a_v"), col("b_v")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("a_id"), col("b_id"), col("cosine"))
    }
  }

  /** Cross-corpus embedding DECONTAMINATION — the embedding analog of
    * [[TextAnalysis.contaminatedDocs]] (n-gram decontam): flag `corpus`
    * rows whose embedding cosine-near-dups ANY `benchmark` row, so
    * eval-set paraphrases that shared no n-grams still get scrubbed
    * before training. Both sides sign under the SAME hyperplane family;
    * candidates meet only inside (band, bandkey) buckets, so the
    * all-pairs cross join never materializes. The benchmark side is
    * small by definition (an eval set) and BROADCASTS — the corpus is
    * touched by one signature pass and shuffles nothing: band-bucket
    * matching and the exact-cosine verify are both map-side against the
    * broadcast benchmark. Output: ONE row per contaminated corpus id
    * with its worst (max) verified cosine and the hit count.
    */
  def embeddingContaminated(corpus: DataFrame, idCol: String, vecCol: String,
                            benchmark: DataFrame, benchIdCol: String,
                            benchVecCol: String, threshold: Double,
                            nbits: Int = 16, bands: Int = 4,
                            seed: Long = 42L): DataFrame = {
    require(nbits % bands == 0,
      s"nbits ($nbits) must be divisible by bands ($bands)")
    val r = nbits / bands
    val mask = (1L << r) - 1
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val b = benchmark.select(col(benchIdCol).as("id"), col(benchVecCol).as("v"))
      .filter(col("v").isNotNull)
    val probe = c.select(size(col("v"))).take(1)
    if (probe.isEmpty || b.select(lit(1)).take(1).isEmpty)
      c.select(col("id"), lit(0.0).as("max_cosine"), lit(0L).as("n_hits"))
        .limit(0)
    else {
      val dim = probe(0).getInt(0)
      def banded(base: DataFrame, as: String): DataFrame =
        graft.ops.Ann.lshBuckets(base, "v", dim, nbits, seed)
          .select(col("id").as(as), col("v").as(s"${as}_v"),
            explode(array((0 until bands).map(bd =>
              struct(lit(bd).as("band"),
                shiftright(col("bucket"), bd * r).bitwiseAND(lit(mask))
                  .as("bandkey"))): _*)).as("bk"))
          .select(col(as), col(s"${as}_v"),
            col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
      // verify FIRST (map-side against the broadcast — multi-band
      // collisions recompute the same cosine, but nothing shuffles),
      // then dedup only the verified hit set (tiny) before counting
      banded(c, "cid")
        .join(broadcast(banded(b, "bid")), Seq("band", "bandkey"))
        .withColumn("cosine", round(v_cosine(col("cid_v"), col("bid_v")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("cid"), col("bid"), col("cosine"))
        .distinct()
        .groupBy(col("cid"))
        .agg(max(col("cosine")).as("max_cosine"), count(lit(1)).as("n_hits"))
        .select(col("cid").as("id"), col("max_cosine"), col("n_hits"))
    }
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCols: Seq[String], threshold: Double): DataFrame = {
    val base = df.select((Seq(col(idCol).as("id"), col(vecCol).as("v")) ++
      blockCols.map(col)): _*)
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    base.as("a").join(base.as("b"), cond)
      .withColumn("cosine", round(v_cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("cosine"))
  }

  /** SemDeDup cluster-blocked semantic near-duplicate PAIRS (Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): k-means-cluster the
    * embedding space, then compare ONLY within clusters — the published
    * answer to "the all-pairs cosine join does not exist at corpus
    * scale": with k chosen so clusters stay bounded (the paper uses
    * k=50,000 on LAION), the within-cluster quadratic is a constant per
    * cluster and the join is one shuffle on the cluster key.
    *
    * Input is a fitted index's `clustered` frame (the offline batch
    * artifact of [[Ann.buildIvf]] — cluster assignment is the SAME
    * coarse quantizer serving IVF search, built once, shared). Recall
    * caveat inherent to the method: a dup pair straddling a cluster
    * boundary is missed; the paper accepts this (and it is why the
    * threshold is set high).
    */
  def semanticDedupPairs(clustered: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, roundTo: Int = 6): DataFrame = {
    val a = clustered.select(col("cluster"),
      col(idCol).as("a_id"), col(vecCol).as("a_v"))
    val b = clustered.select(col("cluster"),
      col(idCol).as("b_id"), col(vecCol).as("b_v"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(v_cosine(col("a_v"), col("b_v")), roundTo))
      .filter(col("cosine") >= threshold)
      .select(col("cluster"), col("a_id"), col("b_id"), col("cosine"))
  }

  /** SemDeDup survivor selection: of each qualifying pair, KEEP the
    * member LESS similar to its cluster centroid — the paper's
    * keep-outliers policy (§4: keeping low-centroid-similarity examples
    * outperformed random/high), made deterministic and engine-mirrorable
    * by comparing ROUNDED centroid similarities with an id tiebreak.
    * Greedy pairwise (both members of a mutual-dup chain can drop except
    * the chain's minimum): for the transitive-closure variant feed
    * [[semanticDedupPairs]] into [[connectedComponents]] instead.
    *
    * Returns survivors as (idCol, cluster, csim). Scale shape: centroid
    * join is broadcast (model state), the pair join shuffles once on
    * cluster, and the final anti-join shuffles on id — drops are NOT
    * broadcast (a saturated corpus can drop most of itself).
    */
  def semanticDedup(clustered: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String, threshold: Double,
                    roundTo: Int = 6): DataFrame = {
    val tagged = clustered.join(broadcast(centroids), Seq("cluster"))
      .select(col(idCol), col("cluster"),
        col(vecCol).as("__v"),
        round(v_cosine(col(vecCol), col("centroid")), roundTo).as("csim"))
    val a = tagged.select(col("cluster"), col(idCol).as("a_id"),
      col("__v").as("a_v"), col("csim").as("a_c"))
    val b = tagged.select(col("cluster"), col(idCol).as("b_id"),
      col("__v").as("b_v"), col("csim").as("b_c"))
    val drops = a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(round(v_cosine(col("a_v"), col("b_v")), roundTo) >= threshold)
      .select(
        // equal rounded csim falls through to b_id — the larger id of the
        // pair (a_id < b_id holds by the join filter)
        when(col("a_c") > col("b_c"), col("a_id"))
          .otherwise(col("b_id")).as(idCol))
      .distinct()
    tagged.join(drops, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"), col("csim"))
  }

  /** Cross-document duplicated SPANS — the substring-level dedup of
    * Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed as relational Spark: a token w-shingle that
    * occurs in more than one document marks its token range as duplicated,
    * and overlapping-or-touching duplicated ranges within a document merge
    * into maximal spans (gaps-and-islands over the per-document window).
    *
    * Returns (doc_id, span_start, span_end, span_len) with token-index
    * bounds, end exclusive. A run of consecutive duplicated shingles of
    * length L yields ONE span of L + w - 1 tokens.
    *
    * Scale shape: posexplode is map-side; the duplicated-shingle set is one
    * partial-aggregating groupBy on the shingle (production swaps the
    * string key for a 128-bit hash — same shuffle, fixed-width key); the
    * island merge is a per-document window (never a global sort). The
    * all-pairs doc x doc comparison of suffix-array dedup never appears.
    */
  /** Whitespace tokens with empties dropped — the span-dedup token base. */
  private def cleanToks(textCol: String): Column =
    // array_remove is codegen'd; the filter-HOF form interprets its
    // lambda per token. Identical result (tokens non-null, length>0 <=> != "")
    array_remove(tokens(col(textCol)), "")

  /** (id, pos, sh): every token w-shingle HASH of every document with its
    * 0-based start position — one native [[graft.functions.ShingleKernel]]
    * pass per row then a map-side posexplode. Shingles are compared by
    * 64-bit hash, never materialized as strings: the HOF composition
    * (split + slice-per-shingle + concat_ws) interprets a lambda per
    * element and is O(tokens * w) allocations per document — measured 10x
    * slower at sf0.1 — and its string keys shuffle ~3x the bytes. The
    * DuckDB oracle reproduces the kernel arithmetic bit-for-bit
    * (DuckMirror.sh3Of), so hash keys cost nothing in checkability.
    */
  private def shingledPositions(df: DataFrame, idCol: String,
                                textCol: String, w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(word_shingle_hashes(col(textCol), w)).as(Seq("pos", "sh")))

  /** Per-document MERGED SPAN ARRAYS `(id, __spans)` from hit positions
    * `(id, pos)`: one partial-less groupBy collects each doc's hit
    * positions, the compiled [[graft.functions.MergeIslands]] kernel
    * sorts and merges them (end exclusive, touching ranges merged) —
    * value-identical to the former two-window gaps-and-islands form
    * (prevEnd running max / island running sum / min-max per island),
    * with the Sort + 2 Window passes replaced by one kernel call per
    * doc. Hit counts per doc are bounded by doc length, so the
    * collected array is doc-sized state exactly like the reassembly
    * collect_list this pipeline already carries.
    */
  private def mergeIslandsArr(hits: DataFrame, w: Int): DataFrame =
    hits.groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__ps"))
      .select(col("id"), merge_islands(col("__ps"), w).as("__spans"))

  /** Exploded form of [[mergeIslandsArr]]: `(id, span_start, span_end)`. */
  private def mergeIslands(hits: DataFrame, w: Int): DataFrame =
    mergeIslandsArr(hits, w)
      .select(col("id"), explode(col("__spans")).as("__s"))
      .select(col("id"), col("__s.span_start").as("span_start"),
        col("__s.span_end").as("span_end"))

  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 3): DataFrame = {
    require(w >= 1, s"duplicatedSpans needs w >= 1, got $w")
    val shingled = shingledPositions(df, idCol, textCol, w)
    // "in >= 2 distinct docs" == min(id) != max(id): a plain min/max
    // partial-agg, no count-distinct Expand
    val dup = shingled.groupBy(col("sh"))
      .agg(min(col("id")).as("__a"), max(col("id")).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .select(col("sh"))
    val hits = shingled.join(dup, "sh")
      .select(col("id"), col("pos").cast(LongType).as("pos"))
    mergeIslands(hits, w)
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** Per-document roll-up of [[duplicatedSpans]]: how much of each document
    * is duplicated text (the corpus-health number substring dedup reports).
    * Returns (doc_id, n_spans, dup_tokens, n_tokens, dup_ratio) for
    * documents that have at least one duplicated span; dup_ratio is a
    * 6-dp-rounded double of two exact integers (deterministic IEEE).
    */
  def spanStats(df: DataFrame, idCol: String, textCol: String,
                w: Int = 3): DataFrame = {
    val nTok = df.select(col(idCol).as(idCol),
      size(array_remove(tokens(col(textCol)), ""))
        .cast(LongType).as("n_tokens"))
    duplicatedSpans(df, idCol, textCol, w)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_tokens"))
      .join(nTok, idCol)
      .select(col(idCol), col("n_spans"), col("dup_tokens"), col("n_tokens"),
        round(col("dup_tokens").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("dup_ratio"))
  }

  /** The ACTIONABLE form of [[duplicatedSpans]]: rebuild each document with
    * its duplicated spans REMOVED, keeping exactly one copy of every
    * duplicated region corpus-wide — the transform substring-dedup
    * pipelines actually apply (Lee et al. §4: drop all but one occurrence).
    *
    * Ownership rule (deterministic, relational): each duplicated shingle's
    * canonical copy lives in the MIN doc id that contains it; occurrences
    * in any other doc are "foreign" and their token ranges are stripped
    * (touching ranges merged first). A document whose every token is
    * foreign-duplicated (a planted whole-doc copy) drops out entirely.
    *
    * Returns (doc_id, n_kept, kept_fp): surviving token count and the
    * 64-bit rolling-hash fingerprint of the space-rejoined kept text —
    * enough for an oracle to value-check the reconstruction without
    * shipping full texts.
    *
    * Scale shape: two shuffles over (shingle, id) pairs (ownership groupBy
    * + the hit join), a per-doc window, and a per-doc range anti-join of
    * tokens against the doc's FEW merged spans; reassembly is a per-doc
    * sort_array over kept (pos, token) structs — never a global sort.
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           w: Int = 3): DataFrame = {
    require(w >= 1, s"stripDuplicatedSpans needs w >= 1, got $w")
    val shingled = shingledPositions(df, idCol, textCol, w)
    val owners = shingled.groupBy(col("sh"))
      .agg(min(col("id")).as("owner"), max(col("id")).as("__b"))
      .filter(col("owner") =!= col("__b"))
      .select(col("sh"), col("owner"))
    val foreign = shingled.join(owners, "sh")
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos").cast(LongType).as("pos"))
    stripSpansAndFingerprint(df, idCol, textCol, mergeIslandsArr(foreign, w))
  }

  /** Shared reassembly tail of [[stripDuplicatedSpans]] /
    * [[stripContaminatedSpans]], r19 form: each doc LEFT-joins its
    * merged span ARRAY (`spansArr` = [[mergeIslandsArr]] output — one
    * small row per affected doc, broadcast whenever spans are sparse)
    * and the compiled [[graft.functions.StripSpans]] kernel tokenizes,
    * drops in-span positions, and rejoins survivors map-side. The
    * former posexplode + range-anti-join + collect_list reassembly
    * shuffled EVERY surviving corpus token by id just to rebuild the
    * text — at any scale the heaviest stage of the strip gates; now the
    * text never shuffles at all (guide §2.3/§8: decide on small rows,
    * never move the payload). Output identical: same survivors (docs
    * with zero tokens or zero kept tokens are absent both ways), same
    * single-space rejoin, same fingerprint.
    */
  private def stripSpansAndFingerprint(df: DataFrame, idCol: String,
                                       textCol: String,
                                       spansArr: DataFrame): DataFrame = {
    val noSpans = array().cast(
      "array<struct<span_start:bigint,span_end:bigint>>")
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(spansArr, Seq("id"), "left")
      .select(col("id"),
        strip_spans(col("__t"), coalesce(col("__spans"), noSpans)).as("__k"))
      .filter(col("__k.n_kept") > 0)
      .select(col("id").as(idCol), col("__k.n_kept").as("n_kept"),
        graft.functions.fingerprint64(col("__k.kept")).as("kept_fp"))
  }

  /** SPAN-level benchmark decontamination: the token ranges of `df` that
    * overlap any word `w`-shingle of the `bench` corpus — the surgical
    * form of doc-level decontamination ([[graft.ops.TextAnalysis
    * .contaminatedDocs]] drops whole documents; this localizes the
    * contaminated substrings so the rest of the document survives, the
    * n-gram-overlap protocol of the public eval-decontamination suites).
    * Same shingle kernel, hit semantics = membership in the benchmark
    * shingle set; touching hits merge gaps-and-islands into maximal
    * spans. Returns (id, span_start, span_end, span_len), token-index
    * bounds, end exclusive.
    *
    * Scale shape: the corpus side is one kernel pass + posexplode
    * (map-side); the benchmark shingle set is distinct-aggregated and
    * BROADCAST (eval benchmarks are model-sized next to a training
    * corpus — the same asymmetry doc-level decontam exploits), so no
    * corpus shuffle at all before the per-doc island window.
    */
  def contaminatedSpans(df: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchTextCol: String,
                        w: Int = 3): DataFrame = {
    require(w >= 1, s"contaminatedSpans needs w >= 1, got $w")
    val benchSh = bench.select(
      explode(graft.functions.word_shingle_hashes(col(benchTextCol), w))
        .as("sh")).distinct()
    val hits = shingledPositions(df, idCol, textCol, w)
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .select(col("id"), col("pos").cast(LongType).as("pos"))
    mergeIslands(hits, w)
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** The ACTIONABLE form of [[contaminatedSpans]]: rebuild each document
    * with its benchmark-overlapping spans REMOVED (docs with no
    * contamination pass through whole). Output contract matches
    * [[stripDuplicatedSpans]]: (id, n_kept, kept_fp).
    */
  def stripContaminatedSpans(df: DataFrame, idCol: String, textCol: String,
                             bench: DataFrame, benchTextCol: String,
                             w: Int = 3): DataFrame = {
    val benchSh = bench.select(
      explode(graft.functions.word_shingle_hashes(col(benchTextCol), w))
        .as("sh")).distinct()
    val hits = shingledPositions(df, idCol, textCol, w)
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .select(col("id"), col("pos").cast(LongType).as("pos"))
    stripSpansAndFingerprint(df, idCol, textCol, mergeIslandsArr(hits, w))
  }

  /** Fuzzy (edit-distance) near-duplicate pairs: Levenshtein distance at
    * most `maxDist` between length-capped prefixes, compared only WITHIN a
    * blocking key of (blockCols..., first `prefixLen` chars) — the
    * fuzzy-title/fuzzy-url dedup rule. Distances are integers, so the
    * operator is exactly mirrorable; the cap bounds the O(len^2) DP cell
    * count per pair.
    *
    * Same blocked-quadratic contract as [[ngramJaccardPairs]]: sound when
    * blocks are bounded (prefix blocks shatter a corpus finely); the
    * unblocked scale path for free-position edits is [[minhashCandidates]].
    */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                 blockCols: Seq[String], prefixLen: Int = 8,
                 capLen: Int = 60, maxDist: Int = 2): DataFrame = {
    require(prefixLen >= 1 && capLen >= prefixLen && maxDist >= 0,
      s"fuzzyPairs needs 1 <= prefixLen <= capLen and maxDist >= 0, " +
        s"got prefixLen=$prefixLen capLen=$capLen maxDist=$maxDist")
    val base = df.select((Seq(col(idCol).as("id"),
      substring(col(textCol), 1, capLen).as("t"),
      substring(col(textCol), 1, prefixLen).as("blk")) ++
      blockCols.map(col)): _*)
    val cond = (blockCols.map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col("a.blk") === col("b.blk"))).reduce(_ && _) &&
      col("a.id") < col("b.id")
    base.as("a").join(base.as("b"), cond)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("dist").cast(LongType).as("dist"))
  }
}
