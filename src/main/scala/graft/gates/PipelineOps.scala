package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.Collections
import graft.functions._
import graft.multimodal.Multimodal
import graft.ops.{Ann, Dedup, Search, TextAnalysis}

/** Training-data pipeline operators: dedup, text analysis, ANN, media. */
private[graft] object PipelineOps {
  import Fixtures._
  import graft.sources._

  val gates: Seq[Gate] = Seq(
    Gate("dedup_exact", (s, dir) =>
      Dedup.exactDedup(docsWithExactDups(s, dir), "doc_id", "text")
        .select(col("keeper"), col("n_copies")),
      """WITH c AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM c GROUP BY text ORDER BY keeper""".stripMargin),

    // priority canonical selection: crawl copies (source 'zsrc_crawl')
    // lose to the original even at lower ids; curated re-ingests
    // ('a_curated') WIN despite higher ids — source rank, then id
    Gate("dedup_priority", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val crawl = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
          lit("zsrc_crawl").as("source"))
      val curated = d.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"),
          lit("a_curated").as("source"))
      Dedup.exactDedupByPriority(d.union(crawl).union(curated),
        "doc_id", "text", "source")
    },
      """WITH c AS (SELECT doc_id, text, source FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text, 'zsrc_crawl'
        |           FROM documents WHERE doc_id % 10 = 0
        |           UNION ALL
        |           SELECT doc_id + 2000000, text, 'a_curated'
        |           FROM documents WHERE doc_id % 10 = 5),
        |r AS (SELECT doc_id, source,
        |        ROW_NUMBER() OVER (PARTITION BY text ORDER BY source, doc_id) AS rk,
        |        COUNT(*) OVER (PARTITION BY text) AS n_copies
        |      FROM c)
        |SELECT doc_id AS keeper, source AS keeper_priority, n_copies
        |FROM r WHERE rk = 1 ORDER BY keeper""".stripMargin),

    // URL-level dedup (the CCNet/RefinedWeb FIRST pass): raw URLs
    // derived deterministically with planted aliasing — host case,
    // www. prefixes, :443 ports, trailing slashes, utm params, query
    // param order — so syntactically distinct raw strings collapse to
    // one canonical key; one codegen projection + one partial-agg
    // groupBy
    Gate("dedup_url", (s, dir) =>
      graft.ops.Url.dedupByUrl(
        docs(s, dir).withColumn("url", rawUrl), "doc_id", "url"),
      """WITH raw AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
        |    '.Example.COM' ||
        |    CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
        |    '/docs/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
        |         WHEN doc_id % 4 = 1 THEN '?b=2&a=1'
        |         WHEN doc_id % 4 = 2 THEN '?a=1&b=2'
        |         ELSE '' END AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, split_part(url, '#', 1) AS u FROM raw),
        |c2 AS (SELECT doc_id, lower(split_part(u, '://', 1)) AS scheme,
        |              split_part(u, '://', 2) AS rest FROM c1),
        |c3 AS (SELECT doc_id, scheme, rest,
        |              split_part(rest, '/', 1) AS host0 FROM c2),
        |c4 AS (SELECT doc_id, scheme,
        |        regexp_replace(regexp_replace(lower(host0), '^www\.', ''),
        |                       ':(80|443)$', '') AS host,
        |        substr(rest, len(host0) + 1) AS pathq FROM c3),
        |c5 AS (SELECT doc_id, scheme, host,
        |        regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path,
        |        split_part(pathq, '?', 2) AS query FROM c4),
        |c6 AS (SELECT doc_id, scheme || '://' || host || path ||
        |        CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS url
        |       FROM (SELECT doc_id, scheme, host, path,
        |               array_to_string(list_sort(list_filter(
        |                 string_split(query, '&'),
        |                 p -> p <> '' AND p NOT LIKE 'utm\_%' ESCAPE '\')), '&') AS q2
        |             FROM c5) q)
        |SELECT url, COUNT(*) AS n, MIN(doc_id) AS keep_id
        |FROM c6 GROUP BY url ORDER BY url""".stripMargin),

    // domain balancing: at most k docs per canonical host (the cap that
    // keeps boilerplate-heavy megasites from drowning the mixture) —
    // ONE keyed window over the host, survivors by the seeded md5 draw
    Gate("url_host_cap", (s, dir) =>
      graft.ops.Url.capPerHost(
          docs(s, dir).withColumn("url", rawUrl), "doc_id", "url",
          k = 15, seed = 42L)
        .select(col("doc_id"), graft.ops.Url.hostOf(col("url")).as("host")),
      // same host simplification as url_host_filter (the rawUrl convention
      // canonicalizes to lower(source).example.com); survivors = the k
      // smallest md5 draws per host, the engine's permutation
      """WITH h AS (SELECT doc_id, lower(source) || '.example.com' AS host
        |           FROM documents),
        |r AS (SELECT doc_id, host,
        |             row_number() OVER (PARTITION BY host
        |               ORDER BY md5(CAST(doc_id AS VARCHAR) || '42'), doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, host FROM r WHERE rn <= 15 ORDER BY doc_id""".stripMargin),

    // domain-blocklist filtering (the OTHER half of the URL stage:
    // RefinedWeb/FineWeb drop curated domains before any content work):
    // the blocklist is model state inlined as one codegen predicate —
    // no join, no shuffle, a free rider on the first corpus scan
    Gate("url_host_filter", (s, dir) =>
      graft.ops.Url.filterBlockedHosts(
        docs(s, dir).withColumn("url", rawUrl), "url",
        Seq("src3.example.com", "src7.example.com", "blocked.example.net"))
        .select(col("doc_id"), graft.ops.Url.hostOf(col("url")).as("host")),
      // the derivation's canonical host is lower(source) || '.example.com'
      // by construction (the dedup_url oracle validates the full
      // canonicalization chain; this one value-checks the FILTER)
      """SELECT doc_id, lower(source) || '.example.com' AS host
        |FROM documents WHERE source NOT IN ('src3', 'src7')
        |ORDER BY doc_id""".stripMargin),

    Gate("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
        Seq("lang", "source"), threshold = 0.8),
      """WITH c AS (SELECT doc_id, text, lang, source FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text || ' zzz', lang, source
        |           FROM documents WHERE doc_id % 7 = 0),
        |     t AS (SELECT doc_id, lang, source,
        |                  list_distinct(string_split_regex(lower(text), '\s+')) AS toks
        |           FROM c)
        |SELECT * FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |               CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 6) AS jaccard
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.8
        |ORDER BY a_id, b_id""".stripMargin),

    // blocked-quadratic COMPARISON BASELINE (the LSH paths below are the
    // scale-true forms): gated on a bounded 2-label block subset so the
    // within-block self-join stays model-sized — the operator semantics
    // are fully exercised (2 blocks, planted dups in both) without paying
    // a corpus-quadratic in the benchmark record
    Gate("dedup_embedding", (s, dir) =>
      Dedup.embeddingNearDup(embWithNearDups(s, dir).filter(col("label") <= 1),
        "vec_id", "v", Seq("label"), threshold = 0.999),
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |           WHERE label <= 1
        |           UNION ALL
        |           SELECT vec_id + 100000, label,
        |                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.99)
        |           FROM embeddings WHERE vec_id % 5 = 0 AND label <= 1)
        |SELECT * FROM (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |  FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine >= 0.999
        |ORDER BY a_id, b_id""".stripMargin),

    // scale-true embedding near-dup: hyperplane-LSH bucketed candidates,
    // NO blocking key — the embedding analog of dedup_minhash (the
    // blocked quadratic above does not survive an unblocked corpus)
    Gate("dedup_embedding_lsh", (s, dir) =>
      Dedup.embeddingNearDupLsh(embWithNearDups(s, dir), "vec_id", "v",
        threshold = 0.999),
      DuckMirror.embeddingLshSql(threshold = 0.999, dim = 64)),

    // contrastive training pairs: the dedup pipeline's verified near-dup
    // pairs become POSITIVES; each anchor draws a deterministic NEGATIVE
    // from a broadcast md5-ordered sample (in-batch-negatives pattern) —
    // layout/engine/rerun-stable, map-side after one model-sized collect.
    // Consumes the CACHED production-sized (nbits=64) pair-mining artifact
    // — pair mining is offline (warmOffline), pair-gen is the serving path
    Gate("contrastive_pairs", (s, dir) => {
      val pairs = lshPairStore(s, dir).select(col("a_id"), col("b_id"))
      Search.contrastivePairs(pairs,
        embWithNearDups(s, dir).select(col("vec_id")), "vec_id",
        sampleSize = 64, seed = 42L)
    },
      DuckMirror.contrastiveSql(threshold = 0.999, dim = 64,
        sampleSize = 64, seed = 42L, nbits = 64, bands = 4)),

    // the SAME pipeline at PRODUCTION band sizing (nbits=64 / bands=4 —
    // 16-bit band keys, 65536 buckets per band): the Dedup.scala sizing
    // contract as measured evidence — random-pair collision volume drops
    // from ~23% (16/4) to ~2^-14, while true near-dups (sign bits
    // identical) still collide in every band and the planted pairs
    // survive; hits bit 63 of the signature, so this also pins the
    // unsigned band arithmetic on both engine and oracle
    Gate("dedup_embedding_lsh64", (s, dir) => lshPairStore(s, dir),
      DuckMirror.embeddingLshSql(threshold = 0.999, dim = 64,
        nbits = 64, bands = 4)),

    // hard negatives for contrastive training: band-collided candidate
    // pairs that FAILED the Jaccard cut — "looks similar to the sketch,
    // isn't" — mined for free as the verification join's rejects
    // asymmetric containment |src∩dst|/|src| over the banded candidates:
    // the quote/excerpt relation — the ' zzz' near-dup corpus pins the
    // asymmetry (original fully inside its variant at 1.0, the variant
    // a token short of the reverse)
    Gate("doc_containment", (s, dir) =>
      Dedup.containmentPairs(docsWithNearDups(s, dir), "doc_id", "text",
        threshold = 0.99, bands = 8),
      DuckMirror.containmentSql(threshold = 0.99,
      bands = 8)),

    // bands=8 (r=2) deliberately widens the LSH net so dissimilar pairs
    // collide often enough to mine from — the point of negative mining
    Gate("hard_negatives", (s, dir) =>
      Dedup.minhashHardNegatives(docsWithNearDups(s, dir), "doc_id", "text",
        threshold = 0.8, bands = 8),
      DuckMirror.minhashHardNegativesSql(threshold = 0.8,
      bands = 8)),

    // SOFT dedup: every copy kept, downweighted by multiplicity (1/n) —
    // the sampling-weight alternative to dropping; composes with
    // weighted sampling for the selection step
    Gate("dedup_weights", (s, dir) =>
      Dedup.softDedupWeights(docsWithExactDups(s, dir), "doc_id", "text"),
      """WITH c AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |n AS (SELECT text, COUNT(*) AS n_copies FROM c GROUP BY text)
        |SELECT c.doc_id AS id, n.n_copies,
        |       ROUND(CAST(1.0 AS DOUBLE) / n.n_copies, 6) AS weight
        |FROM c JOIN n USING (text) ORDER BY id""".stripMargin),

    // character entropy: the compressibility proxy of the public
    // quality-signal suites — map-side, engine-pinned float-sum order
    Gate("char_entropy", (s, dir) =>
      graft.ops.TextAnalysis.charEntropy(docs(s, dir), "doc_id", "text"),
      // run-length form on BOTH sides (sort, diff run-end positions):
      // same terms in the same ascending-char order as the per-distinct
      // formulation, O(n log n) instead of O(n * alphabet)
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS n,
        |         list_sort(list_transform(range(1, length(text) + 1),
        |                                  i -> text[i])) AS s
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, n,
        |         list_filter(range(1, len(s) + 1),
        |                     i -> i = len(s) OR s[i + 1] <> s[i]) AS ends
        |  FROM ch)
        |SELECT doc_id, CAST(n AS INTEGER) AS n,
        |       CASE WHEN n > 0 THEN 0.0 + ROUND(-list_reduce(
        |         list_concat([0.0], list_transform(range(1, len(ends) + 1),
        |           k -> (CAST(ends[k] - CASE WHEN k = 1 THEN 0
        |                                     ELSE ends[k - 1] END AS DOUBLE) / n)
        |                * ln(CAST(ends[k] - CASE WHEN k = 1 THEN 0
        |                                         ELSE ends[k - 1] END AS DOUBLE) / n))),
        |         (x, y) -> x + y), 6) END AS entropy
        |FROM e ORDER BY doc_id""".stripMargin),

    // n-gram novelty: fraction of a doc's distinct shingles unseen in
    // any other doc — the inverse boilerplate signal; (hash, id) longs
    // shuffle, the text never does
    Gate("novelty_score", (s, dir) =>
      graft.ops.TextAnalysis.noveltyScore(docs(s, dir), "doc_id", "text"),
      DuckMirror.noveltySql),

    // cross-corpus MinHash decontamination: the fuzzy-text member of the
    // decontam family — near-verbatim rewrites (the planted ' zzz'
    // variants) that break exact shingles but keep Jaccard high flag
    // against the broadcast benchmark
    Gate("decontam_minhash", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.minhashContaminated(d, "doc_id", "text",
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")),
        "doc_id", "text", threshold = 0.8)
    },
      DuckMirror.minhashDecontamSql(threshold = 0.8)),

    // cross-corpus embedding DECONTAMINATION: the embedding analog of
    // decontam — eval-set paraphrases sharing no n-grams still scrub.
    // Corpus = the embeddings table; benchmark = the planted scaled
    // copies (cosine 1.0 with their originals). Benchmark broadcasts;
    // verify is map-side; only verified hits shuffle
    Gate("decontam_embedding", (s, dir) => {
      val all = embWithNearDups(s, dir)
      Dedup.embeddingContaminated(
        all.filter(col("vec_id") < 100000), "vec_id", "v",
        all.filter(col("vec_id") >= 100000), "vec_id", "v",
        threshold = 0.999, nbits = 64, bands = 4)
    },
      DuckMirror.embeddingDecontamSql(threshold = 0.999, dim = 64,
        nbits = 64, bands = 4)),

    // SemDeDup (Abbas et al. 2023): semantic dedup via k-means cluster
    // blocking — the SAME coarse quantizer that serves IVF search doubles
    // as the dedup blocker (one offline fit, two consumers). Pairs meet
    // only within a cluster: one shuffle on the cluster key, quadratic
    // bounded by cluster size (k scales with the corpus). The oracle
    // re-derives the full k-means chain in SQL, so clustering AND pair
    // selection are value-checked end-to-end
    // cluster-balanced (diversity) sampling: cap each embedding-space
    // region's contribution — k per coarse cluster, SAME quantizer the
    // IVF/SemDeDup artifacts use (one offline fit, three consumers)
    Gate("cluster_sample", (s, dir) => {
      val idx = semanticIvf(s, dir)
      Search.clusterBalancedSample(idx.clustered, "vec_id", "cluster",
        k = 5, seed = 42L)
        .select(col("vec_id"), col("cluster").cast(IntegerType).as("cluster"))
    },
      DuckMirror.clusterSampleSql(dim = 64, nlist = 8, maxIter = 2,
        seed = 42L, k = 5, sampleSeed = 42L)),

    Gate("dedup_semantic", (s, dir) => {
      val idx = semanticIvf(s, dir)
      Dedup.semanticDedupPairs(idx.clustered, "vec_id", "v", threshold = 0.999)
    },
      DuckMirror.semanticSql(threshold = 0.999, dim = 64, nlist = 8,
        maxIter = 2, seed = 42L)),

    // the paper's survivor policy: of each dup pair KEEP the member less
    // similar to its cluster centroid (keep-outliers, SemDeDup §4),
    // deterministic via rounded csim + id tiebreak
    Gate("dedup_semantic_keep", (s, dir) => {
      val idx = semanticIvf(s, dir)
      Dedup.semanticDedup(idx.clustered, idx.centroids, "vec_id", "v",
        threshold = 0.999)
    },
      DuckMirror.semanticSql(threshold = 0.999, dim = 64, nlist = 8,
        maxIter = 2, seed = 42L, survivors = true)),

    Gate("dedup_minhash", (s, dir) =>
      Dedup.minhashDedup(docsWithNearDups(s, dir), "doc_id", "text",
        threshold = 0.8),
      DuckMirror.minhashSql(threshold = 0.8)),

    // near-dup clusters: pairwise edges -> connected components, every doc
    // labeled with the min reachable doc_id (its cluster representative)
    // consumes the warmed cluster store (offline labeling artifact); the
    // RAW pair-gen + CC cost stays measured by dedup_clusters_minhash,
    // the scale-true composition
    Gate("dedup_clusters", (s, dir) =>
      clusterStore(s, dir).select(col("doc_id"), col("component")),
      // exact transitive closure: min reachable doc_id per node over the
      // same near-dup pair edges the Spark side propagates labels on
      (NearDupClustersCte +
        """
          |SELECT id AS doc_id, min(comp) AS component
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // duplication-structure observability: the cluster-size histogram
    // (how many near-dup clusters of each size — the first diagnostic a
    // pipeline operator reads after a dedup pass). Two partial-agg
    // shuffles over (component) then (sz) longs; the texts never move
    Gate("dedup_cluster_sizes", (s, dir) =>
      clusterStore(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters")),
      // the SAME closure folded twice: per-component sizes, then the
      // size histogram
      (NearDupClustersCte +
        """,
          |     comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
          |     c2 AS (SELECT comp, COUNT(*) AS sz FROM comp GROUP BY comp)
          |SELECT sz, COUNT(*) AS n_clusters
          |FROM c2 GROUP BY sz ORDER BY sz""".stripMargin)),

    // scale-true clusters: MinHash-LSH verified pairs (banded buckets, no
    // all-pairs join) -> connected components — the composition that holds
    // at 100 TB, where blocking-key quadratics don't
    Gate("dedup_clusters_minhash", (s, dir) =>
      Dedup.dedupClustersMinhash(docsWithNearDups(s, dir), "doc_id", "text",
        threshold = 0.8)
        .select(col("id").as("doc_id"), col("component")),
      DuckMirror.minhashClustersSql(threshold = 0.8)),

    // leakage-safe splits: split keyed on the near-dup CLUSTER label, so
    // no cluster straddles train/test (the reason dedup runs before
    // splitting — near-dups across the boundary leak eval content);
    // consumes the CACHED cluster store (warmOffline — labeling cost is
    // dedup_clusters' measured point), split is map-side on the key
    Gate("split_by_cluster", (s, dir) =>
      Search.assignSplitByGroup(clusterStore(s, dir), "component",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed = 7L)
        .select(col("doc_id"), col("component"), col("split")),
      // the SAME transitive closure, then split = f(component, seed): every
      // cluster member shares the component key, so no cluster straddles a
      // split boundary (thresholds from the identical Scala arithmetic)
      {
      val ts = graft.ops.Search.splitThresholds(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      NearDupClustersCte +
        s""",
           |     comp AS (SELECT id AS doc_id, min(comp) AS component
           |              FROM reach GROUP BY id),
           |     sb AS (SELECT doc_id, component,
           |                   CAST(CAST(('0x' || substring(md5('split|' || CAST(component AS VARCHAR) || '7'), 1, 15)) AS UBIGINT) AS BIGINT) AS b
           |            FROM comp)
           |SELECT doc_id, component,
           |       CASE WHEN b < ${ts(0)} THEN 'train'
           |            WHEN b < ${ts(1)} THEN 'val'
           |            ELSE 'test' END AS split
           |FROM sb ORDER BY doc_id""".stripMargin
    }),

    // cluster-based survivor selection: one representative (min id) per
    // transitive near-dup chain — the Pipeline form a 100 TB clean uses
    // the END-TO-END pipeline composition (Pipeline.cleanCorpus):
    // exact dedup -> minhash near-dedup ON the exact survivors ->
    // annotate -> raw-quality gate — every stage's mirror composed into
    // ONE oracle (restricting the pair set to exact survivors is sound
    // because band buckets are per-document: removing docs only removes
    // pairs)
    // dataset-versioning diff between two corpus snapshots: old lacks
    // %7==3 (-> added), has %7==5 docs new dropped (-> removed), and
    // carries altered text for %7==1 (-> changed); two map-side
    // fingerprint passes + ONE full-outer id join of longs
    Gate("corpus_diff", (s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 1, concat(col("text"), lit(" OLD")))
            .otherwise(col("text")).as("text"))
      val nw = d.filter(col("doc_id") % 7 =!= 5).select("doc_id", "text")
      graft.ops.Pipeline.corpusDiff(old, nw, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      s"""WITH ot AS (SELECT doc_id,
         |                   CASE WHEN doc_id % 7 = 1 THEN text || ' OLD'
         |                        ELSE text END AS t
         |            FROM documents WHERE doc_id % 7 <> 3),
         |o AS (SELECT doc_id, ${DuckMirror.rollingHashUnsignedSql("t")} AS fpo FROM ot),
         |n AS (SELECT doc_id, ${DuckMirror.rollingHashUnsignedSql("text")} AS fpn
         |      FROM documents WHERE doc_id % 7 <> 5)
         |SELECT doc_id,
         |       CASE WHEN fpo IS NULL THEN 'added'
         |            WHEN fpn IS NULL THEN 'removed'
         |            WHEN fpo <> fpn THEN 'changed'
         |            ELSE 'unchanged' END AS status
         |FROM o FULL JOIN n USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    Gate("clean_corpus", (s, dir) =>
      graft.ops.Pipeline.cleanCorpus(docsWithNearDups(s, dir), "doc_id", "text",
          nearDupThreshold = 0.8, minQuality = 0.1)
        .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens")),
      DuckMirror.cleanCorpusSql(threshold = 0.8,
      minQuality = 0.1)),

    // survivor selection from the warmed scale-true cluster store — the
    // production shape: labeling runs once per ingest (its cost is
    // dedup_clusters_minhash's measured point), consumers read its output
    Gate("dedup_survivors", (s, dir) =>
      graft.ops.Pipeline.survivorsFromClusters(
          docsWithNearDups(s, dir), "doc_id", minhashClusterStore(s, dir))
        .select(col("doc_id")),
      s"""WITH x AS (${DuckMirror.minhashClustersSql(threshold = 0.8)})
         |SELECT doc_id FROM x WHERE doc_id = component
         |ORDER BY doc_id""".stripMargin),

    Gate("dedup_simhash", (s, dir) =>
      Dedup.simhashDedup(docsWithNearDups(s, dir), "doc_id", "text", maxDist = 3),
      DuckMirror.simhashSql(maxDist = 3)),

    Gate("token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens")),
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // sliding token-window CHUNKING (RAG / pretraining splitter): one
    // row per 64-token window every 48 tokens, last chunk to the doc
    // end, short docs = one chunk — pure map-side HOFs, row growth is
    // the only cost
    Gate("chunk_windows", (s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
          window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          col("n_tokens")),
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |idx AS (SELECT doc_id, toks, n,
        |               unnest(range(0, CASE WHEN n <= 0 THEN 0
        |                                    WHEN n <= 64 THEN 1
        |                                    ELSE CAST(ceil((n - 64) / 48.0) AS INTEGER) + 1 END)) AS i
        |        FROM c)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |       array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk,
        |       CAST(LEAST(64, n - i * 48) AS INTEGER) AS n_tokens
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin),

    // BM25 relevance: per-term tf from one TextStats pass (each term its
    // own profile), corpus stats as a broadcast one-row aggregate
    Gate("bm25_rank", (s, dir) =>
      TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
          Seq("spark", "join", "merge"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20),
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(toks) AS len,
        |             len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |             len(list_filter(toks, x -> x = 'join'))  AS tf1,
        |             len(list_filter(toks, x -> x = 'merge')) AS tf2
        |      FROM t),
        |s AS (SELECT COUNT(*) AS n, AVG(len) AS avglen,
        |             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |      FROM m)
        |SELECT doc_id,
        |       ROUND(
        |         ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2) / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)) +
        |         ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2) / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)) +
        |         ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2) / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)),
        |         4) AS bm25
        |FROM m, s ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    // line-level dedup (the C4/CCNet rule): duplicate lines survive only
    // at their first (doc, pos) occurrence corpus-wide; docs reassemble
    // from kept lines in order. Catches cross-doc boilerplate that
    // whole-document dedup never sees; fully oracled via the rolling-hash
    // mirror (planted: whole-doc dups + a banner line on doc_id % 4 == 0)
    Gate("line_dedup", (s, dir) =>
      Dedup.dedupLines(lineStructuredDocs(s, dir), "doc_id", "text"),
      DuckMirror.lineDedupSql(BoilerLine)),

    // inverted-index retrieval — the SERVING path of bm25_rank: postings
    // built once at ingest and stored partitionBy(tb), the query's literal
    // term buckets partition-prune the read (BucketingSpec), dfs aggregate
    // from the pruned postings themselves, scores match the full-scan
    // formula bit for bit
    Gate("inverted_search", (s, dir) => {
      val (postings, n, avglen) = Fixtures.textIndexStore(s, dir)
      graft.ops.TextIndex.searchPostings(postings, n, avglen,
        Seq("window", "batch", "scan"), k = 15, nBuckets = 32)
    },
      // same formula as bm25_rank (terms window/batch/scan), restricted to
      // docs matching >= 1 term — the candidate set the pruned index yields
      InvertedSearchOracle),

    // BM25 over the CONFIGURED index (word tokenizer, lowercase,
    // token length in [4, 6], stopwords {table, value} — the backend's
    // TextIndexParams): dl/df/n all shift under the config, the serving
    // path and plan are byte-identical to inverted_search
    Gate("text_index_config", (s, dir) => {
      val (postings, n, avglen) = Fixtures.textIndexCfgStore(s, dir)
      graft.ops.TextIndex.searchPostings(postings, n, avglen,
        graft.ops.TextIndex.normalizeTerms(Seq("Window", "batch", "scan"),
          Fixtures.textCfg), k = 15, nBuckets = 32)
    },
      // inverted_search's formula under the CONFIGURED tokenizer: word
      // split on non-alphanumerics, len in [4,6], stopwords dropped —
      // dl/df/n all re-derive from the filtered token lists
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                              x -> len(x) >= 4 AND len(x) <= 6
        |                                   AND x NOT IN ('table', 'value')) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(toks) AS len,
        |             len(list_filter(toks, x -> x = 'window')) AS tf0,
        |             len(list_filter(toks, x -> x = 'batch')) AS tf1,
        |             len(list_filter(toks, x -> x = 'scan'))  AS tf2
        |      FROM t),
        |s AS (SELECT COUNT(*) AS n, AVG(len) AS avglen,
        |             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |      FROM m)
        |SELECT doc_id,
        |       ROUND(
        |         ln(1.0 + (CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5)) * (CAST(tf0 AS DOUBLE) * 2.2) / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)) +
        |         ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) * (CAST(tf1 AS DOUBLE) * 2.2) / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)) +
        |         ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) * (CAST(tf2 AS DOUBLE) * 2.2) / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(len AS DOUBLE) / avglen)),
        |         4) AS bm25
        |FROM m, s
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin),

    // prefix query served as an EXACT term lookup on the prefix-expanded
    // index (tokenizer=prefix, prefixes of length 3..5 indexed at
    // ingest): tf counts the tokens extending the prefix; the read is
    // partition-pruned to the query term's bucket — no LIKE scan
    Gate("text_prefix_search", (s, dir) => {
      val postings = Fixtures.textPrefixStore(s, dir)
      val term = graft.ops.TextIndex.normalizeTerms(Seq("val"),
        Fixtures.prefixCfg).head
      postings
        .filter(col("tb") === graft.ops.TextIndex.termBucket(lit(term), 32) &&
          col("term") === term)
        .select(col("doc_id"), col("tf"))
        .orderBy(col("tf").desc, col("doc_id").asc)
        .limit(12)
    },
      // the prefix index serves term='val' by exact equality; the oracle
      // re-derives tf as the count of tokens EXTENDING the prefix (len>=3
      // is the index's min prefix depth; LIKE 'val%' implies len>=3)
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                              x -> len(x) >= 3) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(list_filter(toks, x -> x LIKE 'val%')) AS tf FROM t)
        |SELECT doc_id, tf FROM m WHERE tf > 0
        |ORDER BY tf DESC, doc_id LIMIT 12""".stripMargin),

    Gate("top_bigrams", (s, dir) =>
      TextAnalysis.topBigrams(docs(s, dir), "text", k = 20),
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |g AS (SELECT unnest(CASE WHEN len(toks) >= 2
        |                         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        |                         ELSE [] END) AS gram
        |      FROM t)
        |SELECT gram, COUNT(*) AS n
        |FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin),

    // duplicated-span census (which 5-grams repeat across docs, and how
    // widely): per-doc distinct grams map-side, ONE (doc, gram) shuffle,
    // document frequency >= 2, TakeOrdered top-k
    Gate("dup_ngram_top", (s, dir) =>
      TextAnalysis.topDuplicatedNgrams(docs(s, dir), "text", n = 5, k = 20),
      """WITH tk AS (SELECT doc_id,
        |                   list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |            FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS ngram
        |      FROM tk, UNNEST(range(1, len(ts) - 5 + 2)) AS u(i)
        |      WHERE len(ts) >= 5)
        |SELECT ngram, COUNT(*) AS n_docs
        |FROM g GROUP BY ngram HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, ngram ASC LIMIT 20""".stripMargin),

    // boilerplate normalization over a corpus with planted URLs/HTML
    // (doc_id % 3 == 0): strip counts + fingerprint of the normalized
    // bytes, both value-checked
    Gate("normalize_text", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" visit https://example.com/x?id="),
            col("doc_id").cast(StringType),
            lit(" <b>read more</b> <br/>")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.normalizeText(planted, "text")
        .select(col("doc_id"), col("n_urls"), col("n_tags"),
          TextAnalysis.fingerprint(col("normalized")).as("norm_fp"))
    },
      {
      import graft.ops.TextAnalysis.{TagRe, UrlRe}
      s"""WITH c AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' visit https://example.com/x?id=' || CAST(doc_id AS VARCHAR)
         |                   || ' <b>read more</b> <br/>'
         |              ELSE text END AS text
         |  FROM documents),
         |t1 AS (SELECT doc_id,
         |              CAST(len(regexp_extract_all(text, '$UrlRe')) AS INTEGER) AS n_urls,
         |              regexp_replace(text, '$UrlRe', ' ', 'g') AS s1
         |       FROM c),
         |n AS (SELECT doc_id, n_urls,
         |             CAST(len(regexp_extract_all(s1, '$TagRe')) AS INTEGER) AS n_tags,
         |             trim(regexp_replace(regexp_replace(s1, '$TagRe', ' ', 'g'),
         |                                 '[ \\t\\n]+', ' ', 'g')) AS normalized
         |      FROM t1),
         |h AS (SELECT doc_id, n_urls, n_tags,
         |             ${DuckMirror.rollingHashUnsignedSql("normalized")} AS hu
         |      FROM n)
         |SELECT doc_id, n_urls, n_tags, ${DuckMirror.signed64("hu")} AS norm_fp
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    // Gopher-style composite quality filter: token bounds + mean word
    // length + repetition bound -> auditable keep verdict, map-side
    Gate("quality_filter", (s, dir) =>
      TextAnalysis.gopherFilter(docs(s, dir), "doc_id", "text"),
      DuckMirror.gopherSql(
      minTokens = 50L, maxTokens = 5000L,
      minMeanLen = 3.0, maxMeanLen = 10.0, maxRep = 0.2)),

    // Gopher-style repetition signal: duplicate word-3-gram fraction per
    // doc — ONE ShingleKernel pass, zero shuffle
    Gate("doc_repetition", (s, dir) =>
      TextAnalysis.repetitionRatio(docs(s, dir), "doc_id", "text"),
      DuckMirror.repetitionSql),

    // Unicode NFC normalization: decomposed sequences (e + combining
    // acute) fold to precomposed forms so hashing/dedup treats visually
    // identical text identically — the first transform of a cleaning
    // pipeline; kernel fast-path skips already-normalized text (planted:
    // combining-mark suffixes on doc_id % 9 == 0)
    Gate("nfc_normalize", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 9 === 0,
            concat(col("text"), lit(" café ångström")))
            .otherwise(col("text")).as("text"))
        .withColumn("nfc", graft.functions.nfc_normalize(col("text")))
        .select(col("doc_id"), col("nfc"),
          (col("nfc") =!= col("text")).as("changed")),
      // the planted suffix is DECOMPOSED (combining marks, built from
      // chr() so the SQL text stays ASCII): cafe+U+0301 a+U+030A ...
      """WITH c AS (SELECT doc_id,
        |             CASE WHEN doc_id % 9 = 0
        |                  THEN text || ' cafe' || chr(769) || ' a' || chr(778) ||
        |                       'ngstro' || chr(776) || 'm'
        |                  ELSE text END AS text
        |           FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS nfc,
        |       nfc_normalize(text) <> text AS changed
        |FROM c ORDER BY doc_id""".stripMargin),

    // accent stripping: NFD + drop combining marks, so café/café/cafe
    // collide — the aggressive key-normalization for match/dedup keys;
    // planted suffix mixes PRECOMPOSED (å, ö, ü) and DECOMPOSED (e+mark)
    Gate("strip_accents", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" cafe\u0301 ångström mühle")))
            .otherwise(col("text")).as("text"))
        .withColumn("stripped", graft.functions.strip_accents(col("text")))
        .select(col("doc_id"), col("stripped"),
          (col("stripped") =!= col("text")).as("changed")),
      // chr(229/246/252) = precomposed å/ö/ü, chr(769) = combining acute —
      // the same mixed planted suffix as the engine side
      """WITH c AS (SELECT doc_id,
        |             CASE WHEN doc_id % 11 = 0
        |                  THEN text || ' cafe' || chr(769) || ' ' || chr(229) ||
        |                       'ngstr' || chr(246) || 'm m' || chr(252) || 'hle'
        |                  ELSE text END AS text
        |           FROM documents)
        |SELECT doc_id, strip_accents(text) AS stripped,
        |       strip_accents(text) <> text AS changed
        |FROM c ORDER BY doc_id""".stripMargin),

    // embedding-column hygiene: per-label counts of wrong-dimension, NaN,
    // and all-zero vectors + exact-quantized mean norm — the pre-index
    // check of an embedding batch (planted: truncated / zeroed / NaN'd
    // cohorts); one projection + one partial-agg shuffle
    Gate("embedding_hygiene", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), dvec(col("embedding")).as("v"))
      val planted = e.withColumn("v",
        when(col("vec_id") % 101 === 0, slice(col("v"), 1, 32))
          .when(col("vec_id") % 103 === 0, transform(col("v"), _ => lit(0.0)))
          .when(col("vec_id") % 107 === 0,
            concat(array(lit(Double.NaN)), slice(col("v"), 2, 63)))
          .otherwise(col("v")))
      graft.ops.Profile.embeddingHygiene(planted, "label", "v",
        expectedDim = 64)
    },
      """WITH c AS (SELECT vec_id, label,
        |             CASE WHEN vec_id % 101 = 0 THEN (CAST(embedding AS DOUBLE[]))[1:32]
        |                  WHEN vec_id % 103 = 0 THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0.0)
        |                  WHEN vec_id % 107 = 0 THEN list_concat(['nan'::DOUBLE], (CAST(embedding AS DOUBLE[]))[2:64])
        |                  ELSE CAST(embedding AS DOUBLE[]) END AS v
        |           FROM embeddings),
        |m AS (SELECT label, len(v) AS dim,
        |             list_reduce(list_concat([0.0], list_transform(v, x -> x * x)),
        |                         (a, b) -> a + b) AS n2
        |      FROM c),
        |g AS (SELECT label, COUNT(*) AS n,
        |             CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
        |             CAST(SUM(CASE WHEN isnan(n2) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |             CAST(SUM(CASE WHEN NOT isnan(n2) AND n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |             SUM(CASE WHEN isnan(n2) THEN 0
        |                      ELSE CAST(floor(sqrt(n2) * 1000000 + 0.5) AS BIGINT) END) AS nq
        |      FROM m GROUP BY label)
        |SELECT label, n, n_bad_dim, n_nan, n_zero,
        |       ROUND(CAST(nq AS DOUBLE) / 1000000 / (n - n_nan), 6) AS avg_norm
        |FROM g ORDER BY label""".stripMargin),

    // per-source quality percentile rank: the fair cross-source
    // thresholding form (an absolute cut over-prunes weak sources); a
    // keyed window over (source), rank on the ROUNDED score + id tiebreak
    Gate("quality_pct_by_source", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .withColumn("pct", round(percent_rank().over(
          Window.partitionBy(col("source"))
            .orderBy(col("q"), col("doc_id"))), 6))
    },
      """WITH t AS (SELECT doc_id, source, text,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, source,
        |             CAST(len(toks) AS DOUBLE) AS n,
        |             CASE WHEN len(toks) > 0 THEN
        |               CAST(len(list_filter(toks, x -> list_contains(
        |                 ['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
        |                 / CAST(len(toks) AS DOUBLE)
        |             ELSE 0.0 END AS ratio,
        |             CASE WHEN len(text) > 0 THEN
        |               CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |                 / CAST(len(text) AS DOUBLE)
        |             ELSE 0.0 END AS punct
        |      FROM t),
        |q AS (SELECT doc_id, source,
        |             ROUND(least(n / 50.0, 1.0) * (0.5 + 0.5 * least(ratio * 5.0, 1.0)) *
        |                   greatest(1.0 - punct * 3.0, 0.0), 6) AS q
        |      FROM m)
        |SELECT doc_id, source, q,
        |       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY q, doc_id), 6) AS pct
        |FROM q ORDER BY doc_id""".stripMargin),

    // flagged-wordlist filter: blocklist-vocabulary density vs threshold
    // (the list is policy — a benign demo list here); rides the ONE
    // TextStats kernel pass as a profile, map-side, streams unbounded
    Gate("flagged_terms", (s, dir) =>
      TextAnalysis.flaggedTermFilter(docs(s, dir), "doc_id", "text",
        flagged = Seq("slow", "broken", "spill"), maxRatio = 0.03),
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |             CAST(len(list_filter(toks, x ->
        |               list_contains(['slow', 'broken', 'spill'], x))) AS BIGINT) AS flagged_occ,
        |             CAST(len(list_filter(['slow', 'broken', 'spill'], w ->
        |               list_contains(toks, w))) AS BIGINT) AS flagged_distinct
        |      FROM t),
        |r AS (SELECT doc_id, n_tokens, flagged_occ, flagged_distinct,
        |             CASE WHEN n_tokens > 0
        |                  THEN ROUND(CAST(flagged_occ AS DOUBLE) / n_tokens, 6)
        |                  ELSE 0.0 END AS flagged_ratio
        |      FROM m)
        |SELECT doc_id, n_tokens, flagged_occ, flagged_distinct, flagged_ratio,
        |       flagged_ratio <= 0.03 AS keep
        |FROM r ORDER BY doc_id""".stripMargin),

    // Gopher's LINE-level rules (duplicate/bullet/ellipsis line fractions
    // vs published thresholds) over the decorated line corpus — map-side
    Gate("line_rules", (s, dir) =>
      TextAnalysis.gopherLineRules(decoratedLineDocs(s, dir), "doc_id", "text"),
      DuckMirror.lineRulesSql(BoilerLine)),

    // within-doc repetition removal: a doc's own repeated lines dropped,
    // first occurrence kept in order — map-side fold, no shuffle (the
    // cross-corpus first-occurrence rule is line_dedup)
    Gate("line_dedup_doc", (s, dir) =>
      TextAnalysis.dedupLinesWithinDoc(decoratedLineDocs(s, dir), "doc_id", "text"),
      DuckMirror.lineDedupDocSql(BoilerLine)),

    // benchmark decontamination: docs sharing any word 3-gram with the
    // (deterministic doc_id % 97 == 0) benchmark subset — explode to
    // 64-bit shingle hashes, broadcast semi-join, distinct ids
    Gate("decontam", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.contaminatedDocs(
          d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 97 === 0), "text")
    },
      DuckMirror.decontamSql(mod = 97)),

    // ONLINE near-dup check at ingest: incoming docs (the planted
    // variants) probe the banded MinHash index of the already-ingested
    // corpus — map-side signature on the probe side, (band, bandkey)
    // equi-join, exact-Jaccard verify over stored token sets; the same
    // plan runs stream-static (StreamingSpec proves pair parity)
    Gate("neardup_ingest", (s, dir) => {
      val d = docs(s, dir)
      val incoming = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      Dedup.nearDupsAgainstIndex(incoming, "doc_id", "text",
        Dedup.minhashBandIndex(d, "doc_id", "text"), threshold = 0.8)
    },
      DuckMirror.minhashProbePairsSql(threshold = 0.8)),

    // ingest-time decontamination verdicts: benchmark shingles as a
    // bounded array literal, one map-side arrays_overlap per doc — no
    // join/agg/state, so the same expression runs on an unbounded ingest
    // stream (StreamingSpec proves stream == batch verdict parity)
    Gate("decontam_verdicts", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.decontamVerdicts(d.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", d.filter(col("doc_id") % 97 === 0), "text")
    },
      DuckMirror.decontamVerdictSql(mod = 97)),

    // SPAN-level decontamination: instead of dropping whole contaminated
    // docs, localize the benchmark-overlapping token ranges (3-gram hit
    // positions merged gaps-and-islands) — the surgical protocol; bench
    // shingle set broadcast, zero corpus shuffle before the island window
    Gate("decontam_spans", (s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminatedSpans(d.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", d.filter(col("doc_id") % 97 === 0), "text", w = 3)
    },
      s"""WITH ${DuckMirror.decontamSpanCtes(mod = 97)}
         |SELECT doc_id, span_start, span_end, span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // the actionable form: corpus docs rebuilt with contaminated spans
    // stripped; clean docs pass through whole — output value-checks the
    // reconstruction via kept-token count + rolling-hash fingerprint
    Gate("decontam_span_strip", (s, dir) => {
      val d = docs(s, dir)
      Dedup.stripContaminatedSpans(d.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", d.filter(col("doc_id") % 97 === 0), "text", w = 3)
    },
      DuckMirror.decontamSpanStripSql(mod = 97)),

    // the same decontamination BLOOM-prefiltered (the shape for benchmark
    // sets too big to broadcast as a hash set): a 64 Kbit bloom literal
    // thins the corpus shingles map-side, the exact semi-join removes the
    // false positives — result identical, so the oracle IS decontam's
    Gate("decontam_bloom", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.contaminatedDocsBloom(
          d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 97 === 0), "text")
    },
      // bloom prefilter is result-invariant: identical oracle
      DuckMirror.decontamSql(mod = 97)),

    Gate("subword_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords")),
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)) +
        |            len(list_filter(string_split_regex(text, '[a-z0-9\s]+'), t -> len(t) > 0)) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE vocabulary TRAINING (Sennrich et al. 2016): 8 merges trained
    // distributed over the word-frequency table — per step one weighted
    // pair-count groupBy + a one-row argmax collect (model state) + a
    // map-side greedy merge. The oracle UNROLLS the full loop (pair
    // counts, deterministic argmax, run-window greedy merge), so the
    // trained MODEL is value-checked step by step
    Gate("bpe_merges", (s, dir) => {
      import s.implicits._
      Fixtures.bpeModel(s, dir)._1
        .map(m => (m.step, m.left, m.right, m.count))
        .toDF("step", "merge_left", "merge_right", "pair_count")
    },
      DuckMirror.bpeSql(numMerges = 8, trace = true)),

    // corpus ENCODE under the trained model: per-doc token count via the
    // vocab join (each distinct word segmented ONCE at train time, then a
    // broadcast model join — Zipf makes the per-occurrence fold redundant
    // work) — the sequence-length statistic packing/budgeting consumes
    Gate("bpe_encode", (s, dir) => {
      val syms = bpeModel(s, dir)._2
      graft.ops.Bpe.encodeTokenCounts(
        docs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", syms)
    },
      DuckMirror.bpeEncodeSql(numMerges = 8)),

    // the trained segmentation itself: top-30 words by frequency with
    // their final subword split — the vocab a tokenizer would export
    Gate("bpe_vocab", (s, dir) => {
      val (_, syms) = Fixtures.bpeModel(s, dir)
      syms.select(col("word"), col("cnt"),
          array_join(col("s"), " ").as("segmented"))
        .orderBy(col("cnt").desc, col("word").asc).limit(30)
    },
      DuckMirror.bpeSql(numMerges = 8, trace = false)),

    // per-language corpus statistics: exact interpolated percentiles of the
    // token-count distribution (one partial-agg shuffle; the percentile
    // state is a per-group sketch of ints, not the rows)
    Gate("corpus_stats", (s, dir) =>
      docs(s, dir).withColumn("__st", TextAnalysis.stats(col("text")))
        .select(col("lang"),
          TextAnalysis.tokenCountOf(col("__st")).as("n_tokens"),
          col("__st").getField("n_chars").as("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tokens, 0.5)"), 6).as("median_tokens"),
          round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars")),
      """WITH t AS (SELECT lang,
        |                  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_tokens,
        |                  len(text) AS n_chars
        |           FROM documents)
        |SELECT lang,
        |       COUNT(*) AS n_docs,
        |       ROUND(quantile_cont(n_tokens, 0.5), 6) AS median_tokens,
        |       ROUND(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
        |       ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    // curriculum stratification: quartile boundaries of the token-count
    // distribution from ONE exact-percentile agg (model state, inlined as
    // literals), bin assignment pure map-side CASE — no global sort, no
    // window; at scale the boundary step swaps to percentile_approx
    Gate("quality_bins", (s, dir) =>
      TextAnalysis.percentileBins(
        docs(s, dir).withColumn("__st", TextAnalysis.stats(col("text")))
          .select(col("doc_id"),
            TextAnalysis.tokenCountOf(col("__st")).as("n_tokens")),
        "n_tokens", Seq(0.25, 0.5, 0.75)),
      // quantile_cont mirrors Spark's exact interpolated percentile (the
      // corpus_stats-proven pairing), boundaries rounded before comparison
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_tokens
        |           FROM documents),
        |b AS (SELECT ROUND(quantile_cont(n_tokens, 0.25), 6) AS b1,
        |             ROUND(quantile_cont(n_tokens, 0.5), 6) AS b2,
        |             ROUND(quantile_cont(n_tokens, 0.75), 6) AS b3
        |      FROM t)
        |SELECT doc_id, n_tokens,
        |       CASE WHEN n_tokens <= b1 THEN 0
        |            WHEN n_tokens <= b2 THEN 1
        |            WHEN n_tokens <= b3 THEN 2
        |            ELSE 3 END AS bin
        |FROM t, b ORDER BY doc_id""".stripMargin),

    // explicit salting for a known-hot join key: fact rows spread over 8
    // deterministic salt buckets, dim replicated per salt — result equals
    // the unsalted join (the oracle IS the unsalted join)
    Gate("skew_join", (s, dir) => {
      val weights = s.createDataFrame(Seq(
        ("click", 1L), ("view", 2L), ("purchase", 10L),
        ("signup", 5L), ("error", 0L)))
        .toDF("event_type", "weight")
      // shuffle_hash hint: a 5-row dim would broadcast and the salt would
      // never exercise the shuffle path this operator exists for
      graft.ops.Skew.saltedJoin(events(s, dir), weights.hint("shuffle_hash"),
          "event_type", saltFactor = 8)
        .groupBy(col("event_type"), col("weight"))
        .agg(
          count(lit(1)).as("n"),
          // integer-domain sum: order-independent, exact
          sum(floor(col("value")).cast(LongType) * col("weight")).as("weighted"))
    },
      """WITH w(event_type, weight) AS (VALUES
        |       ('click', 1), ('view', 2), ('purchase', 10),
        |       ('signup', 5), ('error', 0))
        |SELECT e.event_type, CAST(w.weight AS BIGINT) AS weight,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(floor(e.value) AS BIGINT) * w.weight) AS BIGINT) AS weighted
        |FROM events e JOIN w ON e.event_type = w.event_type
        |GROUP BY e.event_type, w.weight ORDER BY e.event_type""".stripMargin),

    Gate("quality_score", (s, dir) =>
      // one TextStats kernel pass; both metrics derive from the struct
      docs(s, dir).withColumn("__st", TextAnalysis.stats(col("text")))
        .select(col("doc_id"),
          round(TextAnalysis.stopwordRatioOf(col("__st")), 6).as("stopword_ratio"),
          TextAnalysis.qualityScoreOf(col("__st")).as("quality")),
      """WITH t AS (SELECT doc_id, text,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
        |                  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS DOUBLE) AS n
        |           FROM documents),
        |     m AS (SELECT doc_id,
        |                  CASE WHEN n > 0 THEN
        |                    CAST(len(list_filter(toks, x -> list_contains(
        |                      ['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE) / n
        |                  ELSE 0.0 END AS ratio,
        |                  n,
        |                  CASE WHEN len(text) > 0 THEN
        |                    CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |                      / CAST(len(text) AS DOUBLE)
        |                  ELSE 0.0 END AS punct
        |           FROM t)
        |SELECT doc_id,
        |       ROUND(ratio, 6) AS stopword_ratio,
        |       ROUND(least(n / 50.0, 1.0) * (0.5 + 0.5 * least(ratio * 5.0, 1.0)) *
        |             greatest(1.0 - punct * 3.0, 0.0), 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin),

    Gate("lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred")),
      s"""WITH $langIdPredCtes
        |SELECT doc_id, lang_pred FROM pred ORDER BY doc_id""".stripMargin),

    // per-language Pareto frontier on (token cost, stopword-quality):
    // the efficient set a budget-constrained selector picks from; one
    // numeric-RANGE window instead of the quadratic dominance self-join
    Gate("pareto_front", (s, dir) =>
      graft.ops.Pipeline.paretoFront(
        docs(s, dir).withColumn("__st", TextAnalysis.stats(col("text")))
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).cast(LongType).as("cost"),
            round(TextAnalysis.stopwordRatioOf(col("__st")), 6).as("value")),
        Seq("lang"), "cost", "value"),
      // the quality_score ratio CTE + token cost, then the same
      // strictly-lower-cost RANGE window dominance test
      """WITH t AS (SELECT doc_id, lang,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, lang,
        |             CAST(len(toks) AS BIGINT) AS cost,
        |             ROUND(CASE WHEN len(toks) > 0 THEN
        |                     CAST(len(list_filter(toks, x -> list_contains(
        |                       ['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
        |                       / CAST(len(toks) AS DOUBLE)
        |                   ELSE 0.0 END, 6) AS value
        |      FROM t),
        |s AS (SELECT doc_id, lang, cost, value,
        |             MAX(value) OVER (PARTITION BY lang ORDER BY cost
        |               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mv
        |      FROM m)
        |SELECT doc_id, lang, cost, value FROM s
        |WHERE mv IS NULL OR mv <= value ORDER BY doc_id""".stripMargin),

    // classifier eval: predicted-vs-labeled confusion matrix in ONE
    // corpus pass (prediction inline, no self-join), one partial-agg
    // shuffle over the tiny (lang, pred) grid
    Gate("lang_confusion", (s, dir) =>
      docs(s, dir).select(col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n")),
      // classifier EVAL harness: the same prediction chain, cross-tabbed
      // against the labeled lang — the confusion matrix a pipeline
      // monitors before trusting the cheap heuristic at scale
      s"""WITH $langIdPredCtes
        |SELECT d.lang, p.lang_pred, COUNT(*) AS n
        |FROM documents d JOIN pred p USING (doc_id)
        |GROUP BY d.lang, p.lang_pred
        |ORDER BY d.lang, p.lang_pred""".stripMargin),

    Gate("fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      // mirrors RollingHash64 exactly: base-31 polynomial over UTF-8 bytes
      // with 64-bit wraparound, done in HUGEINT mod 2^64 (test corpus is
      // ASCII, so ascii(char) == utf-8 byte)
      s"""SELECT doc_id, ${DuckMirror.signed64("h")} AS fingerprint
         |FROM (
         |  SELECT doc_id, ${DuckMirror.rollingHashUnsignedSql("text")} AS h
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),

    // PII scrubbing over a corpus with deterministically planted
    // email/IP/phone strings (doc_id % 5 == 0): match counts per category
    // plus a fingerprint of the redacted text — the oracle re-runs the
    // same RE2-safe patterns and the rolling-hash mirror, so the exact
    // redacted BYTES are value-checked, not just the counts
    Gate("pii_scrub", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast(StringType),
            lit("@example.com from 10.0.0."),
            (col("doc_id") % 256).cast(StringType),
            lit(" call 5551234567")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.scrubPii(planted, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          TextAnalysis.fingerprint(col("scrubbed")).as("scrub_fp"))
    },
      {
      import graft.ops.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH c AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0
         |              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |                   || '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
         |                   || ' call 5551234567'
         |              ELSE text END AS text
         |  FROM documents),
         |-- sequential counting like the Spark side: each category is
         |-- counted on the text with earlier categories already
         |-- redacted, so counts = tokens actually emitted
         |t1 AS (SELECT doc_id, text,
         |              regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS s1
         |       FROM c),
         |t2 AS (SELECT doc_id, text, s1,
         |              regexp_replace(s1, '$Ipv4Re', '<IP>', 'g') AS s2
         |       FROM t1),
         |s AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_emails,
         |         CAST(len(regexp_extract_all(s1, '$Ipv4Re')) AS INTEGER) AS n_ips,
         |         CAST(len(regexp_extract_all(s2, '$PhoneRe')) AS INTEGER) AS n_phones,
         |         regexp_replace(s2, '$PhoneRe', '<PHONE>', 'g') AS scrubbed
         |  FROM t2),
         |h AS (SELECT doc_id, n_emails, n_ips, n_phones,
         |             ${DuckMirror.rollingHashUnsignedSql("scrubbed")} AS hu
         |      FROM s)
         |SELECT doc_id, n_emails, n_ips, n_phones,
         |       ${DuckMirror.signed64("hu")} AS scrub_fp
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    Gate("ann_ivf", (s, dir) => {
      val q = Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(dvec(col("embedding")).as("q")).head().getSeq[Double](0)
      // index build is an offline batch job in production; memoize per
      // sfDir so repeated queries measure the PROBE path
      val idx = fittedIvf(s, dir)
      idx.search(vec(q), k = 10, nprobe = 2).select("id", "score")
    },
      // IVF serving path end-to-end: seed-point centroids from the md5
      // permutation, sequential-sum euclid assignment (first-min index),
      // nprobe=2 cluster selection, cosine rerank — every stage value-equal
      // full pipeline mirrors (DuckMirror.ivfSql): ann_ivf value-checks the
      // Lloyd's-REFINED centroids (5 iterations of quantized-DECIMAL updates,
      // order-independent in both engines), not just the serving path
      DuckMirror.ivfSql(
      queryVecId = 0, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 5, seed = 42L)),

    // V_RECOMMEND best_score strategy: max positive sim minus max negative
    // sim (the reference backend's alternative to the average_vector
    // strategy used by `recommend`)
    Gate("recommend_best", (s, dir) =>
      Search.recommendBestScore(hom(s, dir), "vector",
        posIds = Seq("1", "2"), negIds = Seq("3"), k = 10),
      """WITH p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2),
        |     n3 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 3)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(greatest(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p1.v),
        |                      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p2.v))
        |             - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), n3.v), 6) AS score
        |FROM embeddings e, p1, p2, n3
        |WHERE e.vec_id NOT IN (1, 2, 3)
        |ORDER BY score DESC, id LIMIT 10""".stripMargin),

    // the backend's third recommend strategy: every example pulls —
    // sum of positive sims minus sum of negative sims, map-side literals
    Gate("recommend_sum", (s, dir) =>
      Search.recommendSumScores(hom(s, dir), "vector",
        posIds = Seq("1", "2"), negIds = Seq("3"), k = 10),
      """WITH p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2),
        |     n3 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 3)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p1.v)
        |              + list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p2.v))
        |             - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), n3.v), 6) AS score
        |FROM embeddings e, p1, p2, n3
        |WHERE e.vec_id NOT IN (1, 2, 3)
        |ORDER BY score DESC, id LIMIT 10""".stripMargin),

    // the same IVF probe machinery with deterministic seed-point centroids
    // (maxIter=0): every stage — init permutation, cluster assignment,
    // probe selection, rerank — is reproduced by the DuckDB oracle, so the
    // serving path is value-checked end-to-end (Lloyd's-refined ann_ivf
    // stays rows-only: float centroid averaging is order-dependent)
    Gate("ann_ivf_probe", (s, dir) => {
      val q = queryVector(s, dir, 5)
      val idx = probeIvf(s, dir)
      idx.search(vec(q), k = 10, nprobe = 2).select("id", "score")
    },
      DuckMirror.ivfSql(
      queryVecId = 5, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L)),

    // IVF serving from the MATERIALIZED cluster-partitioned store: probe
    // selection is a bounded centroid-table scan, the corpus read is
    // statically partition-pruned to the probed clusters (the layout every
    // repeated-query workload should serve from at 100 TB). Same
    // deterministic maxIter=0 pipeline as ann_ivf_probe, so the oracle
    // value-checks the pruned path end-to-end.
    Gate("ann_ivf_bucketed", (s, dir) => {
      val q = queryVector(s, dir, 7)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      Ann.searchIvfStored(stored, cents, "id", "vector", vec(q),
        k = 10, nprobe = 2).select("id", "score")
    },
      // the bucketed store serves the same maxIter=0 pipeline — the oracle
      // is the identical mirror with a different query vector; the pruned
      // read must not change a single value
      DuckMirror.ivfSql(
      queryVecId = 7, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L)),

    // cardinality-planned filtered search (the backend's query planner,
    // qdrant full_scan_threshold): ONE label (~10% < the 20% dial) goes
    // PRE-filter — value-pruned postings resolve the id set, broadcast
    // into the exact rerank; result is the exact filtered top-k
    Gate("ann_filtered_pre", (s, dir) => {
      val q = queryVector(s, dir, 3)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredPlanned(stored, cents,
        Fixtures.payloadIndex(s, dir), "id", "vector", Seq(7L),
        json_get_int(col("payload"), "label") === 7L,
        vec(q), k = 10, nprobe = 8)
    },
      // planned filtered search: both dispatch arms are exact top-k over the
      // filtered set (pre-filter by construction; post-filter because
      // nprobe = nlist), so one SQL shape mirrors each
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label = 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // MULTI-INDEX intersection: a must of TWO servable conditions on TWO
    // indexed keys (label, id mod 7). The planner estimates both
    // cardinalities, the cheaper index DRIVES (scans its value-pruned
    // partitions), the other resolves to a broadcast id set that
    // semi-joins it — both posting reads pruned, corpus untouched
    // (covering driver). Exact over the intersection, so the oracle is
    // the plain two-clause WHERE
    Gate("ann_filtered_multi", (s, dir) => {
      val q = queryVector(s, dir, 5)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredMulti(stored, cents,
        Fixtures.payloadIndex(s, dir), Seq(7L),
        json_get_int(col("payload"), "label") === 7L,
        Fixtures.payloadIndexMod7(s, dir), Seq(2L),
        pmod(col("id").cast(LongType), lit(7L)) === 2L,
        "id", "vector", vec(q), k = 10, nprobe = 8)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label = 7 AND e.vec_id % 7 = 2
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the KEYWORD index (string-valued — the backend's most common
    // payload index type): same planner, same covering pre-filter arm,
    // over value partitions keyed by the derived string 'L'||label. The
    // oracle rebuilds the same derived keyword in SQL
    Gate("ann_filtered_keyword", (s, dir) => {
      val q = queryVector(s, dir, 11)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredKeyword(stored, cents,
        Fixtures.keywordIndex(s, dir), "id", "vector", Seq("L3"),
        concat(lit("L"), graft.functions.json_get_str(col("payload"), "label")) === "L3",
        vec(q), k = 10, nprobe = 8)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 11)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE 'L' || CAST(e.label AS VARCHAR) = 'L3'
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the SAME planner, loose filter (5 labels ~50% > dial) goes
    // POST-filter: statically pruned IVF scan, predicate inside the probed
    // clusters; nprobe = nlist makes the ANN path exact, so the oracle
    // value-checks the post-filter plan end-to-end too
    Gate("ann_filtered_post", (s, dir) => {
      val q = queryVector(s, dir, 9)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredPlanned(stored, cents,
        Fixtures.payloadIndex(s, dir), "id", "vector",
        Seq(0L, 1L, 2L, 3L, 4L),
        json_get_int(col("payload"), "label").isin(0L, 1L, 2L, 3L, 4L),
        vec(q), k = 10, nprobe = 8)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 9)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label IN (0, 1, 2, 3, 4)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the payload index's own contents: per-value counts read back from
    // the value-partitioned postings — the stats the planner estimates
    // from, value-checked against the corpus
    Gate("payload_index_stats", (s, dir) => {
      val pidx = Fixtures.payloadIndex(s, dir)
      pidx.postings.groupBy(col("value")).agg(count(lit(1)).as("n"))
    },
      """SELECT CAST(label AS BIGINT) AS value, COUNT(*) AS n
        |FROM embeddings GROUP BY label ORDER BY value""".stripMargin),

    // the maintenance cycle closed: base write + appended delta batch +
    // per-partition COMPACTION (file count back to 1, asserted in the
    // cached helper), then the covering pre-filter search served straight
    // from the compacted partitions — same oracle as ann_filtered_pre,
    // because compaction must change the files and NOTHING else
    Gate("payload_index_compact", (s, dir) => {
      val q = queryVector(s, dir, 3)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredPlanned(stored, cents,
        Fixtures.compactedPayloadIndex(s, dir), "id", "vector", Seq(7L),
        json_get_int(col("payload"), "label") === 7L,
        vec(q), k = 10, nprobe = 8)
    },
      // compaction is file-layout-only: the served result is identical to
      // the uncompacted covering pre-filter, so the oracle is the same
      // exact filtered top-k
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label = 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the integer index's RANGE condition through the same planner:
    // label BETWEEN 8 AND 9 (~20% < a 0.25 dial) -> pre-filter, the range
    // predicate prunes the postings partitions exactly like the IN
    Gate("ann_filtered_range", (s, dir) => {
      val q = queryVector(s, dir, 5)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Planner.searchFilteredRange(stored, cents,
        Fixtures.payloadIndex(s, dir), "id", "vector", lo = 8L, hi = 9L,
        json_get_int(col("payload"), "label").between(8L, 9L),
        vec(q), k = 10, nprobe = 8, fullScanThreshold = 0.25)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label BETWEEN 8 AND 9
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // BATCHED serving over the same pruned store: 3 query vectors, ONE
    // statically pruned scan of the union of their probed clusters, each
    // row scored only against the queries that probed its cluster, ranked
    // per query — must return per query exactly what the single-query
    // pruned path returns (per-query mirror union)
    Gate("ann_ivf_batch", (s, dir) => {
      val qids = Seq(5, 7, 11)
      val qvecs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), dvec(col("embedding"))).collect()
        .map(r => r.getAs[Number](0).intValue() -> r.getSeq[Double](1)).toMap
      val (cents, stored, _) = ivfStored(s, dir)
      Ann.searchIvfStoredBatch(stored, cents, "id", "vector",
        qids.map(q => q -> qvecs(q)), k = 10, nprobe = 2)
    },
      DuckMirror.ivfBatchSql(
      queryVecIds = Seq(5, 7, 11), k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L)),

    // ANN recall@10 eval: the IVF probe path (as served) scored against
    // exact brute force per query, on a deterministic query sample —
    // "is nprobe=2 enough?" answered with a measured number
    // ground truth is WARMED offline (recallTruthStore — the brute-force
    // |queries| x |corpus| pass runs once beside the IVF/LM artifacts),
    // so the recurring gate prices the probe path + join, not the truth
    Gate("ann_recall_eval", (s, dir) => {
      val queries = Fixtures.recallQueries(s, dir)
      val (cents, stored, _) = ivfStored(s, dir)
      Ann.recallAtKWithTruth(Fixtures.recallTruthStore(s, dir),
        stored, cents, "id", "vector", queries, k = 10, nprobe = 2)
    },
      DuckMirror.recallEvalSql(
      queryMod = 50, queryRem = 5, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L)),

    // the full production serving stack composed: partition-pruned read of
    // the int8 cluster store (nprobe/nlist of the files, ~4x fewer bytes
    // per file), approximate-dot candidates, exact-dot rerank of the 100
    // winners — with that margin the result is exactly the top-10 of the
    // probed clusters, which the deterministic maxIter=0 mirror reproduces
    Gate("ann_ivf_quantized", (s, dir) => {
      val q = queryVector(s, dir, 9)
      val (cents, stored, codes) = Fixtures.ivfStored(s, dir)
      Ann.searchIvfStoredQuantized(codes, cents, stored,
        "id", "vector", "v8_codes", "v8_scale", q,
        k = 10, nprobe = 2, candidateK = 100)
    },
      // IVF + int8 composition: the int8 candidate stage with margin 100
      // must contain the exact-dot top-10 of the probed clusters, so the
      // oracle is the same deterministic probe mirror scored by exact dot
      DuckMirror.ivfSql(
      queryVecId = 9, k = 10, dim = 64, nlist = 8, nprobe = 2,
      maxIter = 0, seed = 42L, metric = "dot")),

    // product quantization serving: the candidate stage scans ONLY the
    // stored (id, pcode) codes table — 4 bytes of quantized payload per
    // row vs 256 for the vector column — and scores each row as 4 array
    // lookups into the broadcast ADC table (pure codegen, no per-row
    // vector math); the exact-dot rerank of the candidateK survivors then
    // reads just those ids from full precision. Fully oracled: the
    // per-subspace Lloyd's codebooks are the same DECIMAL-quantized
    // deterministic fit the IVF mirror re-derives
    Gate("ann_pq", (s, dir) => {
      val q = queryVector(s, dir, 11)
      val (model, codes) = Fixtures.pqStore(s, dir)
      graft.ops.Pq.searchPqStored(codes, homD(s, dir).select("id", "vector"),
        "id", "vector", model, q, k = 10, candidateK = 100)
    },
      // product quantization: per-subspace Lloyd's codebooks, argmin codes,
      // ADC candidate cut, exact-dot rerank — the whole pipeline re-derived
      DuckMirror.pqSql(
      queryVecId = 11, k = 10, candidateK = 100, dim = 64, m = 4,
      ksub = 16, maxIter = 1, seed = 42L)),

    // IVF-PQ — the standard production ANN stack composed: the candidate
    // scan partition-prunes to the nprobe coarse clusters AND reads
    // m-byte PQ codes (the two cost levers multiply); ADC ranks inside
    // the probed clusters, exact-dot rerank reads the equally-pruned
    // full-precision store for just the candidate ids
    Gate("ann_ivfpq", (s, dir) => {
      val q = queryVector(s, dir, 13)
      val (model, _) = Fixtures.pqStore(s, dir)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Pq.searchIvfPqStored(Fixtures.ivfPqStore(s, dir), cents,
        stored, "id", "vector", model, q, k = 10, nprobe = 2, candidateK = 50)
    },
      // IVF-PQ: the pq mirror composed with the maxIter=0 coarse quantizer
      // — ADC candidates restricted to the nprobe probed clusters
      DuckMirror.ivfPqSql(
      queryVecId = 13, k = 10, candidateK = 50, dim = 64, m = 4,
      ksub = 16, pqMaxIter = 1, nlist = 8, nprobe = 2, seed = 42L)),

    // residual IVF-PQ — the textbook form: codebooks quantize
    // (vector - coarse centroid) residuals, and the approximate score is
    // dot(q, centroid[cluster]) (a per-probed-cluster literal) plus the
    // standard ADC sum over RAW query slices (the dot decomposes
    // exactly); same pruned file cost, less error per code byte
    Gate("ann_ivfpq_residual", (s, dir) => {
      val q = queryVector(s, dir, 19)
      val (model, codes) = Fixtures.ivfPqResidualStore(s, dir)
      val (cents, stored, _) = Fixtures.ivfStored(s, dir)
      graft.ops.Pq.searchIvfPqResidual(codes, cents, stored, "id", "vector",
        model, q, k = 10, nprobe = 2, candidateK = 50)
    },
      // residual form: coarse chain -> residual CTE -> codebook chains,
      // approx = per-cluster dot literal + ADC sum, composed in one mirror
      DuckMirror.ivfPqResidualSql(
      queryVecId = 19, k = 10, candidateK = 50, dim = 64, m = 4,
      ksub = 16, pqMaxIter = 1, nlist = 8, nprobe = 2, seed = 42L)),

    // grouped search (reference search-groups surface): top-2 per payload
    // label by cosine — score map-side against the broadcast query vector,
    // rank inside a PARTITIONED window (shuffles scored (label,id,score)
    // rows only, never vectors)
    Gate("group_search", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      val scored = df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .select(col("id"),
          get_json_object(col("payload"), "$.label").as("label"),
          round(v_cosine(col("vector"), col("__qvec")), 6).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("score").desc, col("id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("label"), col("id"), col("score"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              CAST(e.label AS VARCHAR) AS label,
        |              ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |       FROM embeddings e, q WHERE e.vec_id <> 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY score DESC, id) AS rn
        |      FROM sc)
        |SELECT label, id, score FROM r WHERE rn <= 2 ORDER BY label, id""".stripMargin),

    // grouped search WITH LOOKUP (the reference backend's with_lookup):
    // each group's key is a point id in a lookup collection whose payload
    // rides along with the group. The grouped result (groups x group_size
    // rows — bounded) BROADCASTS into the lookup scan, never the reverse:
    // at 100 TB the lookup collection is corpus-sized, the group table is
    // model-sized
    Gate("group_search_lookup", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      val scored = df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .select(col("id"),
          get_json_object(col("payload"), "$.label").as("label"),
          round(v_cosine(col("vector"), col("__qvec")), 6).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("score").desc, col("id").asc)
      val groups = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("label"), col("id"), col("score"))
      df.select(col("id").as("label"), col("payload").as("lookup_payload"))
        .join(broadcast(groups), Seq("label"))
        .select(col("label"), col("id"), col("score"), col("lookup_payload"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |sc AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              CAST(e.label AS VARCHAR) AS label,
        |              ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |       FROM embeddings e, q WHERE e.vec_id <> 0),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY score DESC, id) AS rn
        |      FROM sc),
        |g AS (SELECT label, id, score FROM r WHERE rn <= 2)
        |SELECT g.label, g.id, g.score,
        |       to_json({'label': l.label}) AS lookup_payload
        |FROM g JOIN embeddings l ON CAST(l.vec_id AS VARCHAR) = g.label
        |ORDER BY g.label, g.id""".stripMargin),

    // ingest-time L2 normalization: the stored-unit-vector step every
    // cosine-serving pipeline wants (then dot == cosine at query time);
    // map-side composed built-ins over the sequential v_dot kernel
    Gate("vector_normalize", (s, dir) =>
      hom(s, dir).select(col("id"),
        vq6(v_normalize(col("vector"))).as("unit_q6")),
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
         |       ${duckVq6("list_transform(CAST(embedding AS DOUBLE[]), x -> x / sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y), (a, b) -> a + b)))")} AS unit_q6
         |FROM embeddings ORDER BY id""".stripMargin),

    // ColBERT-to-dense bridge: mean-pool the multi-vector into one
    // embedding (pool at ingest, serve cheap dense search, keep the multi
    // column for MaxSim rerank); left-fold sum both engines share
    Gate("multi_pool", (s, dir) =>
      Tables.load(s, dir, "embeddings").select(col("vec_id"),
        vq6(v_mean_pool(
          multi_vector_from_flat(col("embedding"), lit(4)))).as("pooled_q6")),
      // chunk -> left-fold zip-sum -> /count, the exact v_mean_pool order
      // (the kernel's zero init + e1 is bit-equal to starting at e1)
      s"""SELECT vec_id,
         |       ${duckVq6("list_transform(list_reduce(list_transform(range(0, 4), g -> list_transform(range(1, 17), j -> v[g * 16 + j])), (a, b) -> list_transform(range(1, 17), j -> a[j] + b[j])), x -> x / 4)")} AS pooled_q6
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |ORDER BY vec_id""".stripMargin),

    // scroll pagination (reference scroll surface): stable id order,
    // limit+offset — the PARITY form (mirrors Qdrant scroll semantics)
    Gate("scroll_page", (s, dir) =>
      hom(s, dir).select(col("id"), col("payload"))
        .orderBy(col("id").cast(LongType))
        .offset(20).limit(10),
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload
        |FROM embeddings ORDER BY vec_id LIMIT 10 OFFSET 20""".stripMargin),

    // keyset pagination — the SCALE form of scroll: the client passes the
    // last key of the previous page and the engine filters `key > last`
    // instead of sorting rows past a deep OFFSET; page cost stays flat
    // however deep the scroll goes. Paged over a STORED native key so the
    // predicate reaches the parquet scan (PlanSpec asserts PushedFilters)
    // — a production collection stores its id column, which is exactly
    // this shape; the view's computed string id would hide the filter
    // behind a cast. scroll_page keeps the reference's offset form.
    Gate("scroll_keyset", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"))
        .filter(col("doc_id") > 29)
        .orderBy(col("doc_id"))
        .limit(10),
      """SELECT doc_id, lang, source
        |FROM documents WHERE doc_id > 29 ORDER BY doc_id LIMIT 10""".stripMargin),

    // hyperplane-LSH ANN over INGEST-MATERIALIZED signatures: the serving
    // path reads the stored (id, vector, bucket) frame, band-matches the
    // driver-computed query signature as a pure long-compare scan filter
    // (no join, no shuffle, no per-row hyperplane dot), exact-cosine
    // reranks the survivors — fully oracled since the plane family is
    // deterministic arithmetic both engines share. The query point's
    // exclusion is THIS query's predicate on the stored frame, not baked
    // into the shared ingest artifact.
    Gate("ann_lsh", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchLshStored(
        Fixtures.storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10)
    },
      DuckMirror.lshSql(queryVecId = 3, k = 10, dim = 64,
      nbits = 16, bands = 4, seed = 42L)),

    // graph-based ANN (the HNSW-family topology, relationally): LSH band
    // match picks 3 exact-scored entry points, TWO hops through the stored
    // top-8 adjacency widen the beam (the stored edges reach candidates
    // outside the query's own band buckets — measured past the full-bucket
    // rerank at hops=3, ScaleProbe recall), union reranks exactly — the
    // whole pipeline (edge proposal, per-node truncation, frontier
    // expansion, rerank) is deterministic and mirrored stage for stage
    Gate("ann_knn_graph", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchKnnGraph(knnGraph(s, dir),
        storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10, entryK = 3, hops = 2)
    },
      DuckMirror.knnGraphSql(queryVecId = 3, k = 10,
      entryK = 3, m = 8, dim = 64, nbits = 16, bands = 4, seed = 42L,
      hops = 2)),

    // NN-DESCENT: one neighbors-of-neighbors round refines the
    // LSH-seeded adjacency (candidates = 2-step neighbors through the
    // undirected edge view ∪ standing edges, top-m per node by exact
    // cosine — a bounded self-join, never all-pairs). The graph arm's
    // recall ceiling is set by what LSH buckets propose; descent
    // recovers the missing edges at build time, serve cost unchanged.
    // Same serve as ann_knn_graph over the refined adjacency; the oracle
    // unrolls the round stage for stage
    Gate("ann_knn_descent", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchKnnGraph(Fixtures.knnDescentGraph(s, dir),
        storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10, entryK = 3, hops = 2)
    },
      DuckMirror.knnDescentSql(queryVecId = 3,
      k = 10, entryK = 3, m = 8, dim = 64, nbits = 16, bands = 4,
      seed = 42L, hops = 2, rounds = 1)),

    // DEEP graph serving (hops=3) under per-hop BEAM pruning: each hop
    // keeps the top-8 unvisited neighbors by max(frontier_score * stored
    // sim) — no vector touched during expansion, visited grows by <=beam
    // per hop instead of *m per hop, so deep walks stay model-sized
    // (the unpruned frontier would be entryK * m^3 = 1536 wide here)
    Gate("ann_knn_graph_hops", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchKnnGraph(knnGraph(s, dir),
        storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10, entryK = 3, hops = 3, beam = 8)
    },
      DuckMirror.knnGraphBeamSql(queryVecId = 3,
      k = 10, entryK = 3, m = 8, dim = 64, nbits = 16, bands = 4,
      seed = 42L, hops = 3, beam = 8)),

    // HNSW-style LAYERED entry points over the descent graph: a seeded
    // 256-node model-sized upper layer scored in full (one coarse scan,
    // like IVF's centroid probe) lands the best entry + its upper
    // neighbors (ef-seeding); the beam serve expands from them over the
    // refined base graph. Entry QUALITY replaces entry QUANTITY — the
    // recall probe compares this against LSH entries at equal visited
    // budget; the gate pins the whole serve against its DuckDB mirror
    Gate("ann_hnsw_entry", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchKnnGraphLayered(Fixtures.knnDescentGraph(s, dir),
        Fixtures.hnswUpperAdj(s, dir), Fixtures.hnswSample(s, dir),
        storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10, entryE = 3, hops = 3, beam = 8)
    },
      DuckMirror.hnswEntrySql(queryVecId = 3,
      k = 10, m = 8, dim = 64, nbits = 16, bands = 4, seed = 42L,
      rounds = 1, sampleN = 256, mUpper = 4, entryE = 3, hops = 3,
      beam = 8)),

    // TRUE insertion-order HNSW, built PER SEGMENT (the per-shard model
    // of the reference's backend: one sequential graph per segment with
    // the full log-N hierarchy — geometric level draw, greedy descent,
    // efConstruction beam, bidirectional mMax pruning — built OFFLINE
    // like IVF/NB); queries fan out to every segment's graph and the
    // per-segment pages merge. At a generous efSearch each segment's
    // beam recovers its true top-k on this fixture, so the merged page
    // equals brute force and the plain exact top-k SQL oracles it — the
    // build is fully seeded/deterministic, so the equality is stable
    Gate("ann_hnsw_insert", (s, dir) => {
      val q = queryVector(s, dir, 7)
      Ann.searchHnsw(
        homD(s, dir).select("id", "vector").filter(col("id") =!= "7"),
        Fixtures.hnswInsertEdges(s, dir), "id", "vector", q, k = 10,
        efSearch = 128, numSegments = 4)
    },
      // the per-segment insertion-order HNSW serve at a generous efSearch
      // recovers each segment's exact top-k, so the merged page equals
      // brute force — the plain top-k SQL is the oracle (deterministic:
      // the whole build is seeded)
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // incremental IVF maintenance: assign points against the EXISTING
    // centroid table (no rebuild) — the path by which streamed-in points
    // join a served index; pure map-side argmin over broadcast centroid
    // literals, so the same expression runs unbounded (StreamingSpec)
    Gate("ann_ivf_assign", (s, dir) => {
      val idx = probeIvf(s, dir)
      Ann.assignToCentroids(homD(s, dir).select("id", "vector"),
          "vector", idx.centroids)
        .select(col("id"), col("cluster"))
    },
      DuckMirror.ivfAssignSql(dim = 64, nlist = 8,
      seed = 42L)),

    // the maintenance loop CLOSED: assignToCentroids covers points
    // streaming into an existing index; when drift warrants, the index
    // REFITS — here a drifted cohort (every third vector re-embedded,
    // shifted +1.5/dim under a fresh id) joins the corpus, centroids
    // refit from scratch (same md5 init + one DECIMAL-quantized Lloyd's
    // round, order-independent in both engines), and EVERY point
    // reassigns — the mirror re-derives the whole composition
    Gate("ann_ivf_refit", (s, dir) => {
      val base = homD(s, dir).select("id", "vector")
      val drifted = base.filter(col("id").cast(LongType) % 3 === 0)
        .select(concat(lit("d"), col("id")).as("id"),
          transform(col("vector"), x => x + lit(1.5)).as("vector"))
      val idx = Ann.buildIvf(base.union(drifted), "id", "vector",
        nlist = 8, maxIter = 1)
      idx.clustered.select(col("id"), col("cluster"))
    },
      DuckMirror.ivfRefitSql(dim = 64, nlist = 8,
      maxIter = 1, seed = 42L)),

    // same LSH search served from the PER-BAND index layout (one hash
    // table per band, partitionBy(band, bandkey)): the query's literal
    // band keys partition-prune the index read — bands point lookups,
    // no full-signature scan (pruning asserted in BucketingSpec) — and
    // the candidate ids broadcast into the exact-cosine rerank. Same
    // oracle as ann_lsh: the candidate set (OR of band matches) and the
    // rerank arithmetic are identical, only the cost shape differs
    Gate("ann_lsh_bucketed", (s, dir) => {
      val q = queryVector(s, dir, 3)
      Ann.searchLshStoredPartitioned(
        Fixtures.lshBandStore(s, dir),
        Fixtures.storedLshSignatures(s, dir).filter(col("id") =!= "3"),
        "id", "vector", q, k = 10)
    },
      DuckMirror.lshSql(queryVecId = 3, k = 10,
      dim = 64, nbits = 16, bands = 4, seed = 42L)),

    // 1-bit multiprobe over the SAME per-band index: each band probes its
    // own key plus every single-bit flip — bands*(1+r) point lookups,
    // still zero signature scans, wider candidates, same exact-cosine
    // rerank. The recall dial of a served LSH index (probe more buckets
    // instead of storing more tables); recall curve in BASELINE.md
    Gate("ann_lsh_multiprobe", (s, dir) => {
      val q = queryVector(s, dir, 17)
      Ann.searchLshStoredMultiprobe(
        Fixtures.lshBandStore(s, dir),
        Fixtures.storedLshSignatures(s, dir).filter(col("id") =!= "17"),
        "id", "vector", q, k = 10)
    },
      // multiprobe: the lshSql candidate predicate widened to Hamming-1
      // band keys — candidate set and rerank arithmetic mirror exactly
      DuckMirror.lshMultiprobeSql(
      queryVecId = 17, k = 10, dim = 64, nbits = 16, bands = 4,
      seed = 42L)),

    // int8-quantized candidate search + full-precision rerank; with a
    // candidate margin the exact top-k is recovered, so the dot_topk-style
    // oracle applies (scores are the EXACT rerank scores)
    Gate("quantized_search", (s, dir) => {
      val corpus = hom(s, dir).select("id", "vector").filter(col("id") =!= "7")
      val qvec = queryVector(s, dir, 7)
      // serving path over codes quantized once at ingest (storedCodes):
      // candidate stage in the int8 domain (margin 100) never touches the
      // full-precision column; exact rerank fetches the 100 winners'
      // vectors by id, with the rounded-before-rank rule so the oracle's
      // top-10 boundary agrees. The query point's exclusion is THIS
      // query's predicate, applied on the stored frame — not baked into
      // the shared ingest artifact
      graft.ops.Quant.searchStoredCodes(
          Fixtures.storedCodes(s, dir).filter(col("id") =!= "7"), corpus,
          "id", "vector", "v8_codes", "v8_scale", qvec, k = 100, candidateK = 100)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 7
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // corpus-calibrated (quantile-clipped 0.99) scalar quantization — the
    // backend's `quantile` dial: ONE affine mapping for the collection,
    // candidate stage on stored (codes, csum), exact rerank. The oracle
    // re-derives the calibration from its own percentiles, re-encodes
    // every vector, and reproduces the affine approximate dot with the
    // same parenthesization — the full quantizer arithmetic is pinned
    Gate("quantized_calibrated", (s, dir) => {
      val (cal, codes) = Fixtures.calibratedStore(s, dir)
      val qvec = queryVector(s, dir, 13)
      graft.ops.Quant.searchCalibrated(codes, homD(s, dir), "id", "vector",
          "cal_codes", "cal_csum", cal, dim = 64, qvec, k = 100, candidateK = 100)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // full calibrated-quantizer mirror: quantile bounds re-derived
      // (q6-quantized like the engine), every vector re-encoded with the
      // identical clip/floor affine, the approximate dot reproduced with
      // the engine's parenthesization, then the same margin-100 rerank
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 13),
        |cal AS (SELECT FLOOR(quantile_cont(x, 0.01) * 1e6 + 0.5) / 1e6 AS lo,
        |               FLOOR(quantile_cont(x, 0.99) * 1e6 + 0.5) / 1e6 AS hi
        |        FROM (SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)),
        |p AS (SELECT lo, hi, (hi - lo) / 255.0 AS s FROM cal),
        |pm AS (SELECT lo, hi, s, lo + 128.0 * s AS m FROM p),
        |cs AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              CAST(e.embedding AS DOUBLE[]) AS v,
        |              list_transform(CAST(e.embedding AS DOUBLE[]),
        |                x -> FLOOR((LEAST(GREATEST(x, pm.lo), pm.hi) - pm.lo) / pm.s + 0.5) - 128) AS c
        |       FROM embeddings e, pm),
        |qs AS (SELECT list_transform(q.qv,
        |                x -> FLOOR((LEAST(GREATEST(x, pm.lo), pm.hi) - pm.lo) / pm.s + 0.5) - 128) AS qc
        |       FROM q, pm),
        |cand AS (SELECT cs.id, cs.v,
        |                list_inner_product(cs.c, qs.qc) * (pm.s * pm.s)
        |                + (pm.s * pm.m) * (list_sum(cs.c) + list_sum(qs.qc))
        |                + (64 * pm.m) * pm.m AS approx
        |         FROM cs, qs, pm
        |         ORDER BY approx DESC, id ASC LIMIT 100)
        |SELECT cand.id, ROUND(list_inner_product(cand.v, q.qv), 6) AS score
        |FROM cand, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // binary-quantized (1 bit/dim) candidate search + full-precision
    // rerank over bits packed once at ingest. Unlike quantized_search the
    // oracle mirrors the CANDIDATE stage too (Hamming = per-dim
    // sign-mismatch count, ties by id), so the gate is deterministic at
    // any recall level — no margin assumption
    Gate("bq_search", (s, dir) => {
      val corpus = hom(s, dir).select("id", "vector").filter(col("id") =!= "7")
      val qvec = queryVector(s, dir, 7)
      graft.ops.Quant.searchStoredBits(
          Fixtures.storedBits(s, dir).filter(col("id") =!= "7"), corpus,
          "id", "vector", "v1_bits", qvec, k = 100, candidateK = 100)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // mirrors BOTH stages: Hamming distance re-derived as the per-dim
      // sign-mismatch count (bit i set iff x_i > 0 on both engines), then
      // exact-dot rerank over the candidate page
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
        |c AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |             CAST(e.embedding AS DOUBLE[]) AS v,
        |             len(list_filter(range(1, len(e.embedding) + 1),
        |                 i -> (CAST(e.embedding AS DOUBLE[])[i] > 0) <> (q.qv[i] > 0))) AS ham
        |      FROM embeddings e, q WHERE e.vec_id <> 7
        |      ORDER BY ham ASC, id ASC LIMIT 100)
        |SELECT c.id, ROUND(list_inner_product(c.v, q.qv), 6) AS score
        |FROM c, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // snapshot/restore round-trip: the hetero collection exported
    // (parquet points + descriptor manifest), restored under a NEW name
    // into a NEW store, and the full 5-field value check of dsv2_hetero
    // re-run THROUGH the restored connector — same oracle
    Gate("dsv2_snapshot", (s, dir) => {
      CollectionStores.register("snap_src_store", InMemoryCollectionStore.fromRows(
        Collections.heterogeneous(s, dir),
        "hetero", Collections.heterogeneousDescriptor))
      val path = tempDir("graft-snap")
      graft.collections.Snapshot.create(s, "snap_src_store", "hetero", path)
      graft.collections.Snapshot
        .restore(s, path, "snap_restore_store", "hetero_restored")
        .select(
          col("id"), col("payload"),
          vq6(col("text_embedding")).as("text_embedding_q6"),
          vq6(col("image_embedding")).as("image_embedding_q6"),
          vq6(col("audio_embedding")).as("audio_embedding_q6"),
          array_join(transform(col("multi_embeddings"), sv => vq6(sv)), ";")
            .as("multi_q6"),
          iarr(col("keywords_indices")).as("keywords_indices_s"),
          vq6(col("keywords_values")).as("keywords_values_q6"))
    },
      s"""SELECT CAST(vec_id AS VARCHAR) AS id,
        |       to_json({'label': label}) AS payload,
        |       CASE WHEN vec_id % 3 IN (0, 1) THEN ${duckVq6("embedding")} END AS text_embedding_q6,
        |       CASE WHEN vec_id % 3 IN (1, 2) THEN ${duckVq6("embedding")} END AS image_embedding_q6,
        |       CASE WHEN vec_id % 3 = 2 THEN ${duckVq6("embedding")} END AS audio_embedding_q6,
        |       CASE WHEN vec_id % 3 = 0 THEN
        |         ${duckVq6("embedding")} || ';' || ${duckVq6("list_reverse(embedding)")}
        |       END AS multi_q6,
        |       CASE WHEN vec_id % 3 <> 1 THEN
        |         array_to_string(list_transform(list_filter(range(1, len(embedding) + 1), i -> embedding[i] > 0), i -> CAST(i - 1 AS VARCHAR)), ',')
        |       END AS keywords_indices_s,
        |       CASE WHEN vec_id % 3 <> 1 THEN ${duckVq6("list_filter(embedding, x -> x > 0)")} END AS keywords_values_q6
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // multitenant serving: the tenant predicate is a STATIC partition
    // filter over the partitionBy(tenant) layout — the scan reads one
    // tenant's files (pruning asserted in BucketingSpec); the query
    // point's exclusion is this query's predicate
    Gate("tenant_search", (s, dir) => {
      val q = queryVector(s, dir, 21)
      graft.ops.Tenant.searchTenant(
        Fixtures.tenantStore(s, dir).filter(col("id") =!= "21"),
        "tenant", "t2", "id", "vector", vec(q), k = 10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 21)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.label = 2 AND e.vec_id <> 21
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the admin view of the tenant layout: per-tenant point counts
    Gate("tenant_stats", (s, dir) =>
      graft.ops.Tenant.tenantStats(Fixtures.tenantStore(s, dir), "tenant"),
      """SELECT 't' || CAST(label AS VARCHAR) AS tenant, count(*) AS n_points
        |FROM embeddings GROUP BY 1 ORDER BY tenant""".stripMargin),

    // IVF + BQ: coarse quantizer prunes to nprobe/nlist of the
    // partitioned 1-bit files, Hamming page, exact rerank — the cheapest
    // tier that still partition-prunes; every stage oracle-mirrored
    Gate("ann_ivfbq", (s, dir) => {
      val (cent, stored, _) = Fixtures.ivfStored(s, dir)
      val qvec = queryVector(s, dir, 31)
      Ann.searchIvfBqStored(Fixtures.ivfBqBits(s, dir), cent, stored,
        "id", "vector", "v1_bits", qvec, k = 10, nprobe = 2, candidateK = 100)
    },
      // IVF coarse chain + sign-mismatch Hamming page + exact rerank
      DuckMirror.ivfBqSql(
      queryVecId = 31, k = 10, candidateK = 100, dim = 64, nlist = 8,
      nprobe = 2, seed = 42L)),

    // three-tier cascade: 1-bit Hamming page (200) -> int8 approx cut
    // (50) -> exact top-10. The oracle mirrors ALL THREE stages including
    // the int8 scale/round arithmetic — the first value-pin of the
    // quantizer itself (quantized_search pins only the margin contract)
    Gate("cascade_rerank", (s, dir) => {
      val corpus = hom(s, dir).select("id", "vector").filter(col("id") =!= "23")
      val qvec = queryVector(s, dir, 23)
      graft.ops.Quant.cascadeSearch(
          Fixtures.storedBits(s, dir).filter(col("id") =!= "23"),
          Fixtures.storedCodes(s, dir).filter(col("id") =!= "23"),
          corpus, "id", "vector", "v1_bits", "v8_codes", "v8_scale", qvec,
          k = 50, midK = 50, candidateK = 200)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // all three cascade stages mirrored: sign-mismatch Hamming page,
      // int8 quantizer (scale = float32(absmax/127), HALF-AWAY rounding,
      // (intsum * sA) * sB approx-dot — the exact kernel arithmetic), then
      // exact-dot rerank. No margin assumption anywhere.
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 23),
        |qs AS (SELECT qv, CAST(CAST(list_max(list_transform(qv, x -> abs(x))) / 127.0 AS FLOAT) AS DOUBLE) AS s FROM q),
        |qc AS (SELECT qv, s, list_transform(qv, x -> CASE WHEN x >= 0 THEN floor(x / s + 0.5) ELSE ceil(x / s - 0.5) END) AS c FROM qs),
        |e AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id <> 23),
        |s1 AS (SELECT e.id, e.v,
        |              len(list_filter(range(1, len(e.v) + 1),
        |                  i -> (e.v[i] > 0) <> (q.qv[i] > 0))) AS ham
        |       FROM e, q ORDER BY ham ASC, id ASC LIMIT 200),
        |es AS (SELECT id, v, CAST(CAST(list_max(list_transform(v, x -> abs(x))) / 127.0 AS FLOAT) AS DOUBLE) AS s FROM s1),
        |ec AS (SELECT id, v, s, list_transform(v, x -> CASE WHEN x >= 0 THEN floor(x / s + 0.5) ELSE ceil(x / s - 0.5) END) AS c FROM es),
        |s2 AS (SELECT ec.id, ec.v,
        |              (list_reduce(list_transform(range(1, len(ec.c) + 1),
        |                  i -> ec.c[i] * qc.c[i]), (a, b) -> a + b) * ec.s) * qc.s AS approx
        |       FROM ec, qc ORDER BY approx DESC, id ASC LIMIT 50)
        |SELECT s2.id, ROUND(list_inner_product(s2.v, q.qv), 6) AS score
        |FROM s2, q ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // facet API: top-N payload values by count under a filter
    Gate("facet_counts", (s, dir) =>
      Search.facet(
        hom(s, dir).filter(col("id").cast(LongType) % 3 =!= 0),
        col("payload"), "label", topN = 5),
      """SELECT CAST(label AS VARCHAR) AS value, count(*) AS n
        |FROM embeddings WHERE vec_id % 3 <> 0
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin),

    // search-matrix API: pairwise top-5 neighbours within a 20-point
    // deterministic sample
    Gate("distance_matrix", (s, dir) =>
      Search.distanceMatrix(homD(s, dir), "id", "vector",
        sampleN = 20, perPoint = 5, seed = 42, metric = "dot"),
      // rank on the UNROUNDED inner product (the engine rounds after the
      // window filter), round only in the projection
      """WITH s AS (SELECT CAST(vec_id AS VARCHAR) AS id,
        |                  CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR) || '42'), id LIMIT 20)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       ROUND(list_inner_product(a.v, b.v), 6) AS score
        |FROM s a JOIN s b ON a.id <> b.id
        |QUALIFY row_number() OVER (PARTITION BY a.id
        |          ORDER BY list_inner_product(a.v, b.v) DESC, b.id ASC) <= 5""".stripMargin),

    // the matrix API's second wire format: pair ends as POSITIONS in the
    // sampled-ids list (dense-matrix-ready offsets), same sample + pairs
    Gate("distance_matrix_offsets", (s, dir) =>
      Search.distanceMatrixOffsets(homD(s, dir), "id", "vector",
        sampleN = 20, perPoint = 5, seed = 42, metric = "dot"),
      """WITH s AS (SELECT CAST(vec_id AS VARCHAR) AS id,
        |                  CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR) || '42'), id LIMIT 20),
        |     r AS (SELECT id, v,
        |                  row_number() OVER (ORDER BY md5(id || '42'), id) - 1 AS off
        |           FROM s)
        |SELECT a.off AS off_row, b.off AS off_col,
        |       ROUND(list_inner_product(a.v, b.v), 6) AS score
        |FROM r a JOIN r b ON a.id <> b.id
        |QUALIFY row_number() OVER (PARTITION BY a.id
        |          ORDER BY list_inner_product(a.v, b.v) DESC, b.id ASC) <= 5""".stripMargin),

    // order_by scroll: one page ordered by (payload field, id) starting
    // strictly after a (value, id) keyset
    Gate("scroll_order_by", (s, dir) =>
      hom(s, dir)
        .withColumn("label", json_get_int(col("payload"), "label"))
        .transform(d => Search.scrollByField(
          d.select(col("id"), col("label")),
          col("label"), col("id"), lit(1), lit("17"), n = 10)),
      """SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS INTEGER) AS label
        |FROM embeddings
        |WHERE label > 1 OR (label = 1 AND CAST(vec_id AS VARCHAR) > '17')
        |ORDER BY label ASC, id ASC LIMIT 10""".stripMargin),

    // order_by scroll, direction=desc: the keyset walks DOWN the value
    // order from (8, '21'); same TakeOrdered page shape as the asc form
    Gate("scroll_order_by_desc", (s, dir) =>
      hom(s, dir)
        .withColumn("label", json_get_int(col("payload"), "label"))
        .transform(d => Search.scrollByField(
          d.select(col("id"), col("label")),
          col("label"), col("id"), lit(8), lit("21"), n = 10,
          descending = true)),
      """SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS INTEGER) AS label
        |FROM embeddings
        |WHERE label < 8 OR (label = 8 AND CAST(vec_id AS VARCHAR) > '21')
        |ORDER BY label DESC, id ASC LIMIT 10""".stripMargin),

    // budget-bounded selection ("fill the token budget with the best
    // docs"): ONE distributed prefix sum — range sort, per-partition
    // totals as model state, partition-keyed window (state bounded per
    // partition, never a single-partition global window) — then a
    // map-side cumulative cut
    Gate("budget_select", (s, dir) =>
      graft.ops.Ranks.selectWithinBudget(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        tokens = col("n_chars"), budget = 60000L,
        (col("n_chars") % 91).desc, col("doc_id").asc)
        .select(col("doc_id"), col("cum_tokens")),
      """SELECT doc_id, cum_tokens FROM (
        |  SELECT doc_id,
        |         CAST(SUM(n_chars) OVER (
        |           ORDER BY (n_chars % 91) DESC, doc_id ASC) AS BIGINT)
        |           AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 60000 ORDER BY doc_id""".stripMargin),

    // per-source token caps ("no domain contributes more than B"): the
    // keyed form — a plain partitioned window, one shuffle on source
    Gate("budget_select_by_source", (s, dir) =>
      graft.ops.Ranks.selectWithinBudgetBy(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        groupCol = col("source"), tokens = col("n_chars"),
        budgetPerGroup = 4000L,
        (col("n_chars") % 91).desc, col("doc_id").asc)
        .select(col("doc_id"), col("source"), col("cum_tokens")),
      """SELECT doc_id, source, cum_tokens FROM (
        |  SELECT doc_id, source,
        |         CAST(SUM(n_chars) OVER (PARTITION BY source
        |           ORDER BY (n_chars % 91) DESC, doc_id ASC) AS BIGINT)
        |           AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 4000 ORDER BY doc_id""".stripMargin),

    // deterministic per-epoch training order: md5(salt:epoch:id)
    // permutation + distributed global rank — rerun-stable positions,
    // one range-sort per epoch, no single-partition window
    Gate("epoch_shuffle", (s, dir) =>
      graft.ops.Layout.epochShuffle(
        docs(s, dir).select("doc_id"), "doc_id", epochs = 2, salt = "ep")
        .orderBy(col("epoch"), col("pos")),
      """SELECT doc_id, 0 AS epoch,
        |       row_number() OVER (
        |         ORDER BY md5('ep' || ':' || '0' || ':' || CAST(doc_id AS VARCHAR)),
        |                  doc_id) AS pos
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 1 AS epoch,
        |       row_number() OVER (
        |         ORDER BY md5('ep' || ':' || '1' || ':' || CAST(doc_id AS VARCHAR)),
        |                  doc_id) AS pos
        |FROM documents
        |ORDER BY epoch, pos""".stripMargin),

    // fair source interleaving (anti-clumping order): round r serves
    // every source's r-th doc; within-source ranks from ONE global sort
    // minus model-sized per-source offsets, never a per-source window
    Gate("interleave_sources", (s, dir) =>
      graft.ops.Layout.interleaveBySource(
        docs(s, dir).select("doc_id", "source"), "doc_id", "source",
        salt = "il")
        .orderBy(col("pos")),
      """WITH r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5('il' || ':' || CAST(doc_id AS VARCHAR)),
        |                    doc_id) AS rnd
        |  FROM documents)
        |SELECT doc_id, source, rnd,
        |       row_number() OVER (ORDER BY rnd, source) AS pos
        |FROM r ORDER BY pos""".stripMargin),

    // rendezvous (HRW) resharding: argmax-of-hash assignment, so growing
    // 8 -> 9 shards moves only the rows the NEW shard wins (~1/9) —
    // resharding as incremental copy, not full reshuffle
    Gate("rendezvous_reshard", (s, dir) => {
      val base = docs(s, dir).select("doc_id")
      val a8 = graft.ops.Pipeline.rendezvousAssign(base, "doc_id", 8, "s8")
      val a9 = graft.ops.Pipeline.rendezvousAssign(base, "doc_id", 9, "s9")
      a8.join(a9, "doc_id").withColumn("moved", col("s8") =!= col("s9"))
    },
      """WITH s AS (SELECT doc_id, i,
        |                  md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)) AS h
        |           FROM documents, range(0, 9) r(i)),
        |a8 AS (SELECT doc_id, CAST(arg_max(i, h) AS INTEGER) AS s8
        |       FROM s WHERE i < 8 GROUP BY doc_id),
        |a9 AS (SELECT doc_id, CAST(arg_max(i, h) AS INTEGER) AS s9
        |       FROM s GROUP BY doc_id)
        |SELECT a8.doc_id, a8.s8, a9.s9, a8.s8 <> a9.s9 AS moved
        |FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
        |ORDER BY a8.doc_id""".stripMargin),

    // importance sampling: keep probability proportional to doc length
    // (the max-length doc at rate 0.8), md5-permutation decided — a
    // map-side filter after one broadcast max
    Gate("weighted_sample", (s, dir) =>
      Search.weightedSample(docs(s, dir).select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), maxRate = 0.8, seed = 11L),
      // same 60-bit md5 bucket; threshold re-derived with the identical
      // double chain ((w / wmax * rate) * 2^60, floor -> BIGINT)
      """WITH m AS (SELECT CAST(max(n_chars) AS DOUBLE) AS wmax FROM documents)
        |SELECT doc_id, n_chars FROM documents, m
        |WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '11'), 1, 15)) AS UBIGINT) AS BIGINT)
        |      < CAST(floor(CAST(n_chars AS DOUBLE) / wmax * 0.8 * 1152921504606846976.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin),

    // deterministic training-shard manifest: md5-permutation shard
    // assignment (engine-independent, layout-independent) + per-shard
    // stats — the export step that turns a cleaned corpus into N
    // equal-ish shards a trainer can stream
    Gate("shard_export", (s, dir) => {
      val shard = (conv(substring(md5(concat(col("doc_id").cast(StringType),
        lit("#7"))), 1, 15), 16, 10).cast(LongType) % 8).as("shard")
      docs(s, dir)
        .select(shard, col("doc_id"), col("n_chars"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    },
      """SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15)) AS UBIGINT) AS BIGINT) % 8 AS shard,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin),

    Gate("multimodal_features", (s, dir) =>
      Multimodal.featuresOf(s, dir)
        .select(col("id"), col("format"), col("nBytes")),
      // multimodal stub features: nBytes = UTF-8 byte length of the synthetic
      // media payload (== len(text) on the ASCII corpus)
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |       'fake/' || source AS format,
        |       CAST(len(text) AS INTEGER) AS "nBytes"
        |FROM documents ORDER BY doc_id""".stripMargin),

    // frame sampling over the synthetic media table: the 1-to-N iterator
    // explode of a video decoder (sampling arithmetic + batch shape real,
    // frame extractor stubbed as deterministic byte slices — oracled on
    // frame count, timestamps, and per-frame byte length)
    // cross-media frame dedup: byte-identical sampled frames collapse —
    // the multimodal analog of exact text dedup (re-encoded copies share
    // frames); planted duplicate media rows collide on every frame
    Gate("multimodal_frame_dedup", (s, dir) => {
      import s.implicits._
      val media = docsWithExactDups(s, dir).select(
        col("doc_id").cast(StringType).as("id"),
        encode(col("text"), "UTF-8").as("media"),
        lit("fake").as("format"), lit(0).as("width"), lit(0).as("height"),
        (length(col("text")).cast(LongType) * 10L).as("durationMs"))
      Multimodal.dedupFrames(
        Multimodal.sampleFrames(media.as[Multimodal.MediaRow]))
    },
      // frame sampling mirror: durationMs = n_chars*10, everyMs = 1000,
      // maxFrames = 8 -> nf = min(8, max(1, n_chars // 100)) frames of
      // octet_length(text) // nf bytes each at 1000ms steps
      {
      val rh = DuckMirror.signed64(DuckMirror.rollingHashUnsignedSql("fb"))
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         |m AS (SELECT CAST(doc_id AS VARCHAR) AS id, text,
         |             strlen(text) AS b,
         |             LEAST(8, GREATEST(1, (strlen(text) * 10) // 1000)) AS nf
         |      FROM c),
         |fr AS (SELECT id,
         |              substr(text, CAST(i * (b // nf) AS INTEGER) + 1,
         |                     CAST(b // nf AS INTEGER)) AS fb
         |       FROM m, range(0, 8) r(i) WHERE i < nf),
         |fp AS (SELECT id, $rh AS frame_fp FROM fr)
         |SELECT frame_fp, COUNT(*) AS n_frames, MIN(id) AS keeper
         |FROM fp GROUP BY frame_fp ORDER BY frame_fp""".stripMargin
    }),

    Gate("multimodal_frames", (s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(
          Multimodal.syntheticMediaTable(s, dir).as[Multimodal.MediaRow])
        .toDF()
        .select(col("id"), col("frame_idx"), col("ts_ms"),
          length(col("frame")).as("n_bytes"))
    },
      """WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |                  strlen(text) AS b,
        |                  LEAST(8, GREATEST(1, (n_chars * 10) // 1000)) AS nf
        |           FROM documents)
        |SELECT id, CAST(i AS INTEGER) AS frame_idx,
        |       CAST(i * 1000 AS BIGINT) AS ts_ms,
        |       CAST(b // nf AS INTEGER) AS n_bytes
        |FROM m, range(0, 8) r(i)
        |WHERE i < nf
        |ORDER BY id, frame_idx""".stripMargin)
  )
}
