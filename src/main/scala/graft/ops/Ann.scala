package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vectors => MLVectors}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForce]]: exact top-k — a single map-side scoring pass +
  *    TakeOrderedAndProject. The correctness baseline, and at 100 TB still
  *    the right tool for one-off queries (it reads each partition once,
  *    shuffles k rows per partition).
  *  - [[IvfIndex]]: IVF coarse quantizer — KMeans centroids; vectors
  *    partitioned by nearest centroid (a real repartition, so each query
  *    probes only nprobe/nlist of the data). The scale path for repeated
  *    query workloads: centroid table is tiny and broadcast; the clustered
  *    corpus can be written out bucketed by cluster id for reuse.
  */
object Ann {

  /** Exact cosine/dot/euclid top-k of `query` over df(idCol, vecCol). */
  def bruteForce(df: DataFrame, idCol: String, vecCol: String, query: Column,
                 k: Int, metric: String = "cosine"): DataFrame =
    df.select(col(idCol).as("id"),
        Search.similarity(col(vecCol), query, metric).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** IVF index: nlist KMeans centroids (seeded, deterministic) + the corpus
    * tagged with its nearest-centroid cluster id.
    */
  final case class IvfIndex(centroids: DataFrame, clustered: DataFrame,
                            idCol: String, vecCol: String) {

    /** Probe the `nprobe` nearest clusters for the query, exact-score only
      * rows in those clusters. Recall < 1 by construction; higher nprobe =
      * higher recall. The cluster filter is a partition-pruning predicate
      * when `clustered` is written bucketed/partitioned by cluster.
      */
    def search(query: Column, k: Int, nprobe: Int,
               metric: String = "cosine", roundTo: Int = 6): DataFrame = {
      val probed = centroids
        .withColumn("cdist", v_euclid(col("centroid"), query))
        .orderBy(col("cdist").asc, col("cluster").asc)
        .limit(nprobe)
        .select(col("cluster"))
      clustered.join(broadcast(probed), Seq("cluster"))
        .select(col(idCol).as("id"),
          round(Search.similarity(col(vecCol), query, metric), roundTo).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
    }
  }

  /** The `nprobe` nearest clusters to `query`, resolved driver-side from
    * the model-sized centroid table (nlist rows — bounded model state,
    * not a data pass). The shared probe-selection step of BOTH stored
    * serving paths; tie-break on cluster id matches the IvfIndex.search
    * plan form and the DuckDB mirror.
    */
  private[ops] def probedClusters(centroids: DataFrame, query: Column,
                                  nprobe: Int): Seq[Int] =
    centroids
      .withColumn("cdist", v_euclid(col("centroid"), query))
      .orderBy(col("cdist").asc, col("cluster").asc)
      .limit(nprobe)
      .select(col("cluster")).collect().map(_.getInt(0)).toSeq

  /** IVF serving from a MATERIALIZED clustered corpus (parquet written
    * `partitionBy("cluster")` — the production layout of [[IvfIndex]]
    * `.clustered`): resolve the `nprobe` nearest clusters driver-side
    * (the centroid table is model state — nlist rows — so this collect is
    * bounded and NOT a data pass), then filter with a LITERAL `IN` on the
    * partition column. A literal predicate prunes partitions statically at
    * planning time — the scan reads only the probed clusters' files, no
    * runtime (DPP) machinery needed — so each query touches nprobe/nlist
    * of the stored bytes. Pruning is asserted in BucketingSpec.
    */
  def searchIvfStored(stored: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String, query: Column, k: Int,
                      nprobe: Int, metric: String = "cosine",
                      roundTo: Int = 6): DataFrame = {
    val probed = probedClusters(centroids, query, nprobe)
    stored.filter(col("cluster").isin(probed: _*))
      .select(col(idCol).as("id"),
        round(Search.similarity(col(vecCol), query, metric), roundTo).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** BATCHED IVF serving over the pruned cluster store: N query vectors
    * answered by ONE statically partition-pruned pass instead of N
    * brute-force scans ([[graft.ops.Search.batchTopK]]'s cost shape) or N
    * separate pruned scans. Per-query probe sets resolve once from the
    * COLLECTED centroid model (nlist rows — bounded driver state, the
    * same arithmetic and cluster-id tiebreak as the single-query path);
    * the scan filter is the literal IN over the UNION of probed clusters
    * (static pruning, asserted in BucketingSpec), and each corpus row
    * then pairs only with the queries that probed ITS cluster
    * (`array_contains` on the broadcast query frame), so per-query work
    * stays nprobe/nlist of the corpus while the scan cost is shared. At
    * 100 TB this is the difference between `sum(per-query file reads)`
    * and `files(union of probes)` — the grouped serving form every
    * batched ANN endpoint runs.
    */
  def searchIvfStoredBatch(stored: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String,
                           queries: Seq[(Int, Seq[Double])], k: Int,
                           nprobe: Int, metric: String = "cosine",
                           roundTo: Int = 6): DataFrame = {
    val spark = stored.sparkSession
    import spark.implicits._
    // centroid model collected once (nlist rows); distance accumulates in
    // the kernel's sequential order so probe selection bit-matches the
    // v_euclid path (sqrt is monotonic — ordering by squared distance is
    // ordering by distance, ties included)
    val centTable = centroids.select(col("cluster"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    def probesOf(q: Seq[Double]): Seq[Int] =
      centTable.map { case (c, cent) =>
        var s = 0.0
        var i = 0
        while (i < cent.length) { val d = cent(i) - q(i); s += d * d; i += 1 }
        // sqrt BEFORE ordering, like v_euclid and the mirror: sqrt can
        // collapse 1-ulp distance differences, and the cluster-id
        // tiebreak must then decide identically on all paths
        (math.sqrt(s), c)
      }.sortBy(identity).take(nprobe).map(_._2).toSeq
    val probes = queries.map { case (qid, q) => (qid, q, probesOf(q)) }
    val allProbed = probes.flatMap(_._3).distinct.sorted
    val qdf = broadcast(probes.toDF("query_id", "qv", "probed"))
    val scored = stored.filter(col("cluster").isin(allProbed: _*))
      .crossJoin(qdf)
      .filter(array_contains(col("probed"), col("cluster")))
      .select(col("query_id"), col(idCol).as("id"),
        round(Search.similarity(col(vecCol), col("qv"), metric), roundTo)
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("query_id").asc, col("score").desc, col("id").asc)
  }

  /** ANN QUALITY EVAL: recall@k of the IVF probe path against exact
    * brute force, per query — the harness that answers "is nprobe=2
    * good enough for this corpus?" with a measured number instead of
    * folklore, run on a SAMPLE of queries (the exact side is the
    * deliberate ground-truth crossJoin — that cost is the point, and it
    * scales with |sample|·|corpus|, not queries²). Both sides reuse the
    * serving operators ([[searchIvfStoredBatch]], [[Search.batchTopK]]),
    * so the eval measures exactly what production executes; the join +
    * per-query recall agg are query-count-sized.
    */
  def recallAtK(stored: DataFrame, centroids: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String,
                queries: Seq[(Int, Seq[Double])], k: Int, nprobe: Int,
                metric: String = "cosine"): DataFrame =
    recallAtKWithTruth(
      recallTruth(corpus, idCol, vecCol, queries, k, metric),
      stored, centroids, idCol, vecCol, queries, k, nprobe, metric)

  /** The EXACT per-query top-k — recall eval's ground truth. Inherently
    * O(|queries| x |corpus|) brute force: materialize it ONCE offline
    * beside the index artifacts (or over a sampled corpus slice at
    * 100 TB) and feed [[recallAtKWithTruth]], so the recurring eval
    * prices only the probe path + join, not the truth recompute.
    */
  def recallTruth(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: Seq[(Int, Seq[Double])], k: Int,
                  metric: String = "cosine"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qdf = queries.toDF("query_id", "qv")
    Search.batchTopK(
        corpus.select(col(idCol).as("id"), col(vecCol)), col(vecCol),
        qdf, "query_id", "qv", k, metric)
      .select(col("query_id"), col("id"))
  }

  /** [[recallAtK]] against a PRE-MATERIALIZED truth set ((query_id, id)
    * rows from [[recallTruth]]) — the recurring-eval form.
    */
  def recallAtKWithTruth(truth: DataFrame, stored: DataFrame,
                         centroids: DataFrame,
                         idCol: String, vecCol: String,
                         queries: Seq[(Int, Seq[Double])], k: Int,
                         nprobe: Int,
                         metric: String = "cosine"): DataFrame = {
    val approx = searchIvfStoredBatch(stored, centroids, idCol, vecCol,
        queries, k, nprobe, metric)
      .select(col("query_id"), col("id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("query_id", "id"), "left")
      .groupBy(col("query_id"))
      .agg(round(sum(coalesce(col("__hit"), lit(0L))).cast(DoubleType) /
        lit(k.toDouble), 6).as("recall"))
  }

  /** The full production ANN serving stack: IVF partition pruning AND
    * int8 scan bandwidth, composed. `storedCodes` is the clustered corpus
    * quantized at ingest and written `partitionBy("cluster")` —
    * (id, codes, scale, cluster) — so a query reads nprobe/nlist of the
    * files AND each file is ~4x smaller than full precision. Probe
    * selection is the same bounded centroid-table resolve as
    * [[searchIvfStored]]; the candidate stage ranks by the approximate
    * int8 dot (Quant.dotQuantized, codegen) and keeps `candidateK`; the
    * rerank stage fetches full-precision vectors for just those ids via a
    * broadcast semi-join on `full` — the full-precision clustered store,
    * whose read is pruned to the same probed clusters (candidates can only
    * come from there) — and ranks by exact dot. With `candidateK`
    * comfortably above k (the quantized_search margin argument), the
    * result equals the exact top-k of the probed clusters.
    */
  def searchIvfStoredQuantized(storedCodes: DataFrame, centroids: DataFrame,
                               full: DataFrame, idCol: String, vecCol: String,
                               codesCol: String, scaleCol: String,
                               query: Seq[Double], k: Int, nprobe: Int,
                               candidateK: Int, roundTo: Int = 6): DataFrame = {
    val qv = vec(query)
    val probed = probedClusters(centroids, qv, nprobe)
    val q = storedCodes.sparkSession.range(1).select(qv.as("__qv"))
    val (qCodes, qScale) = Quant.quantize(col("__qv"))
    val qq = broadcast(q.select(qCodes.as("__qc"), qScale.as("__qs")))
    val cands = storedCodes
      .filter(col("cluster").isin(probed: _*))
      .select(col(idCol), col(codesCol), col(scaleCol))
      .crossJoin(qq)
      .withColumn("__approx", Quant.dotQuantized(
        col(codesCol), col(scaleCol), col("__qc"), col("__qs")))
      .orderBy(col("__approx").desc, col(idCol).asc)
      .limit(candidateK)
      .select(col(idCol))
    full.filter(col("cluster").isin(probed: _*))
      .select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("score", round(v_dot(col(vecCol), qv), roundTo))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol).as("id"), col("score"))
  }

  /** IVF + binary quantization: the coarse quantizer prunes the read to
    * nprobe/nlist of the PARTITIONED bit files (static literal-IN
    * pruning, like [[searchIvfStoredQuantized]]), the candidate stage is
    * the popcount-XOR Hamming page over 1/32-width rows, and the exact
    * rerank fetches candidateK full vectors from the probed clusters by
    * broadcast id join. Per-query bytes: (nprobe/nlist) x (1/32) of the
    * corpus plus candidateK full rows — the cheapest serving tier that
    * still partition-prunes.
    */
  def searchIvfBqStored(storedBits: DataFrame, centroids: DataFrame,
                        full: DataFrame, idCol: String, vecCol: String,
                        bitsCol: String, query: Seq[Double], k: Int,
                        nprobe: Int, candidateK: Int,
                        metric: String = "cosine", roundTo: Int = 6): DataFrame = {
    val qv = vec(query)
    val probed = probedClusters(centroids, qv, nprobe)
    val q = storedBits.sparkSession.range(1).select(qv.as("__qv"))
    val qb = broadcast(q.select(pack_sign_bits(col("__qv")).as("__qb")))
    val cands = storedBits
      .filter(col("cluster").isin(probed: _*))
      .select(col(idCol), col(bitsCol))
      .crossJoin(qb)
      .withColumn("__ham", v_hamming(col(bitsCol), col("__qb")))
      .orderBy(col("__ham").asc, col(idCol).asc)
      .limit(candidateK)
      .select(col(idCol))
    full.filter(col("cluster").isin(probed: _*))
      .select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("score", round(Search.similarity(col(vecCol), qv, metric), roundTo))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol).as("id"), col("score"))
  }

  /** Quantization scale for the exact centroid update: elements quantize
    * to floor(x * 2^40) before summing. x*2^40 is a pure exponent shift
    * (exact in IEEE), floor is exact, and the integer sums accumulate in
    * DECIMAL — so the update is ORDER-INDEPENDENT and bit-reproducible in
    * any engine, unlike a float sum whose low bits depend on partition
    * merge order. The centroid moves by < 2^-40 per dimension vs the true
    * mean — irrelevant to clustering, decisive for verifiability.
    */
  val CentroidQuantScale: Long = 1L << 40

  /** Per-group element-wise vector mean (label centroids, user profiles,
    * cluster summaries) as a DISTRIBUTED frame — unlike [[fitCentroids]]
    * nothing is collected, so group count is unbounded. Same
    * order-independent arithmetic as the Lloyd's update: elements
    * quantize to floor(x * 2^40), sums accumulate in DECIMAL with
    * map-side partials, one shuffle carries (group, dim) partial rows
    * instead of vectors. Output one row per (group, d): the oracle
    * mirrors the division chain exactly.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String,
                     roundTo: Int = 6): DataFrame = {
    val S = CentroidQuantScale.toDouble
    df.select(col(groupCol),
        posexplode(col(vecCol).cast(ArrayType(DoubleType))).as(Seq("d", "x")))
      .groupBy(col(groupCol), col("d"))
      .agg(sum(floor(col("x") * lit(S)).cast(DecimalType(38, 0))).as("__s"),
        count(lit(1)).as("n"))
      .select(col(groupCol), col("d"), col("n"),
        round(col("__s").cast(DoubleType) / col("n") / lit(S), roundTo)
          .as("mean"))
  }

  /** Embedding-distribution DRIFT between two corpus snapshots: per-group
    * cosine similarity of the snapshots' centroids — the monitoring lens
    * that catches a class's embedding mass moving between ingest versions
    * (encoder swap, data shift) before it degrades retrieval. Each
    * snapshot pays one [[groupCentroids]] partial-agg shuffle of
    * (group, dim) rows (vectors never move); the join and cosine run over
    * the model-sized centroid tables. The 6-decimal centroid means are
    * lifted to exact 1e6-scaled longs, so dot and norms are
    * order-independent integer sums and the final score — one pinned
    * dot/√na/√nb float chain — is engine-bit-identical.
    */
  def centroidDrift(a: DataFrame, b: DataFrame, groupCol: String,
                    vecCol: String): DataFrame = {
    def m6(df: DataFrame, out: String) =
      groupCentroids(df, groupCol, vecCol)
        .select(col(groupCol), col("d"),
          floor(col("mean") * lit(1e6) + lit(0.5)).cast(LongType).as(out))
    m6(a, "ma").join(m6(b, "mb"), Seq(groupCol, "d"))
      .groupBy(col(groupCol))
      .agg(sum(col("ma") * col("mb")).as("__dot"),
        sum(col("ma") * col("ma")).as("__na"),
        sum(col("mb") * col("mb")).as("__nb"))
      .select(col(groupCol),
        round(col("__dot").cast(DoubleType) /
          sqrt(col("__na").cast(DoubleType)) /
          sqrt(col("__nb").cast(DoubleType)), 6).as("cos_sim"))
  }

  /** Lloyd's KMeans built from the engine's own kernels: assignment is a
    * codegen'd argmin over broadcast centroid literals (v_euclid); the
    * recompute step sums quantized elements in DECIMAL (see
    * [[CentroidQuantScale]]) with map-side partial aggregation — the
    * shuffle carries k * dim * partitions partial rows, never vectors.
    * Only the k x dim centroid table ever reaches the driver (model
    * state, not data). Deterministic under `seed` (init = k smallest
    * md5(id||seed)) AND across cluster layouts/engines: the refined
    * centroids are value-checked by the DuckDB oracle
    * (DuckMirror.ivfSql), not just the maxIter=0 serving path.
    */
  def fitCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   maxIter: Int, seed: Long): Array[Array[Double]] = {
    // seed points by a data-derived md5 permutation (not xxhash64): equally
    // good pseudo-random init, but reproducible in ANY engine — the
    // ann_ivf/ann_ivf_probe oracles re-derive these exact centroids in SQL
    var centroids: Array[Array[Double]] = df
      .orderBy(md5(concat(col(idCol).cast(StringType), lit(seed.toString))), col(idCol))
      .limit(k)
      .select(col(vecCol).cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    val S = CentroidQuantScale.toDouble
    var iter = 0
    while (iter < maxIter) {
      val assigned = assignClusters(df, vecCol, centroids)
      val updated = assigned
        .select(col("cluster"),
          posexplode(col(vecCol).cast(ArrayType(DoubleType))).as(Seq("d", "x")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(floor(col("x") * lit(S)).cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          cl -> rows.sortBy(_.getInt(1))
            .map(r => r.getDecimal(2).doubleValue() / r.getLong(3) / S).toArray
        }
      // empty clusters keep their previous centroid
      centroids = centroids.indices
        .map(i => updated.getOrElse(i, centroids(i))).toArray
      iter += 1
    }
    centroids
  }

  /** Tag each row with its nearest centroid (pure map-side column argmin).
    * Distances go through ONE array literal; a when/otherwise fold would
    * inline the accumulator twice per level — 2^k expression blowup.
    */
  private def assignClusters(df: DataFrame, vecCol: String,
                             centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol)
    val ds = array(centroids.toIndexedSeq.map(c => v_euclid(v, vec(c.toIndexedSeq))): _*)
    df.withColumn("cluster",
      (array_position(ds, array_min(ds)) - 1).cast(org.apache.spark.sql.types.IntegerType))
  }

  /** Assignment as a standalone maintenance op: tag rows with the nearest
    * centroid of an EXISTING index — the incremental index-maintenance
    * path (points streaming into a collection join the index without a
    * rebuild; production re-fits centroids out-of-band when drift
    * warrants). Pure map-side argmin over broadcast centroid literals, so
    * the SAME expression runs unbounded under Structured Streaming
    * (StreamingSpec proves batch == streaming assignment). The centroid
    * frame is model state (nlist x dim) — the one legitimate driver
    * collect, like [[fitCentroids]]'s own update step.
    */
  def assignToCentroids(df: DataFrame, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    val cents = centroids.orderBy(col("cluster"))
      .select(col("centroid").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    assignClusters(df, vecCol, cents)
  }

  /** Each row's distance to its nearest centroid ("adist") alongside the
    * assignment — the raw signal the drift statistic quantizes. Same
    * map-side argmin as [[assignToCentroids]], one extra column.
    */
  def assignmentDistances(df: DataFrame, vecCol: String,
                          centroids: DataFrame): DataFrame = {
    val cents = centroids.orderBy(col("cluster"))
      .select(col("centroid").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    val v = col(vecCol)
    val ds = array(cents.toIndexedSeq.map(c => v_euclid(v, vec(c.toIndexedSeq))): _*)
    df.withColumn("adist", array_min(ds))
      .withColumn("cluster",
        (array_position(ds, array_min(ds)) - 1).cast(IntegerType))
  }

  /** Assignment-distance quantiles of `df` against an existing centroid
    * table — approx_percentile (bounded sketch memory), because this runs
    * over arbitrarily large corpora/batches as a monitoring pass. At
    * build time this is the reference profile; at maintenance time the
    * same call over an incoming batch yields the comparison.
    */
  def assignmentDistanceQuantiles(df: DataFrame, vecCol: String,
                                  centroids: DataFrame,
                                  probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                                  accuracy: Int = 10000): Seq[Double] =
    assignmentDistances(df, vecCol, centroids)
      .agg(percentile_approx(col("adist"),
        array(probs.map(lit): _*), lit(accuracy)).as("q"))
      .head().getSeq[Double](0).toSeq

  /** The re-fit decision made MEASURABLE: per-quantile ratio of a batch's
    * assignment distances to the build-time profile. Ratio ~1 means the
    * batch still lives where the centroids were fit; ratios >> 1 mean
    * points land far from every centroid — the coarse quantizer no longer
    * covers the distribution, recall at fixed nprobe decays, and the
    * operator should schedule [[buildIvf]] (ann_ivf_refit's path). The
    * ScaleProbe `drift` section records the ratio curve under injected
    * shift so the threshold is a measured dial, not a guess.
    */
  final case class DriftReport(probs: Seq[Double], buildQ: Seq[Double],
                               batchQ: Seq[Double]) {
    require(probs.length == buildQ.length && probs.length == batchQ.length,
      "probs/buildQ/batchQ must align")
    val ratios: Seq[Double] =
      buildQ.zip(batchQ).map { case (b, c) => if (b == 0) 1.0 else c / b }
    val maxRatio: Double = ratios.max
    def shouldRefit(threshold: Double = 1.2): Boolean = maxRatio >= threshold
  }

  def driftStatistic(batch: DataFrame, vecCol: String, centroids: DataFrame,
                     buildQ: Seq[Double],
                     probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DriftReport =
    DriftReport(probs, buildQ,
      assignmentDistanceQuantiles(batch, vecCol, centroids, probs))

  /** Build an IVF index with nlist centroids (native Lloyd's, fixed seed). */
  def buildIvf(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
               seed: Long = 42L, maxIter: Int = 10): IvfIndex = {
    val cents = fitCentroids(df, idCol, vecCol, nlist, maxIter, seed)
    // the index IS the materialized assignment: persist eagerly so probes
    // filter stored rows instead of re-assigning the corpus per query
    // (production writes this partitioned/bucketed by `cluster` — see
    // BucketingSpec — and probes partition-prune)
    val clustered = assignClusters(df, vecCol, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    clustered.count()
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cluster", "centroid")
      .withColumn("centroid", col("centroid").cast(ArrayType(DoubleType)))
    IvfIndex(centroids, clustered, idCol, vecCol)
  }

  /** MLlib-backed variant of [[buildIvf]] (same index contract), for users
    * already standardized on spark.ml pipelines.
    */
  def buildIvfMLlib(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
                    seed: Long = 42L, maxIter: Int = 10): IvfIndex = {
    val feat = df.withColumn("__features", array_to_vector(
      col(vecCol).cast(ArrayType(DoubleType))))
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("cluster")
      .fit(feat)
    val clustered = model.transform(feat).drop("__features")
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toSeq.toDF("cluster", "centroid")
      .withColumn("centroid", col("centroid").cast(ArrayType(DoubleType)))
    IvfIndex(centroids, clustered, idCol, vecCol)
  }

  /** Random-hyperplane LSH bucketing (deterministic planes derived from a
    * seed via SplittableRandom): maps each vector to a `nbits`-bit bucket
    * signature; near-duplicate search joins bucket-local only.
    */
  /** The deterministic hyperplane family behind [[lshBuckets]]: `nbits`
    * planes of `dim` coordinates in [-1, 1), row-major from one seeded
    * SplittableRandom stream. Shared by the Spark side, the driver-side
    * query signature, and the DuckDB oracle mirror.
    */
  def lshPlanes(dim: Int, nbits: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.SplittableRandom(seed)
    Seq.fill(nbits)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  def lshBuckets(df: DataFrame, vecCol: String, dim: Int, nbits: Int,
                 seed: Long = 42L): DataFrame =
    // ONE fused kernel for all nbits sign bits (HyperplaneSignature) —
    // the nbits-separate-v_dot composition reads every vector nbits
    // times; per-plane accumulation order is identical, so buckets are
    // bit-equal (asserted in VectorExpressionsSpec)
    df.withColumn("bucket",
      graft.functions.lsh_signature(col(vecCol), dim, nbits, seed))

  /** Driver-side signature of one vector under the same plane family
    * (sequential sum order — identical to the v_dot kernel).
    */
  def lshSignatureOf(v: Seq[Double], nbits: Int, seed: Long): Long =
    lshPlanes(v.length, nbits, seed).zipWithIndex.map { case (p, i) =>
      var s = 0.0
      var j = 0
      while (j < v.length) { s += v(j) * p(j); j += 1 }
      if (s >= 0) 1L << i else 0L
    }.reduce(_ | _)

  /** Hyperplane-LSH ANN for a single query: rows are candidates when ANY
    * of the `bands` signature bands (nbits/bands bits each) equals the
    * query's — a pure long-compare FILTER on the scan (no join, no
    * shuffle) — then exact-cosine rerank of the survivors, top k.
    *
    * This form recomputes the corpus signatures per query (nbits v_dot
    * kernels per row) — fine for a one-off, wrong for a serving path.
    * Repeated query workloads should materialize the signatures ONCE at
    * ingest ([[lshBuckets]], see `Fixtures.warmOffline`) and serve via
    * [[searchLshStored]], where the query plan touches no hyperplane at
    * all: with the stored table bucketed/sorted by band key the filter
    * prunes at the source.
    */
  def searchLsh(df: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], k: Int, nbits: Int = 16, bands: Int = 4,
                seed: Long = 42L): DataFrame =
    searchLshStored(lshBuckets(df, vecCol, query.length, nbits, seed),
      idCol, vecCol, query, k, nbits, bands, seed)

  /** LSH serving path over ingest-materialized signatures: `sigs` already
    * carries the `bucket` column ([[lshBuckets]] output, stored alongside
    * the corpus like the int8 codes in Quant). The query side reduces to
    * a driver-computed literal signature, so the plan is a pure
    * long-compare filter + exact-cosine rerank — zero v_dot over the
    * corpus, zero shuffles, zero joins.
    */
  /** The band-match predicate of [[searchLshStored]] over a stored
    * `bucket` column: true when ANY band of the row's signature equals the
    * query's. Exposed so probes can measure candidate selectivity.
    */
  def lshBandMatch(query: Seq[Double], nbits: Int = 16, bands: Int = 4,
                   seed: Long = 42L): Column = {
    require(nbits % bands == 0)
    val r = nbits / bands
    val mask = (1L << r) - 1
    val qSig = lshSignatureOf(query, nbits, seed)
    (0 until bands).map { b =>
      (shiftright(col("bucket"), b * r).bitwiseAND(lit(mask))) === lit((qSig >>> (b * r)) & mask)
    }.reduce(_ || _)
  }

  def searchLshStored(sigs: DataFrame, idCol: String, vecCol: String,
                      query: Seq[Double], k: Int, nbits: Int = 16,
                      bands: Int = 4, seed: Long = 42L): DataFrame = {
    sigs.filter(lshBandMatch(query, nbits, bands, seed))
      .withColumn("score", round(v_cosine(col(vecCol), vec(query)), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The per-band LSH index layout — the multi-hash-table form every
    * production LSH serves from: one row per (band, bandkey, id), meant
    * to be written `partitionBy("band", "bandkey")`. A query then reads
    * exactly `bands` partitions (its own band keys) via literal partition
    * pruning, so the band match costs bands/2^(nbits/bands) of the index
    * FILES instead of a full-signature scan filter
    * ([[searchLshStored]]'s plan) — at 100 TB the difference between
    * `bands` point lookups and touching every stored signature. Storage
    * is bands x the id column only; vectors stay in the corpus table and
    * just the candidate ids join back for the exact rerank.
    */
  def lshBandIndex(sigs: DataFrame, idCol: String, nbits: Int = 16,
                   bands: Int = 4): DataFrame = {
    require(nbits % bands == 0)
    val r = nbits / bands
    val mask = (1L << r) - 1
    sigs.select(col(idCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("bucket"), b * r).bitwiseAND(lit(mask)).as("bandkey"))): _*))
        .as("bk"))
      .select(col("bk.band").as("band"), col("bk.bandkey").as("bandkey"),
        col(idCol))
  }

  /** Serve a query from the partition-pruned per-band index: the
    * driver-computed signature becomes `bands` literal (band, bandkey)
    * predicates — pure partition pruning on the [[lshBandIndex]] layout —
    * then the (bucket-volume-bounded) candidate id set broadcasts into a
    * semi-join against the corpus for the exact-cosine rerank. Same
    * result contract as [[searchLshStored]], different cost shape: no
    * full-index scan anywhere in the plan.
    */
  def searchLshStoredPartitioned(bandIndex: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 query: Seq[Double], k: Int, nbits: Int = 16,
                                 bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(nbits % bands == 0)
    val r = nbits / bands
    val mask = (1L << r) - 1
    val qSig = lshSignatureOf(query, nbits, seed)
    val pruned = (0 until bands).map(b =>
      col("band") === b && col("bandkey") === lit((qSig >>> (b * r)) & mask))
      .reduce(_ || _)
    val cands = bandIndex.filter(pruned).select(col(idCol)).distinct()
    corpus.join(broadcast(cands), Seq(idCol), "left_semi")
      .withColumn("score", round(v_cosine(col(vecCol), vec(query)), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The query's probe keys for band `b` under 1-bit multiprobe: its own
    * band key plus every single-bit flip of it. A vector one hyperplane
    * away from the query disagrees in exactly one signature bit, so
    * probing Hamming-1 band keys recovers most near misses — recall rises
    * without growing the index at all, at the cost of `1 + nbits/bands`
    * point lookups per band instead of 1.
    */
  def multiprobeKeys(qSig: Long, b: Int, rowsPerBand: Int): Seq[Long] = {
    val mask = (1L << rowsPerBand) - 1
    val base = (qSig >>> (b * rowsPerBand)) & mask
    base +: (0 until rowsPerBand).map(j => base ^ (1L << j))
  }

  /** Multiprobe serving over the same [[lshBandIndex]] layout: each band
    * contributes its own key AND its Hamming-1 neighbors as literal
    * partition predicates — still pure partition pruning (bands * (1 + r)
    * point lookups), still zero signature scans, wider candidate set,
    * exact-cosine rerank unchanged. The standard recall/latency dial of a
    * served LSH index (probe more buckets instead of storing more
    * tables).
    */
  def searchLshStoredMultiprobe(bandIndex: DataFrame, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                query: Seq[Double], k: Int, nbits: Int = 16,
                                bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(nbits % bands == 0)
    val r = nbits / bands
    val qSig = lshSignatureOf(query, nbits, seed)
    val pruned = (0 until bands).map(b =>
      col("band") === b &&
        col("bandkey").isin(multiprobeKeys(qSig, b, r): _*))
      .reduce(_ || _)
    val cands = bandIndex.filter(pruned).select(col(idCol)).distinct()
    corpus.join(broadcast(cands), Seq(idCol), "left_semi")
      .withColumn("score", round(v_cosine(col(vecCol), vec(query)), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** k-NN GRAPH tier — the graph-based serving topology of the HNSW
    * family, built relationally: LSH band buckets propose candidate
    * edges (never all-pairs), each node keeps its top-`m` neighbors by
    * exact rounded cosine (id tiebreak), and the adjacency table is the
    * stored artifact queries expand through. Build cost: one banded
    * shuffle + bucket-local pair expansion + a per-node window — the
    * same shapes as the LSH dedup path, so it scales the same way.
    * Returns (src, nbr, sim).
    */
  def buildKnnGraph(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    m: Int, nbits: Int = 16, bands: Int = 4,
                    seed: Long = 42L): DataFrame = {
    require(m >= 1, s"buildKnnGraph needs m >= 1, got $m")
    require(bands >= 1 && nbits % bands == 0,
      s"nbits must divide into bands, got nbits=$nbits bands=$bands")
    val r = nbits / bands
    val mask = (1L << r) - 1
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = lshBuckets(base, "v", dim, nbits, seed)
      .select(col("id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("bucket"), b * r).bitwiseAND(lit(mask)).as("bandkey"))): _*))
        .as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bandkey").as("bandkey"))
    val ids = col("ids")
    val undirected = banded.groupBy(col("band"), col("bandkey"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(ids) > 1)
      .select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          b => struct(a.as("src"), b.as("nbr")))))).as("p"))
      .select(col("p.src"), col("p.nbr"))
      .distinct()
    val pairs = undirected
      .union(undirected.select(col("nbr").as("src"), col("src").as("nbr")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("nbr").asc)
    pairs
      .join(base.select(col("id").as("src"), col("v").as("__sv")), "src")
      .join(base.select(col("id").as("nbr"), col("v").as("__nv")), "nbr")
      .withColumn("sim", round(v_cosine(col("__sv"), col("__nv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select(col("src"), col("nbr"), col("sim"))
  }

  /** NN-DESCENT refinement of a k-NN adjacency (Dong et al.'s
    * neighbors-of-neighbors iteration, the build loop behind the NSG/
    * HNSW-quality graph family): each round proposes every 2-step
    * neighbor through the UNDIRECTED view of the current graph (my
    * neighbor's neighbor is likely my neighbor), unions the standing
    * edges, and keeps each node's exact top-`m` by rounded cosine.
    * The LSH-proposed adjacency [[buildKnnGraph]] returns is the seed;
    * its recall ceiling is set by bucket collisions — descent rounds
    * recover edges LSH never proposed, at one bounded self-join + one
    * per-node window per round (candidates <= (2m)^2 per node — NEVER
    * all-pairs). Lineage is cut per round (localCheckpoint) like the
    * connected-components loop.
    */
  def nnDescent(adj: DataFrame, df: DataFrame, idCol: String, vecCol: String,
                m: Int, rounds: Int = 1): DataFrame = {
    require(rounds >= 1, s"nnDescent needs rounds >= 1, got $rounds")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cur = adj.select(col("src"), col("nbr"), col("sim"))
    for (_ <- 1 to rounds) {
      val und = cur.select(col("src"), col("nbr"))
        .union(cur.select(col("nbr").as("src"), col("src").as("nbr")))
      val cands = und.as("a")
        .join(und.as("b"), col("a.nbr") === col("b.src"))
        .select(col("a.src").as("src"), col("b.nbr").as("nbr"))
        .filter(col("src") =!= col("nbr"))
        .distinct()
        .union(cur.select(col("src"), col("nbr")))
        .distinct()
      val w = Window.partitionBy(col("src"))
        .orderBy(col("sim").desc, col("nbr").asc)
      cur = cands
        .join(base.select(col("id").as("src"), col("v").as("__sv")), "src")
        .join(base.select(col("id").as("nbr"), col("v").as("__nv")), "nbr")
        .withColumn("sim", round(v_cosine(col("__sv"), col("__nv")), 6))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= m)
        .select(col("src"), col("nbr"), col("sim"))
        .localCheckpoint()
    }
    cur
  }

  /** Serve from the k-NN graph: LSH band match picks `entryK` entry
    * points (exact-scored), each hop through the adjacency table widens
    * the candidate set, and the union reranks exactly. Entry ids and the
    * expanded candidate set are both model-sized -> broadcast; the corpus
    * is touched only by the band filter and the final semi-join, never
    * shuffled. Production graph-ANN pays one adjacency lookup per hop,
    * exactly this shape.
    *
    * `beam <= 0` (the default) unions every neighbor each hop — width
    * grows as entryK * m^hops, fine for 1-2 hops. `beam > 0` switches to
    * BEAM-PRUNED expansion: each hop keeps only the top-`beam` unvisited
    * neighbors ranked by an approximate score max(frontier_score *
    * stored_sim) computed purely from the adjacency's stored similarities
    * — no vector is touched during expansion, and the visited set grows
    * by at most `beam` per hop, so deep walks (hops >= 3) stay
    * model-sized instead of geometric. The frontier is driver-side model
    * state (<= entryK + beam*hops ids); each hop is one literal-IN-pruned
    * pass over the adjacency collecting <= |frontier| * m rows. Ties in
    * the approximate ranking break on the id's string form (the
    * adjacency's sims are rounded to 6 dp, so products are reproducible
    * across engines).
    */
  def searchKnnGraph(adj: DataFrame, sigs: DataFrame, idCol: String,
                     vecCol: String, query: Seq[Double], k: Int,
                     entryK: Int, hops: Int = 1, nbits: Int = 16,
                     bands: Int = 4, seed: Long = 42L,
                     beam: Int = 0): DataFrame = {
    require(k >= 1 && entryK >= 1 && hops >= 1,
      s"searchKnnGraph needs k, entryK, hops >= 1, " +
        s"got k=$k entryK=$entryK hops=$hops")
    val rerank = (candSigs: DataFrame) =>
      candSigs
        .withColumn("score", round(v_cosine(col(vecCol), vec(query)), 6))
        .select(col(idCol), col("score"))
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k)
    if (beam <= 0) {
      val entries = searchLshStored(sigs, idCol, vecCol, query, entryK,
        nbits, bands, seed).select(col(idCol).as("__eid"))
      // frontier expansion: each hop is one adjacency lookup over a
      // broadcast (model-sized) frontier — width <= entryK * m^hops
      var cands = entries.select(col("__eid").as(idCol)).distinct()
      for (_ <- 1 to hops) {
        val hop = adj.join(broadcast(cands.select(col(idCol).as("__eid"))),
          col("src") === col("__eid"))
          .select(col("nbr").as(idCol))
        cands = cands.union(hop).distinct()
      }
      rerank(sigs.join(broadcast(cands), Seq(idCol), "left_semi"))
    } else {
      val entries = searchLshStored(sigs, idCol, vecCol, query, entryK,
        nbits, bands, seed).collect().toSeq
        .map(r => (r.get(0), r.getDouble(1)))
      rerank(sigs.filter(col(idCol).isin(
        beamVisited(adj, entries, hops, beam).toSeq: _*)))
    }
  }

  /** Beam-pruned frontier expansion from an EXPLICIT entry set — the
    * serve core shared by [[searchKnnGraph]] (LSH entries) and
    * [[searchKnnGraphLayered]] (upper-layer greedy entries). The per-hop
    * collect is bounded model state (|frontier| * m adjacency rows), not
    * a data pass; the adjacency read prunes on a literal IN over the
    * frontier ids. Returns the visited-id set the exact rerank fetches.
    */
  private def beamVisited(adj: DataFrame, entries: Seq[(Any, Double)],
                          hops: Int, beam: Int): Set[Any] = {
    var frontier: Seq[(Any, Double)] = entries
    var visited: Set[Any] = frontier.map(_._1).toSet
    for (_ <- 1 to hops if frontier.nonEmpty) {
      val fScores = frontier.toMap
      val rows = adj
        .filter(col("src").isin(frontier.map(_._1): _*) &&
          !col("nbr").isin(visited.toSeq: _*))
        .select(col("src"), col("nbr"), col("sim"))
        .collect()
      frontier = rows.groupBy(_.get(1)).toSeq
        .map { case (nbr, rs) =>
          (nbr, rs.map(r => fScores(r.get(0)) * r.getDouble(2)).max)
        }
        .sortBy { case (id, s) => (-s, String.valueOf(id)) }
        .take(beam)
      visited ++= frontier.map(_._1)
    }
    visited
  }

  /** The HNSW-style sampled ENTRY LAYER of a corpus: the `sampleN` ids
    * with the SMALLEST seeded md5 hash (the [[graft.ops.Search]] random-
    * sample permutation — deterministic on any engine), with vectors —
    * a ~N/f upper layer whose greedy descent replaces LSH entry points.
    * Model-sized read: TakeOrdered by a map-side hash, never a full sort
    * materialization.
    */
  def entryLayer(df: DataFrame, idCol: String, vecCol: String,
                 sampleN: Int, seed: Long = 42L): DataFrame = {
    require(sampleN >= 1, s"entryLayer needs sampleN >= 1, got $sampleN")
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(md5(concat(col("id"), lit(s"#hnsw$seed"))), col("id"))
      .limit(sampleN)
  }

  /** EXACT top-`m` adjacency of a MODEL-SIZED layer (the HNSW upper
    * layer: ~N/f sampled nodes): all-pairs rounded cosine + per-node
    * window. Quadratic in the layer size BY DESIGN — correct for the
    * sampled entry layer ([[entryLayer]]'s ~√N), never for a corpus; a
    * corpus-sized layer uses [[buildKnnGraph]] + [[nnDescent]] instead.
    *
    * GUARDED against misuse: the layer must fit `maxRows` (default
    * 65,536 — 4B scored pairs, the outer edge of a sane all-pairs job)
    * or the call refuses BEFORE launching the crossJoin; a caller who
    * has priced a bigger layer raises `maxRows` explicitly — the same
    * opt-in discipline as the LSH brute fallbacks. The count is one
    * cheap action against a frame the crossJoin would scan anyway.
    */
  def exactKnnGraph(df: DataFrame, idCol: String, vecCol: String,
                    m: Int, maxRows: Long = 65536L): DataFrame = {
    require(m >= 1, s"exactKnnGraph needs m >= 1, got $m")
    // clamp below Int.MaxValue BEFORE the +1: an explicit opt-in of
    // maxRows >= Int.MaxValue must skip the cheap pre-count (limit can't
    // express it), not overflow limit() into a negative argument
    val n =
      if (maxRows >= Int.MaxValue.toLong) df.count()
      else df.limit(maxRows.toInt + 1).count()
    require(n <= maxRows,
      s"exactKnnGraph is quadratic by design and meant for a MODEL-SIZED " +
        s"sampled layer: got > $maxRows rows. Use buildKnnGraph + " +
        s"nnDescent for corpus-sized layers, or raise maxRows explicitly " +
        s"after pricing the all-pairs job.")
    val a = df.select(col(idCol).as("src"), col(vecCol).as("__sv"))
    val b = df.select(col(idCol).as("nbr"), col(vecCol).as("__nv"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("nbr").asc)
    a.crossJoin(b).filter(col("src") =!= col("nbr"))
      .withColumn("sim", round(v_cosine(col("__sv"), col("__nv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select(col("src"), col("nbr"), col("sim"))
  }

  /** Layered serve over a kNN graph — HNSW's hierarchy collapsed to the
    * two layers a DISTRIBUTED serve can actually exploit: the sampled
    * upper layer is scored IN FULL against the query (it is model-sized
    * by construction, exactly like IVF's centroid table — ~N/f rows, one
    * tiny scan), the best `entryE` upper nodes plus their stored upper
    * neighbors seed [[searchKnnGraph]]'s beam expansion on the base
    * `adj` (HNSW's ef-seeding). Entry QUALITY replaces entry QUANTITY:
    * the coarse scan lands in the query's cluster every time, where
    * LSH's hash-collision entries miss whole clusters (the recall probe
    * measures both). A greedy walk on the upper adjacency was measured
    * NON-NAVIGABLE on the clustered fixture — cross-cluster cosine ~ 0
    * gives the walk no gradient (recallc rows fell to 0.07-0.22 vs the
    * coarse scan's parity-or-better) — so the entry stage is the scan;
    * the public HNSW recipe regains navigability only with its full
    * log-N insertion-order hierarchy, which a batch-built layer lacks.
    * Visited budget: entryE·(1 + mUpper) entries + hops·beam expansion,
    * directly comparable to the LSH-entry rows.
    */
  def searchKnnGraphLayered(adj: DataFrame, upperAdj: DataFrame,
                            sample: DataFrame, sigs: DataFrame,
                            idCol: String, vecCol: String,
                            query: Seq[Double], k: Int, entryE: Int = 1,
                            hops: Int = 1, beam: Int = 8): DataFrame = {
    require(k >= 1 && entryE >= 1 && hops >= 1 && beam >= 1,
      s"searchKnnGraphLayered needs k, entryE, hops, beam >= 1")
    val scored = sample
      .withColumn("__sc", round(v_cosine(col("v"), vec(query)), 6))
    val best = scored
      .orderBy(col("__sc").desc, col("id").asc)
      .select(col("id"), col("__sc")).limit(entryE).collect()
      .map(r => (r.get(0), r.getDouble(1))).toSeq
    val nbrs = scored
      .join(upperAdj.filter(col("src").isin(best.map(_._1): _*))
        .select(col("nbr").as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("__sc")).collect()
      .map(r => (r.get(0), r.getDouble(1))).toSeq
    val entries: Seq[(Any, Double)] = (best ++ nbrs)
      .groupBy(_._1).view.mapValues(_.head._2).toSeq
    val visited = beamVisited(adj, entries, hops, beam)
    sigs.filter(col(idCol).isin(visited.toSeq: _*))
      .withColumn("score", round(v_cosine(col(vecCol), vec(query)), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------- insertion-order HNSW, built PER SEGMENT -------

  /** TRUE insertion-order HNSW, the way a distributed serving system
    * actually runs it: ONE sequential graph PER SEGMENT (the per-shard/
    * per-segment model of production vector backends — the reference's
    * backend builds exactly this inside each shard), built inside one
    * task per segment with the full log-N hierarchy the batch-built
    * layered entry lacks (geometric level draw, greedy descent from the
    * top layer, efConstruction beam per layer, bidirectional links
    * pruned to mMax). Queries fan out to every segment's graph and the
    * per-segment top-k pages merge — the same scatter shape as the
    * sharded store, so the serve parallelizes while each graph keeps
    * the insertion-order navigability the recallc2 fixture showed the
    * batch family losing (0.05-0.275 recall at 20k x d256).
    *
    * Segment assignment is a seeded hash of the id (deterministic on
    * any engine), insertion order a seeded md5 permutation WITHIN the
    * segment (the randomized insertion order the HNSW paper prescribes),
    * and the level draw floor(-ln(u) * 1/ln(m)) on a seeded md5 uniform
    * — the whole build is deterministic, re-running it reproduces the
    * graph bit for bit (spec-pinned).
    *
    * Scale shape: each segment builds sequentially in ITS task (HNSW
    * insertion is inherently sequential — parallelism comes from
    * segments, exactly like real per-segment indexes), memory is one
    * segment's vectors + adjacency, and `numSegments` is the dial that
    * keeps a segment inside one executor (corpus/numSegments rows each).
    *
    * Returns the edge table (seg, level, src, nbr) — model-sized:
    * <= sum over levels of mMax per node.
    */
  def buildHnsw(df: DataFrame, idCol: String, vecCol: String, m: Int = 16,
                efConstruction: Int = 64, numSegments: Int = 4,
                seed: Long = 42L, metric: String = "cosine"): DataFrame = {
    require(m >= 2, s"buildHnsw needs m >= 2, got $m")
    require(efConstruction >= m,
      s"efConstruction must be >= m, got $efConstruction < $m")
    require(numSegments >= 1, s"numSegments must be >= 1, got $numSegments")
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = df.select(
        HnswSegment.segCol(col(idCol), numSegments, seed).as("seg"),
        col(idCol).cast(StringType).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .as[(Int, String, Seq[Double])]
    assigned.groupByKey(_._1).flatMapGroups { (seg, it) =>
      val pts = it.map(t => (t._2, t._3.toArray)).toIndexedSeq
      HnswSegment.build(pts, m, efConstruction, seed, metric)
        .map { case (lvl, src, nbr) => (seg, lvl, src, nbr) }
    }.toDF("seg", "level", "src", "nbr")
  }

  /** Serve a top-k query over the per-segment HNSW graphs: the corpus
    * and the edge table cogroup BY SEGMENT (each task materializes one
    * segment's sub-graph — the per-segment memory model), every segment
    * runs the real greedy-descent + efSearch level-0 beam on ITS graph,
    * and the per-segment top-k pages merge exactly like the sharded
    * store's (raw-similarity order, id tiebreak, round for output).
    */
  def searchHnsw(df: DataFrame, edges: DataFrame, idCol: String,
                 vecCol: String, query: Seq[Double], k: Int,
                 efSearch: Int = 64, numSegments: Int = 4,
                 seed: Long = 42L,
                 accept: String => Boolean = _ => true,
                 metric: String = "cosine"): DataFrame = {
    require(k >= 1 && efSearch >= k,
      s"searchHnsw needs efSearch >= k >= 1, got k=$k efSearch=$efSearch")
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = df.select(
        HnswSegment.segCol(col(idCol), numSegments, seed).as("seg"),
        col(idCol).cast(StringType).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .as[(Int, String, Seq[Double])]
    val es = edges.select(col("seg").cast(IntegerType),
        col("level").cast(IntegerType), col("src"), col("nbr"))
      .as[(Int, Int, String, String)]
    val q = query.toArray
    assigned.groupByKey(_._1).cogroup(es.groupByKey(_._1)) { (_, ns, eIt) =>
      val pts = ns.map(t => (t._2, t._3.toArray)).toIndexedSeq
      val edgeSeq = eIt.map(t => (t._2, t._3, t._4)).toIndexedSeq
      HnswSegment.search(pts, edgeSeq, q, k, efSearch, seed, accept,
        metric).iterator
    }.toDF("id", "sim")
      .withColumn("score", round(col("sim"), 6))
      .orderBy(if (metric == "euclid") col("score").asc else col("score").desc,
        col("id").asc)
      .limit(k)
      .select(col("id"), col("score"))
  }
}

/** The sequential insertion-order HNSW core one SEGMENT runs — the
  * standard algorithm (Malkov & Yashunin 2016, the public recipe every
  * backend implements): geometric level draw, greedy descent through
  * the upper layers, efConstruction candidate beam per layer on the way
  * down, bidirectional links pruned to mMax (2m at level 0). All
  * randomness is seeded md5 over ids, so builds are deterministic.
  */
private[graft] object HnswSegment {

  /** Deterministic segment of an id — a column expression so the
    * assignment runs engine-side with no UDF.
    */
  def segCol(id: Column, numSegments: Int, seed: Long): Column =
    pmod(xxhash64(concat(id.cast(StringType), lit(s"#hnswseg$seed"))),
      lit(numSegments)).cast(IntegerType)

  /** The SAME seeded segment hash evaluated driver/store-side (the
    * incremental-insert path routes one upserted point without a Spark
    * job) — the Catalyst XxHash64 expression itself, so the two forms
    * cannot drift (spec-pinned equal to [[segCol]]).
    */
  def segOf(id: String, numSegments: Int, seed: Long): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"$id#hnswseg$seed"),
        org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, numSegments.toLong).toInt
  }

  private def md5Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Uniform (0, 1] from the first 8 md5 bytes — the level-draw seed. */
  private def uniform(s: String): Double = {
    val b = md5Bytes(s)
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (b(i) & 0xffL); i += 1 }
    ((x >>> 11).toDouble + 1.0) / 9007199254740993.0 // (0, 1], 53-bit
  }

  /** The geometric level draw: floor(-ln(u) / ln(m)), capped at 30. */
  def levelOf(id: String, m: Int, seed: Long): Int = {
    val u = uniform(s"$id#hnswlvl$seed")
    math.min(math.floor(-math.log(u) / math.log(m.toDouble)).toInt, 30)
  }

  /** PREFERENCE between two vectors under a metric: HIGHER = closer,
    * for every metric — euclid negates its distance so ONE ordering
    * drives every heap in the build and the walk. The magnitudes match
    * [[graft.sources.SearchSpec.score]]'s arithmetic (callers negate
    * back for euclid output).
    */
  private[graft] def pref(metric: String, va: Array[Double], na: Double,
                          vb: Array[Double], nb: Double): Double = {
    val n = math.min(va.length, vb.length)
    metric match {
      case "dot" =>
        var s = 0.0; var i = 0
        while (i < n) { s += va(i) * vb(i); i += 1 }
        s
      case "euclid" =>
        var s = 0.0; var i = 0
        while (i < n) { val d = va(i) - vb(i); s += d * d; i += 1 }
        -math.sqrt(s)
      case _ =>
        var s = 0.0; var i = 0
        while (i < n) { s += va(i) * vb(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else s / (na * nb)
    }
  }

  /** The seeded insertion-order sort key — shared by the full build and
    * the incremental insert so a batch of new points always enters in
    * the same (randomized, deterministic) order.
    */
  private def insKey(id: String, seed: Long): (Int, String) =
    (java.util.Arrays.hashCode(md5Bytes(s"$id#hnswins$seed")), id)

  /** The mutable per-segment graph state plus the paper's three
    * primitives (layer beam search, neighbor-select heuristic, per-point
    * insert) — one implementation driving BOTH the full build and the
    * incremental insert path, so an inserted point takes exactly the
    * code path a built point took.
    */
  private final class GraphBuilder(
      pts: IndexedSeq[(String, Array[Double])], m: Int, efC: Int,
      seed: Long, metric: String) {
    private val vecs = pts.map(_._2)
    private val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    def cos(a: Int, b: Int): Double =
      pref(metric, vecs(a), norms(a), vecs(b), norms(b))
    val levels: IndexedSeq[Int] =
      pts.indices.map(i => levelOf(pts(i)._1, m, seed))
    // adjacency per node per level (level 0..levels(i))
    val adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      Array.tabulate(pts.length)(i => Array.fill(levels(i) + 1)(
        scala.collection.mutable.ArrayBuffer.empty[Int]))
    var entry: Int = -1
    var entryLevel: Int = -1

    def searchLayer(qi: Int, eps: Seq[Int], lc: Int, ef: Int): Seq[Int] = {
      val visited = scala.collection.mutable.HashSet.empty[Int]
      // max-heap of candidates, min-heap of results; id tiebreaks keep
      // heap pop order deterministic
      implicit val byBest: Ordering[(Double, Int)] =
        Ordering.by(t => (t._1, pts(t._2)._1))
      val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)]
      val res = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](byBest.reverse)
      eps.foreach { e =>
        if (visited.add(e)) {
          val s = cos(qi, e)
          cand.enqueue((s, e)); res.enqueue((s, e))
          if (res.size > ef) { res.dequeue(): Unit }
        }
      }
      var done = false
      while (!done && cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        if (res.size >= ef && cs < res.head._1) done = true
        else {
          if (lc < adj(c).length) adj(c)(lc).foreach { nb =>
            if (visited.add(nb)) {
              val s = cos(qi, nb)
              if (res.size < ef || s > res.head._1) {
                cand.enqueue((s, nb)); res.enqueue((s, nb))
                if (res.size > ef) { res.dequeue(): Unit }
              }
            }
          }
        }
      }
      res.toSeq.sortBy(t => (-t._1, pts(t._2)._1)).map(_._2)
    }

    // the paper's SELECT-NEIGHBORS-HEURISTIC (Alg. 4) + keep-pruned-
    // connections: take candidates best-first, keep e only if it is
    // closer to q than to every neighbor already kept (diverse
    // directions instead of a one-sided clump), then fill back to the
    // budget from the discarded, best-first. This is what production
    // HNSW backends run; plain top-m loses recall on clustered data
    // and clumps the mMax prune.
    def selectNeighbors(q: Int, w: scala.collection.Seq[Int],
                        budget: Int): Seq[Int] = {
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      val cut = scala.collection.mutable.ArrayBuffer.empty[Int]
      w.foreach { e =>
        if (kept.size < budget) {
          if (kept.forall(x => cos(e, q) > cos(e, x))) kept += e
          else cut += e
        }
      }
      val it = cut.iterator
      while (kept.size < budget && it.hasNext) kept += it.next()
      kept.toSeq
    }

    /** The paper's INSERT: greedy descent above the node's level,
      * efConstruction beam per layer on the way down, bidirectional
      * links pruned to mMax.
      */
    def insert(i: Int): Unit = {
      val l = levels(i)
      if (entry < 0) { entry = i; entryLevel = l }
      else {
        var eps: Seq[Int] = Seq(entry)
        var lc = entryLevel
        while (lc > l) { // greedy descent above the node's level
          eps = searchLayer(i, eps, lc, 1).take(1)
          lc -= 1
        }
        var lvl = math.min(l, entryLevel)
        while (lvl >= 0) {
          val w = searchLayer(i, eps, lvl, efC)
          val neighbors = selectNeighbors(i, w, m)
          val mMax = if (lvl == 0) 2 * m else m
          neighbors.foreach { j =>
            adj(i)(lvl) += j
            adj(j)(lvl) += i
            if (adj(j)(lvl).length > mMax) {
              val cands = adj(j)(lvl).distinct
                .sortBy(x => (-cos(j, x), pts(x)._1))
              val pruned = selectNeighbors(j, cands, mMax)
              adj(j)(lvl).clear()
              adj(j)(lvl) ++= pruned
            }
          }
          eps = w
          lvl -= 1
        }
        if (l > entryLevel) { entry = i; entryLevel = l }
      }
    }

    /** One node's stored edge rows: (level, src, nbr). */
    def edgesOf(i: Int): Iterator[(Int, String, String)] =
      adj(i).indices.iterator.flatMap { lvl =>
        adj(i)(lvl).distinct.iterator.map(j => (lvl, pts(i)._1, pts(j)._1))
      }
  }

  /** Build one segment's graph; returns (level, src, nbr) edges. */
  def build(pts: IndexedSeq[(String, Array[Double])], m: Int, efC: Int,
            seed: Long, metric: String = "cosine"): Iterator[(Int, String, String)] = {
    if (pts.isEmpty) return Iterator.empty
    val g = new GraphBuilder(pts, m, efC, seed, metric)
    // randomized insertion order (seeded permutation) — the paper's
    // prescription against adversarial input order
    pts.indices.sortBy(i => insKey(pts(i)._1, seed)).foreach(g.insert)
    pts.indices.iterator.flatMap(g.edgesOf)
  }

  /** INCREMENTAL insert — the backend's online graph maintenance
    * (qdrant's HNSW is incremental by construction; the reference's
    * config thresholds, /root/reference/tests/bin/config.yaml:169-191,
    * exist precisely for it): reconstruct the segment's graph state
    * from its stored points + edges, run the SAME per-point insert loop
    * over the new points (seeded order within the batch), and return
    * ONLY the new nodes' edge rows — an append beside the stored edge
    * files.
    *
    * Reconstruction details, and why serve-side soundness holds:
    *  - levels recompute from the seeded level draw (deterministic per
    *    id), so no level metadata needs persisting;
    *  - the entry node is the max-level node (smallest id tiebreak) —
    *    any top-level node navigates; [[Graph]] derives the walk's
    *    entry the same way;
    *  - the insert loop may PRUNE an existing node's adjacency in
    *    memory, but stored base edges are immutable — only the new
    *    nodes' rows are appended. The served graph is therefore a
    *    SUPERGRAPH of the builder's state (never missing a link), and
    *    since [[search]] walks edges undirected, reachability only
    *    improves; degree can sit slightly above mMax near inserts until
    *    the next offline rebuild re-prunes (exactly the backend's
    *    optimizer role).
    */
  def insertInto(existing: IndexedSeq[(String, Array[Double])],
                 edges: IndexedSeq[(Int, String, String)],
                 added: IndexedSeq[(String, Array[Double])],
                 m: Int, efC: Int, seed: Long,
                 metric: String = "cosine"): Iterator[(Int, String, String)] = {
    if (added.isEmpty) return Iterator.empty
    if (existing.isEmpty) return build(added, m, efC, seed, metric)
    val pts = existing ++ added
    val g = new GraphBuilder(pts, m, efC, seed, metric)
    val idx = existing.iterator.map(_._1).zipWithIndex.toMap
    edges.foreach { case (lvl, s, t) =>
      (idx.get(s), idx.get(t)) match {
        case (Some(si), Some(ti)) if lvl < g.adj(si).length =>
          g.adj(si)(lvl) += ti
        case _ => // an edge of a dropped point — skip
      }
    }
    var e = 0
    var i = 1
    while (i < existing.length) {
      if (g.levels(i) > g.levels(e) ||
        (g.levels(i) == g.levels(e) && pts(i)._1 < pts(e)._1)) e = i
      i += 1
    }
    g.entry = e
    g.entryLevel = g.levels(e)
    val base = existing.length
    added.indices.sortBy(i => insKey(added(i)._1, seed))
      .foreach(i => g.insert(base + i))
    (base until pts.length).iterator.flatMap(g.edgesOf)
  }

  /** Serve one segment: greedy descent from the segment's top node,
    * efSearch beam at level 0, top-k (id, raw cosine) back — the page
    * the caller's merge consumes. The one-shot form: it builds a
    * [[Resident]] and walks it once; a store keeps the Resident.
    *
    * `accept` is the FILTERED-HNSW acceptance predicate (the backend's
    * filtrable-HNSW rule, /root/reference/tests/bin/config.yaml:169-191
    * fronts exactly this index): the walk NAVIGATES over every node —
    * rejected nodes still expand, keeping the graph connected under
    * sparse filters — but only accepted nodes enter the result beam, so
    * the returned page satisfies the filter by construction. Callers
    * widen `ef` by the inverse match fraction to hold recall as the
    * filter thins the graph.
    */
  def search(pts: IndexedSeq[(String, Array[Double])],
             edges: IndexedSeq[(Int, String, String)],
             query: Array[Double], k: Int, ef: Int,
             seed: Long,
             accept: String => Boolean = _ => true,
             metric: String = "cosine"): Seq[(String, Double)] =
    new Resident(pts, edges).search(query, k, ef, accept, metric)

  /** L2 norm of a vector — the cosine denominator, computed once per
    * point when a segment loads.
    */
  private def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)

  /** One segment as a store keeps it resident: vectors, their norms and
    * the walk-ready [[Graph]], all built once per load so a search
    * only walks.
    */
  final class Resident(val pts: IndexedSeq[(String, Array[Double])],
                       edges: IndexedSeq[(Int, String, String)]) {
    val norms: Array[Double] = pts.iterator.map(t => norm(t._2)).toArray
    val graph: Graph = Graph(pts.map(_._1), edges)

    def search(query: Array[Double], k: Int, ef: Int,
               accept: String => Boolean,
               metric: String): Seq[(String, Double)] = {
      if (pts.isEmpty) return Nil
      val qn = norm(query)
      val cosineMetric = metric != "dot" && metric != "euclid"
      // zero-norm cosine agrees with SearchSpec.score's None: such points
      // (and a zero query) cannot rank — both planner arms and the exact
      // paths drop them, so filtered serves never disagree on degenerate
      // corpora. They still NAVIGATE (pref scores them 0.0), keeping the
      // graph connected.
      if (cosineMetric && qn == 0.0) return Nil
      // the walk runs on PREFERENCE (higher = closer under any metric);
      // the returned score converts back to the metric convention
      def qs(i: Int): Double = pref(metric, pts(i)._2, norms(i), query, qn)
      val okId: Int => Boolean = i => accept(pts(i)._1) &&
        (!cosineMetric || norms(i) != 0.0)
      graph.walk(k, ef, okId, qs).map { case (j, s) =>
        (pts(j)._1, if (metric == "euclid") -s else s)
      }
    }
  }

  /** A segment's adjacency in walk-ready form, built once from its
    * stored edge rows: the id index, every (level, node)'s neighbours in
    * edge-row order, and the entry node. Immutable, so concurrent walks
    * share one instance.
    */
  final class Graph private (val ids: IndexedSeq[String],
                             adj: Array[Array[Array[Int]]],
                             entry: Int, entryLevel: Int) {

    /** The layered beam walk with an ARBITRARY node preference — the
      * shared core of [[Resident.search]] (full-precision vectors) and
      * the store's int8-code walk (the quantized serving tier, where
      * `qs` scores codes and full precision never loads). Returns
      * (node index, preference) pairs, best-first.
      */
    def walk(k: Int, ef: Int, okId: Int => Boolean,
             qs: Int => Double): Seq[(Int, Double)] = {
      if (ids.isEmpty) return Nil
      // `ok` gates RESULT admission only — rejected nodes still navigate
      // (enqueue as candidates when they would improve the beam), the
      // published filtered-HNSW traversal rule: connectivity survives a
      // sparse filter because the walk never prunes the graph itself
      def searchLayer(eps: Seq[Int], lc: Int, limit: Int,
                      ok: Int => Boolean): Seq[Int] = {
        val visited = new scala.collection.mutable.BitSet(ids.length)
        implicit val byBest: Ordering[(Double, Int)] =
          Ordering.by(t => (t._1, ids(t._2)))
        val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)]
        val res = scala.collection.mutable.PriorityQueue
          .empty[(Double, Int)](byBest.reverse)
        eps.foreach { e =>
          if (visited.add(e)) {
            val s = qs(e)
            cand.enqueue((s, e))
            if (ok(e)) {
              res.enqueue((s, e))
              if (res.size > limit) { res.dequeue(): Unit }
            }
          }
        }
        var done = false
        while (!done && cand.nonEmpty) {
          val (cs, c) = cand.dequeue()
          if (res.size >= limit && cs < res.head._1) done = true
          else {
            adj(lc)(c).foreach { nb =>
              if (visited.add(nb)) {
                val s = qs(nb)
                if (res.size < limit || s > res.head._1) {
                  cand.enqueue((s, nb))
                  if (ok(nb)) {
                    res.enqueue((s, nb))
                    if (res.size > limit) { res.dequeue(): Unit }
                  }
                }
              }
            }
          }
        }
        res.toSeq.sortBy(t => (-t._1, ids(t._2))).map(_._2)
      }
      val all: Int => Boolean = _ => true
      var eps: Seq[Int] = Seq(entry)
      var lc = entryLevel
      // descent navigates unfiltered: upper layers route, level 0 answers
      while (lc > 0) { eps = searchLayer(eps, lc, 1, all).take(1); lc -= 1 }
      val w = searchLayer(eps, 0, math.max(ef, k), okId)
      w.take(k).map(j => (j, qs(j)))
    }
  }

  object Graph {
    def apply(ids: IndexedSeq[String],
              edges: IndexedSeq[(Int, String, String)]): Graph = {
      val n = ids.length
      val idx = ids.iterator.zipWithIndex.toMap
      val resolved = edges.flatMap { case (lvl, s, t) =>
        for (si <- idx.get(s); ti <- idx.get(t)) yield (lvl, si, ti)
      } // an edge of a dropped point is skipped
      val levels = resolved.iterator.map(_._1 + 1).maxOption.getOrElse(1)
      // adjacency by (level, node), traversed UNDIRECTED: the build adds
      // links in both directions but the mMax prune can drop one side —
      // or, for an unlucky node, BOTH in-links — orphaning it from a
      // directed walk. Every node keeps the out-links of its own
      // insertion, so following edges both ways restores reachability
      // (degree at most doubles; the beam's ef still bounds work).
      val lists = Array.fill(levels)(
        new Array[scala.collection.mutable.ArrayBuilder.ofInt](n))
      def link(lvl: Int, a: Int, b: Int): Unit = {
        if (lists(lvl)(a) == null)
          lists(lvl)(a) = new scala.collection.mutable.ArrayBuilder.ofInt
        lists(lvl)(a) += b
      }
      resolved.foreach { case (lvl, si, ti) => link(lvl, si, ti); link(lvl, ti, si) }
      // the entry node: highest level any edge reaches it at (the graph
      // records the hierarchy), smallest id breaking ties
      val topAt = Array.tabulate(n)(i =>
        (levels - 1 to 1 by -1).find(l => lists(l)(i) != null).getOrElse(0))
      var entry = 0
      var i = 1
      while (i < n) {
        if (topAt(i) > topAt(entry) ||
          (topAt(i) == topAt(entry) && ids(i) < ids(entry))) entry = i
        i += 1
      }
      new Graph(ids,
        lists.map(_.map(b => if (b == null) Array.emptyIntArray else b.result())),
        entry, if (n == 0) 0 else topAt(entry))
    }
  }
}
