package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.Collections
import graft.functions._
import graft.ops.{Ann, Search, TextAnalysis}

/** §2.C sparse / multi-vector / composite pipelines. */
private[graft] object CompositeSearch {
  import Fixtures._

  val gates: Seq[Gate] = Seq(
    Gate("sparse_search", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (ki, kv) = sparseOf(col("embedding"))
      val base = e.select(col("vec_id").cast(StringType).as("id"),
        ki.as("ki"), kv.as("kv"))
      val q = base.filter(col("id") === "0")
        .select(col("ki").as("qi"), col("kv").as("qv"))
      base.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("score",
          round(v_sparse_dot(col("ki"), col("kv"), col("qi"), col("qv")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |             i -> CASE WHEN e.embedding[i] > 0 AND q.qv[i] > 0
        |                  THEN CAST(e.embedding[i] AS DOUBLE) * q.qv[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the SAME query served from the stored inverted dimension index
    // (SparseIndex): partition-pruned to the query dims' buckets, exact
    // ascending-dim fold — scores bit-identical to the kernel scan above,
    // so this gate shares sparse_search's brute-force oracle shape
    Gate("sparse_inverted_search", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (ki, kv) = sparseOf(col("embedding"))
      val qRow = e.filter(col("vec_id") === 0)
        .select(ki.as("ki"), kv.as("kv")).head()
      graft.ops.SparseIndex.searchPostings(sparseIndexStore(s, dir),
        qRow.getSeq[Int](0), qRow.getSeq[Double](1), k = 10, nBuckets = 16,
        excludeId = Some("0"))
    },
      // index-served sparse search is EXACT (ascending-dim fold = the
      // kernel's merge order), so the oracle is the same brute-force scan
      // as sparse_search — except docs with NO overlapping dim (dot = 0)
      // never enter the index result, so the oracle keeps positives only
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT * FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |               i -> CASE WHEN e.embedding[i] > 0 AND q.qv[i] > 0
        |                    THEN CAST(e.embedding[i] AS DOUBLE) * q.qv[i] ELSE 0.0 END)), 6) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |WHERE score > 0
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // sparse search under the IDF modifier (the backend's Modifier::Idf):
    // query values scaled by BM25-idf of each term's stored document
    // frequency, then the SAME sparse dot kernel — rare terms dominate.
    // The idf factors quantize at 1e-6 on both sides (vq6 recipe), so the
    // oracle re-derives them bit-identically from its own df counts
    Gate("sparse_idf_search", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (ki, kv) = sparseOf(col("embedding"))
      val base = e.select(col("vec_id").cast(StringType).as("id"),
        ki.as("ki"), kv.as("kv"))
      val qRow = base.filter(col("id") === "0")
        .select(col("ki"), col("kv")).head()
      Search.sparseIdfSearch(base, "id", "ki", "kv",
        qRow.getSeq[Int](0), qRow.getSeq[Double](1), k = 10)
    },
      // idf re-derived per dimension from the oracle's own document
      // frequencies; FLOOR(x*1e6 + 0.5)/1e6 mirrors the engine's
      // quantization, and the 0.0 CASE arms keep list_sum's ascending fold
      // bit-identical to the sparse kernel's merge order
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |idf AS (
        |  SELECT list(FLOOR(LN((t.n - t.nt + 0.5) / (t.nt + 0.5) + 1) * 1e6 + 0.5) / 1e6
        |              ORDER BY t.i) AS f
        |  FROM (SELECT r.i AS i,
        |               (SELECT COUNT(*) FROM embeddings e2 WHERE e2.embedding[r.i] > 0) AS nt,
        |               (SELECT COUNT(*) FROM embeddings) AS n
        |        FROM range(1, 65) r(i)) t)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |             i -> CASE WHEN e.embedding[i] > 0 AND q.qv[i] > 0
        |                  THEN CAST(e.embedding[i] AS DOUBLE) * (q.qv[i] * idf.f[i]) ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q, idf
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("colbert_maxsim", (s, dir) => {
      val e = hom(s, dir)
        .withColumn("multi", array(col("vector"), reverse(col("vector"))))
      val q = e.filter(col("id") === "0").select(col("multi").as("__qmulti"))
      e.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("score", round(v_maxsim(col("multi"), col("__qmulti")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q1,
        |                  CAST(list_reverse(embedding) AS DOUBLE[]) AS q2
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT id, ROUND(m1 + m2, 6) AS score FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q1),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q1)) AS m1,
        |         greatest(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.q2),
        |                  list_inner_product(CAST(list_reverse(e.embedding) AS DOUBLE[]), q.q2)) AS m2
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("recommend", (s, dir) =>
      Search.recommend(hom(s, dir), "vector",
        posIds = Seq("0", "1", "2"), negIds = Seq("3"), k = 10)
        .select("id", "score"),
      """WITH pc AS (SELECT list(x ORDER BY i) AS v FROM (
        |       SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS x
        |       FROM embeddings, range(1, 65) t(i) WHERE vec_id IN (0, 1, 2) GROUP BY i)),
        |     nc AS (SELECT list(x ORDER BY i) AS v FROM (
        |       SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS x
        |       FROM embeddings, range(1, 65) t(i) WHERE vec_id IN (3) GROUP BY i)),
        |     q AS (SELECT list_transform(range(1, 65), i -> pc.v[i] - nc.v[i]) AS qv FROM pc, nc)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id NOT IN (0, 1, 2, 3)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // vector-literal recommend (tests.sql:97-105): no id lookup at all —
    // the composite query is computed driver-side from the literal examples
    Gate("recommend_literal", (s, dir) =>
      Search.recommendVectors(hom(s, dir), "vector",
        posVecs = recLitPos, negVecs = recLitNeg, k = 10)
        .select("id", "score"),
      s"""WITH p1 AS (SELECT ${duckVecLit(recLitPos(0))} AS v),
         |     p2 AS (SELECT ${duckVecLit(recLitPos(1))} AS v),
         |     n1 AS (SELECT ${duckVecLit(recLitNeg(0))} AS v),
         |     q AS (SELECT list_transform(range(1, 65),
         |             i -> (p1.v[i] + p2.v[i]) / 2.0 - n1.v[i]) AS qv
         |           FROM p1, p2, n1)
         |SELECT CAST(e.vec_id AS VARCHAR) AS id,
         |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
         |FROM embeddings e, q
         |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // recommend with lookup_from: positive examples resolved from ANOTHER
    // collection's named vector field (the hetero collection's
    // text_embedding), scored over THIS collection — example resolution
    // is a bounded by-id fetch (2 rows), cross-collection like the
    // backend's lookup_from, so no example exclusion applies here
    Gate("recommend_lookup_from", (s, dir) => {
      val het = Collections.heterogeneous(s, dir)
      val pos = Seq("0", "3").map(id => het.filter(col("id") === id)
        .select(dvec(col("text_embedding"))).head().getSeq[Double](0).toSeq)
      Search.recommendVectors(hom(s, dir), "vector",
        posVecs = pos, negVecs = Nil, k = 10)
        .select("id", "score")
    },
      // lookup_from mirror: the hetero text_embedding of ids 0/3 IS the
      // embeddings row (vec_id % 3 = 0 subset), so the oracle averages the
      // base vectors directly; no exclusion (cross-collection examples)
      """WITH pc AS (SELECT list(x ORDER BY i) AS v FROM (
        |       SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS x
        |       FROM embeddings, range(1, 65) t(i) WHERE vec_id IN (0, 3) GROUP BY i))
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pc.v), 6) AS score
        |FROM embeddings e, pc
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // named-field recommend (tests.sql:107-114): same composition against a
    // heterogeneous named vector field (NULL on rows lacking the field)
    // with that field's declared metric (image_embedding -> dot)
    Gate("recommend_named", (s, dir) => {
      val h = Collections.heterogeneous(s, dir)
        .filter(col("image_embedding").isNotNull)
      Search.recommend(h, "image_embedding", posIds = Seq("1", "2"),
        negIds = Seq("4"), k = 10, metric = "dot").select("id", "score")
    },
      """WITH pc AS (SELECT list(x ORDER BY i) AS v FROM (
        |       SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS x
        |       FROM embeddings, range(1, 65) t(i) WHERE vec_id IN (1, 2) GROUP BY i)),
        |     nc AS (SELECT list(x ORDER BY i) AS v FROM (
        |       SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS x
        |       FROM embeddings, range(1, 65) t(i) WHERE vec_id IN (4) GROUP BY i)),
        |     q AS (SELECT list_transform(range(1, 65), i -> pc.v[i] - nc.v[i]) AS qv FROM pc, nc)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id % 3 IN (1, 2) AND e.vec_id NOT IN (1, 2, 4)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("discover", (s, dir) =>
      Search.discover(hom(s, dir), "vector", targetId = "0",
        context = Seq(("1", 0.5), ("2", -0.25)), k = 10),
      """WITH t AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |     c1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     c2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.v)
        |           + 0.5 * list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c1.v)
        |           + -0.25 * list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.v), 6) AS score
        |FROM embeddings e, t, c1, c2 WHERE e.vec_id NOT IN (0, 1, 2)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the target-less context form of the discovery API: pairwise
    // hinge score, 0 = inside every positive half-space
    Gate("context_search", (s, dir) =>
      Search.contextSearch(hom(s, dir), "vector",
        pairs = Seq(("1", "2"), ("3", "4")), k = 10),
      // left-assoc 0.0 + least(...) chain mirrors the foldLeft(lit(0.0))
      """WITH p1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     n1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 2),
        |     p2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 3),
        |     n2 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 4)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(0.0
        |           + least(0.0, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p1.v)
        |                      - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), n1.v))
        |           + least(0.0, list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p2.v)
        |                      - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), n2.v)), 6) AS score
        |FROM embeddings e, p1, n1, p2, n2 WHERE e.vec_id NOT IN (1, 2, 3, 4)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // MMR diversified top-k: engine kernels score the page + sim matrix,
    // the driver runs only the O(candidateK * k) greedy over that
    // model-state; the oracle re-derives the selection as unrolled CTEs
    Gate("mmr_select", (s, dir) =>
      Search.mmrSelect(homD(s, dir).filter(col("id") =!= "37"),
        "id", "vector",
        queryVector(s, dir, 37),
        k = 5, candidateK = 20, lambda = 0.7),
      DuckMirror.mmrSql(
      queryVecId = 37, k = 5, candidateK = 20, lambda = 0.7)),

    // per-label element-wise centroid as a DISTRIBUTED frame (nothing
    // collected): the Lloyd's-update DECIMAL arithmetic applied to
    // arbitrary groups — the oracle mirrors the quantize/sum/divide chain
    Gate("label_centroids", (s, dir) =>
      Ann.groupCentroids(
        Tables.load(s, dir, "embeddings")
          .select(col("label"), dvec(col("embedding")).as("v")),
        "label", "v"),
      """SELECT label, CAST(i AS INTEGER) AS d, count(*) AS n,
        |       ROUND(CAST(SUM(CAST(floor(v[i + 1] * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
        |             / count(*) / 1099511627776.0, 6) AS mean
        |FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |     range(0, 64) r(i)
        |GROUP BY label, i ORDER BY label, d""".stripMargin),

    // distribution drift between snapshots (even vs odd vec_ids standing
    // in for ingest v0/v1): per-label centroid cosine from exact integer
    // sums — vectors never shuffle, only (label, dim) partials
    Gate("centroid_drift", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), dvec(col("embedding")).as("v"))
      Ann.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "label", "v")
    },
      // floor(x * 2^40) HUGEINT sums (order-independent), then the same
      // (sum / n) / S division chain as the engine
      // the label_centroids mean arithmetic per snapshot, lifted to exact
      // 1e6-longs; dot/norms integer sums; one pinned float chain at the end
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ca AS (SELECT label, i AS d,
        |         CAST(floor(ROUND(CAST(SUM(CAST(floor(v[i + 1] * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
        |                          / count(*) / 1099511627776.0, 6) * 1000000.0 + 0.5) AS BIGINT) AS m
        |       FROM (SELECT * FROM e WHERE vec_id % 2 = 0), range(0, 64) r(i)
        |       GROUP BY label, i),
        |cb AS (SELECT label, i AS d,
        |         CAST(floor(ROUND(CAST(SUM(CAST(floor(v[i + 1] * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
        |                          / count(*) / 1099511627776.0, 6) * 1000000.0 + 0.5) AS BIGINT) AS m
        |       FROM (SELECT * FROM e WHERE vec_id % 2 = 1), range(0, 64) r(i)
        |       GROUP BY label, i)
        |SELECT ca.label,
        |       ROUND(CAST(SUM(ca.m * cb.m) AS DOUBLE)
        |             / sqrt(CAST(SUM(ca.m * ca.m) AS DOUBLE))
        |             / sqrt(CAST(SUM(cb.m * cb.m) AS DOUBLE)), 6) AS cos_sim
        |FROM ca JOIN cb ON ca.label = cb.label AND ca.d = cb.d
        |GROUP BY ca.label ORDER BY ca.label""".stripMargin),

    // rolling 3-event sum/count per user (ROWS frame): DECIMAL
    // accumulation makes the running sums engine-portable
    // daily volume anomaly: per event_type, each day's count as a
    // z-score vs that type's own daily distribution — variance from
    // EXACT integer moments, so the float score is engine-identical
    Gate("events_zscore", (s, dir) =>
      graft.ops.TimeSeries.dailyZScore(events(s, dir), "event_type", "ts"),
      // identical float op order: (x - s/n) / sqrt((s2 - s*s/n)/(n-1)),
      // every input an exact integer sum
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  COUNT(*) AS n_events
        |           FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |m AS (SELECT event_type, COUNT(*) AS mn,
        |             SUM(n_events) AS s, SUM(n_events * n_events) AS s2
        |      FROM d GROUP BY event_type)
        |SELECT d.event_type, d.day, CAST(d.n_events AS BIGINT) AS n_events,
        |       CASE WHEN m.mn > 1 AND
        |                 (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(mn AS DOUBLE)) / (CAST(mn AS DOUBLE) - 1.0) > 0
        |            THEN ROUND((CAST(d.n_events AS DOUBLE) - CAST(s AS DOUBLE) / CAST(mn AS DOUBLE)) /
        |                       sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(mn AS DOUBLE)) / (CAST(mn AS DOUBLE) - 1.0)), 6)
        |       END AS z
        |FROM d JOIN m USING (event_type)
        |ORDER BY event_type, day""".stripMargin),

    // the backend's datetime_range payload condition (gte/lt bounds on a
    // timestamp field): a plain codegen'd range predicate the parquet
    // reader receives as min/max-prunable PushedFilters — at 100 TB a
    // time-partitioned layout turns this into partition pruning for free
    Gate("datetime_range_agg", (s, dir) =>
      events(s, dir)
        .filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // the datetime INDEX: Qdrant's `field_schema: "datetime"` stores the
    // field as an integer timestamp and serves range conditions from the
    // index — here the integer payload index keyed on epoch-DAY, so the
    // range scan reads ONLY the matching value partitions (partition
    // pruning asserted in PlannerSpec); counts come straight from the
    // postings, the base table is never touched
    Gate("datetime_index_range", (s, dir) =>
      eventsDayIndex(s, dir).postings
        .filter(col("value").between(19732L, 19741L))
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"))
        .select(col("value").as("day"), col("n"))
        .orderBy(col("day")),
      """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |       COUNT(*) AS n
        |FROM events
        |WHERE CAST(ts AS DATE) - DATE '1970-01-01' BETWEEN 19732 AND 19741
        |GROUP BY 1 ORDER BY day""".stripMargin),

    // salted pseudonymization: map-side, joinability-preserving (same
    // salt → same pseudonym across tables), nothing reversible stored
    Gate("anonymize_ids", (s, dir) =>
      events(s, dir).select(col("event_id"),
        graft.ops.Privacy.pseudonym(col("user_id"), "s1").as("uid")),
      """SELECT event_id,
        |       substring(md5('s1' || '|' || CAST(user_id AS VARCHAR)), 1, 16) AS uid
        |FROM events ORDER BY event_id""".stripMargin),

    // k-anonymity release gate: rows whose (event_type, day) combo has
    // fewer than 60 peers are suppressed before export
    Gate("k_anon_filter", (s, dir) =>
      graft.ops.Privacy.kAnonSuppress(
          events(s, dir).select(col("event_id"), col("event_type"),
            to_date(col("ts")).as("day")),
          Seq("event_type", "day"), k = 60)
        .select(col("event_id"), col("event_type"), col("day")),
      """WITH r AS (SELECT event_id, event_type, CAST(ts AS DATE) AS day,
        |                  COUNT(*) OVER (PARTITION BY event_type, CAST(ts AS DATE)) AS n
        |           FROM events)
        |SELECT event_id, event_type, day FROM r WHERE n >= 60
        |ORDER BY event_id""".stripMargin),

    // median/MAD robust twin of events_zscore: a real incident can't
    // poison the baseline; exact medians are safe (groups = day counts)
    Gate("mad_outliers", (s, dir) =>
      graft.ops.TimeSeries.dailyRobustZScore(events(s, dir), "event_type", "ts"),
      // medians over integer day-counts are k or k+.5 — exact doubles —
      // so the single pinned float chain matches Spark bit-for-bit
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  COUNT(*) AS n_events
        |           FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |m AS (SELECT event_type, median(n_events) AS med FROM d GROUP BY event_type),
        |a AS (SELECT d.event_type, d.day, d.n_events, m.med,
        |             ABS(d.n_events - m.med) AS dev
        |      FROM d JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(dev) AS mad FROM a GROUP BY event_type)
        |SELECT a.event_type, a.day, CAST(a.n_events AS BIGINT) AS n_events,
        |       CASE WHEN md.mad > 0
        |            THEN ROUND((a.n_events - a.med) / (1.4826 * md.mad), 6)
        |       END AS robust_z
        |FROM a JOIN md USING (event_type)
        |ORDER BY event_type, day""".stripMargin),

    Gate("rolling_avg", (s, dir) =>
      graft.ops.TimeSeries.rollingSum(
        events(s, dir), "user_id", "ts", "event_id", "value", window = 3),
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS roll_sum,
        |       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n
        |FROM events ORDER BY event_id""".stripMargin),

    // corpus-LM quality proxy: average unigram log-probability per doc,
    // position-ordered fold so the float sum is layout-deterministic
    Gate("unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(docs(s, dir), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id,
        |                   list_filter(string_split_regex(lower(text), '\s+'),
        |                               x -> x <> '') AS ls
        |            FROM documents),
        |t AS (SELECT doc_id, unnest(ls) AS tok, unnest(range(0, len(ls))) AS pos FROM tk),
        |v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |n AS (SELECT count(*) AS total FROM t),
        |j AS (SELECT t.doc_id, t.pos, ln(CAST(v.cnt AS DOUBLE) / total) AS logp
        |      FROM t, v, n WHERE t.tok = v.tok),
        |a AS (SELECT doc_id, list(logp ORDER BY pos) AS lp FROM j GROUP BY doc_id)
        |SELECT doc_id, CAST(len(lp) AS INTEGER) AS n_toks,
        |       ROUND(list_reduce([0.0] || lp, (x, y) -> x + y) / len(lp), 6) AS avg_logprob
        |FROM a ORDER BY doc_id""".stripMargin),

    // add-alpha smoothed bigram LM fluency score (the rung above the
    // unigram proxy): heads/bigram counts are Zipf-small model frames
    // FIT OFFLINE (warmOffline, like NB/IVF) — the gate measures the
    // scoring pass; the per-doc sum folds in position order
    Gate("bigram_logprob", (s, dir) =>
      TextAnalysis.scoreBigramLm(bigramLm(s, dir), docs(s, dir),
        "doc_id", "text"),
      DuckMirror.bigramLmSql(alpha = 0.5)),

    // HELD-OUT LM eval: the model fits on the train split (doc_id%5!=0),
    // the held-out fifth is scored against it — unseen heads/bigrams hit
    // the add-alpha floor via left joins, so eval scores degrade
    // continuously instead of dropping rows
    Gate("lm_holdout", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.bigramLogProbAgainst(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
    },
      DuckMirror.bigramLmHoldoutSql(alpha = 0.5,
      modelPred = "doc_id % 5 <> 0", scorePred = "doc_id % 5 = 0")),

    // the LM score USED as a curation filter (the CCNet/KenLM recipe:
    // drop disfluent docs below a perplexity cut) — thresholding on the
    // ROUNDED score both engines compute identically, source joined back
    // for the downstream mixture ops
    Gate("perplexity_filter", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.scoreBigramLm(bigramLm(s, dir), d, "doc_id", "text")
        .filter(col("avg_logprob") >= -3.39)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("avg_logprob"))
        .orderBy(col("doc_id"))
    },
      DuckMirror.bigramLmFilterSql(alpha = 0.5, threshold = -3.39)),

    // DSIR data selection (Xie et al. 2023): score every raw doc by the
    // hashed-ngram log importance weight against a target subset
    // (doc_id % 7 == 0 as the "high-quality" stand-in). Models are
    // bucket-count aggregates (model state), scoring is one broadcast
    // join + per-doc ordered fold — the oracle re-derives hash, models,
    // and fold
    Gate("dsir_weights", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.Dsir.importanceWeights(
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", buckets = 4096)
    },
      // [0.0] || lp makes list_reduce the same 0.0-seeded left fold as the
      // engine's aggregate(_, 0.0, +); ln(cnt/total) is the identical
      // double on both engines (the bm25 idf precedent)
      DuckMirror.dsirSql(buckets = 4096, alpha = 0.5, mod = 7)),

    // trained document classifier (the DCLM/FineWeb-style curation
    // stage): multinomial NB over hashed n-gram buckets, trained on the
    // lang-labeled corpus (OFFLINE — warmOffline fits the model once,
    // like the IVF/PQ/BPE artifacts) and classifying the same corpus —
    // the gate measures the SERVING path: one feature pass, one
    // broadcast join against the (bucket -> class-weight array) model,
    // map-side argmax
    Gate("nb_classify", (s, dir) =>
      graft.ops.Classify.classify(docs(s, dir), nbModel(s, dir),
        "doc_id", "text"),
      DuckMirror.nbSql(buckets = 512, alpha = 0.5)),

    // the SAME classifier as one codegen projection: the weight table
    // collects (model state) and re-enters as a map literal — no join,
    // no shuffle, runs unchanged on an unbounded stream (StreamingSpec);
    // same oracle as nb_classify: the two serving forms are bit-equal
    Gate("nb_classify_map", (s, dir) =>
      graft.ops.Classify.classifyMapSide(docs(s, dir), nbModel(s, dir),
        "doc_id", "text"),
      DuckMirror.nbSql(buckets = 512, alpha = 0.5)),

    // geo_bounding_box filter over the synthetic (lat, lon) derivation
    // the haversine gate established — a pure map-side predicate
    Gate("geo_box", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          col("user_id").cast(DoubleType).as("lat"),
          (col("event_id") % 180).cast(DoubleType).as("lon"))
        .filter(graft.ops.Geo.inBoundingBox(col("lat"), col("lon"),
          south = 10, north = 40, west = 20, east = 60)),
      """SELECT event_id, CAST(user_id AS DOUBLE) AS lat,
        |       CAST(event_id % 180 AS DOUBLE) AS lon
        |FROM events
        |WHERE CAST(user_id AS DOUBLE) >= 10 AND CAST(user_id AS DOUBLE) <= 40
        |  AND CAST(event_id % 180 AS DOUBLE) >= 20 AND CAST(event_id % 180 AS DOUBLE) <= 60
        |ORDER BY event_id""".stripMargin),

    // the ANTIMERIDIAN form (west > east wraps — the backend's
    // geo_bounding_box convention when left lon > right lon): the
    // longitude condition becomes the OR of the two arcs
    Gate("geo_box_wrap", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          col("user_id").cast(DoubleType).as("lat"),
          ((col("event_id") % 360) - 180).cast(DoubleType).as("lon"))
        .filter(graft.ops.Geo.inBoundingBox(col("lat"), col("lon"),
          south = 0, north = 90, west = 150, east = -150)),
      """SELECT event_id, CAST(user_id AS DOUBLE) AS lat,
        |       CAST(event_id % 360 - 180 AS DOUBLE) AS lon
        |FROM events
        |WHERE CAST(user_id AS DOUBLE) >= 0 AND CAST(user_id AS DOUBLE) <= 90
        |  AND (CAST(event_id % 360 - 180 AS DOUBLE) >= 150
        |       OR CAST(event_id % 360 - 180 AS DOUBLE) <= -150)
        |ORDER BY event_id""".stripMargin),

    // the SAME box served from the stored geo-cell index: cover cells
    // partition-prune the scan (the geo payload index of the backend),
    // exact predicate inside — identical answer, index-shaped cost
    Gate("geo_cell_search", (s, dir) =>
      graft.ops.Geo.searchBox(Fixtures.geoStore(s, dir), "lat", "lon",
          south = 10, north = 40, west = 20, east = 60, bits = 4)
        .select(col("event_id"), col("lat"), col("lon")),
      // the pruned index path must return the plain filter's exact rows
      """SELECT event_id, CAST(user_id AS DOUBLE) AS lat,
        |       CAST(event_id % 180 AS DOUBLE) AS lon
        |FROM events
        |WHERE CAST(user_id AS DOUBLE) >= 10 AND CAST(user_id AS DOUBLE) <= 40
        |  AND CAST(event_id % 180 AS DOUBLE) >= 20 AND CAST(event_id % 180 AS DOUBLE) <= 60
        |ORDER BY event_id""".stripMargin),

    // geo_polygon filter: ray-cast containment, the SQL mirror GENERATED
    // from the same vertex list (Geo.polygonSql) so both engines run the
    // identical per-edge doubles
    Gate("geo_polygon", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          col("user_id").cast(DoubleType).as("lat"),
          (col("event_id") % 180).cast(DoubleType).as("lon"))
        .filter(graft.ops.Geo.pointInPolygon(col("lat"), col("lon"),
          Fixtures.GeoPoly)),
      s"""SELECT event_id, CAST(user_id AS DOUBLE) AS lat,
         |       CAST(event_id % 180 AS DOUBLE) AS lon
         |FROM events
         |WHERE ${graft.ops.Geo.polygonSql("CAST(user_id AS DOUBLE)",
                   "CAST(event_id % 180 AS DOUBLE)", GeoPoly)}
         |ORDER BY event_id""".stripMargin),

    Gate("rrf_fusion", (s, dir) => {
      val df = hom(s, dir).select("id", "vector")
      val b1 = Search.topKById(df, "vector", "0", 50, "cosine").select("id", "score")
      val b2 = Search.topKById(df, "vector", "1", 50, "dot").select("id", "score")
      Search.fuseRRF(Seq(b1, b2), k = 20)
    },
      """WITH q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |     q1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     b1 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM (
        |       SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q0.v), 6) AS score
        |       FROM embeddings e, q0 WHERE e.vec_id <> 0
        |       ORDER BY score DESC, id ASC LIMIT 50)),
        |     b2 AS (SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM (
        |       SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q1.v), 6) AS score
        |       FROM embeddings e, q1 WHERE e.vec_id <> 1
        |       ORDER BY score DESC, id ASC LIMIT 50))
        |SELECT COALESCE(b1.id, b2.id) AS id,
        |       ROUND(COALESCE(1.0 / (60 + b1.rn), 0) + COALESCE(1.0 / (60 + b2.rn), 0), 6) AS fused_score
        |FROM b1 FULL OUTER JOIN b2 ON b1.id = b2.id
        |ORDER BY fused_score DESC, id ASC LIMIT 20""".stripMargin),

    // the distribution-based alternative to RRF over the same branches:
    // per-branch 3-sigma normalization from EXACT micro-integer moments
    Gate("dbsf_fusion", (s, dir) => {
      val df = hom(s, dir).select("id", "vector")
      val b1 = Search.topKById(df, "vector", "0", 50, "cosine").select("id", "score")
      val b2 = Search.topKById(df, "vector", "1", 50, "dot").select("id", "score")
      Search.fuseDBSF(Seq(b1, b2), k = 20)
    },
      // micro-integer moments (exact BIGINT sums) -> identical double
      // normalization arithmetic on both engines
      """WITH q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |     q1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1),
        |     b1 AS (SELECT id, CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS si FROM (
        |       SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q0.v), 6) AS score
        |       FROM embeddings e, q0 WHERE e.vec_id <> 0
        |       ORDER BY score DESC, id ASC LIMIT 50)),
        |     b2 AS (SELECT id, CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS si FROM (
        |       SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |              ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q1.v), 6) AS score
        |       FROM embeddings e, q1 WHERE e.vec_id <> 1
        |       ORDER BY score DESC, id ASC LIMIT 50)),
        |     s1 AS (SELECT CAST(SUM(si) AS DOUBLE) / COUNT(*) AS mean,
        |                   CAST(SUM(si * si) AS DOUBLE) / COUNT(*) AS ex2 FROM b1),
        |     s2 AS (SELECT CAST(SUM(si) AS DOUBLE) / COUNT(*) AS mean,
        |                   CAST(SUM(si * si) AS DOUBLE) / COUNT(*) AS ex2 FROM b2),
        |     z1 AS (SELECT id, (CAST(si AS DOUBLE) - mean + 3.0 * sqrt(ex2 - mean * mean))
        |                       / (6.0 * sqrt(ex2 - mean * mean)) AS z FROM b1, s1),
        |     z2 AS (SELECT id, (CAST(si AS DOUBLE) - mean + 3.0 * sqrt(ex2 - mean * mean))
        |                       / (6.0 * sqrt(ex2 - mean * mean)) AS z FROM b2, s2)
        |SELECT COALESCE(z1.id, z2.id) AS id,
        |       ROUND(COALESCE(z1.z, 0.0) + COALESCE(z2.z, 0.0), 6) AS fused_score
        |FROM z1 FULL OUTER JOIN z2 ON z1.id = z2.id
        |ORDER BY fused_score DESC, id ASC LIMIT 20""".stripMargin),

    // Johnson–Lindenstrauss sign projection 64 -> 16: the projection
    // matrix is seeded ±1 literals (model state inlined — no broadcast,
    // no shuffle, fuses into the scan's codegen pass); oracle replays the
    // identical left-to-right fold bit-for-bit
    Gate("rand_projection", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.ops.Quant.projectColumn(e, "embedding", "__p", inDim = 64, outDim = 16)
        .select(col("vec_id") +:
          (0 until 16).map(j => element_at(col("__p"), j + 1).as(s"p$j")): _*)
    },
      DuckMirror.randProjectionSql(inDim = 64, outDim = 16)),

    // Matryoshka serving: 16-dim stored-prefix candidates (1/4 of the
    // bytes), full 64-dim exact rerank; oracle mirrors BOTH stages
    Gate("matryoshka_search", (s, dir) => {
      val corpus = hom(s, dir).select("id", "vector").filter(col("id") =!= "29")
      val qvec = queryVector(s, dir, 29)
      Search.matryoshkaSearch(
          Fixtures.storedPrefix(s, dir).filter(col("id") =!= "29"), corpus,
          "id", "vector", "v16", qvec, prefixDim = 16, k = 50, candidateK = 50)
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      // both stages mirrored: 16-dim prefix dot candidates, full rerank
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 29),
        |c AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |             CAST(e.embedding AS DOUBLE[]) AS v,
        |             list_inner_product(CAST(e.embedding AS DOUBLE[])[1:16], q.qv[1:16]) AS ps
        |      FROM embeddings e, q WHERE e.vec_id <> 29
        |      ORDER BY ps DESC, id ASC LIMIT 50)
        |SELECT c.id, ROUND(list_inner_product(c.v, q.qv), 6) AS score
        |FROM c, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("prefetch_rerank", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      val scored = df.filter(col("id") =!= "0").crossJoin(broadcast(q))
      val prefetch = scored
        .withColumn("ps", round(v_cosine(col("vector"), col("__qvec")), 6))
        .orderBy(col("ps").desc, col("id").asc).limit(100)
      prefetch
        .withColumn("score", round(v_dot(col("vector"), col("__qvec")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |     p AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |                  CAST(e.embedding AS DOUBLE[]) AS v,
        |                  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS ps
        |           FROM embeddings e, q WHERE e.vec_id <> 0
        |           ORDER BY ps DESC, id ASC LIMIT 100)
        |SELECT p.id, ROUND(list_inner_product(p.v, q.qv), 6) AS score
        |FROM p, q
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("batch_search", (s, dir) => {
      val corpus = hom(s, dir).select("id", "vector")
      val queries = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").cast(StringType).as("query_id"),
          col("embedding").as("qvec"))
      Search.batchTopK(corpus, col("vector"), queries, "query_id", "qvec", k = 5)
    },
      """SELECT * FROM (
        |  SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
        |         CAST(e.vec_id AS VARCHAR) AS id,
        |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id IN (0, 1, 2)) q
        |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY score DESC, id ASC) <= 5)
        |ORDER BY query_id ASC, score DESC, id ASC""".stripMargin),

    Gate("cte_semi", (s, dir) => {
      val df = hom(s, dir)
      val cand = Search.topKById(df.select("id", "vector"), "vector", "0", 100)
        .select("id")
      df.join(cand, Seq("id"), "left_semi")
        .withColumn("label", json_get_int(col("payload"), "label"))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |     p AS (SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |                  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |           FROM embeddings e, q WHERE e.vec_id <> 0
        |           ORDER BY score DESC, id ASC LIMIT 100)
        |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n
        |FROM embeddings WHERE CAST(vec_id AS VARCHAR) IN (SELECT id FROM p)
        |GROUP BY label ORDER BY label""".stripMargin)
  )
}
