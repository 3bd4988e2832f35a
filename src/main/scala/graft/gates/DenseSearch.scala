package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.collections.Collections
import graft.functions._
import graft.ops.{Search, TextAnalysis}

/** §2.C dense vector search surface. */
private[graft] object DenseSearch {
  import Fixtures._

  val gates: Seq[Gate] = Seq(
    Gate("cosine_topk", (s, dir) =>
      Search.topKById(hom(s, dir).select("id", "vector"), "vector", "0", 10)
        .select("id", "score"),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("dot_topk", (s, dir) =>
      Search.topKById(hom(s, dir).select("id", "vector"), "vector", "1", 10,
        metric = "dot").select("id", "score"),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 1
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("euclid_topk", (s, dir) =>
      Search.topKById(hom(s, dir).select("id", "vector"), "vector", "2", 10,
        metric = "euclid").select("id", "score"),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 2)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(-list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 2
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the backend Distance enum's fourth metric (Cosine/Dot/Euclid are
    // declared in the reference's collections, e2e.rs:66,135,139;
    // Manhattan completes the public enum) — same codegen kernel family
    Gate("manhattan_topk", (s, dir) =>
      Search.topKById(hom(s, dir).select("id", "vector"), "vector", "3", 10,
        metric = "manhattan").select("id", "score"),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(-list_sum(list_transform(
        |           list_zip(CAST(e.embedding AS DOUBLE[]), q.qv),
        |           p -> ABS(p[1] - p[2]))), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 3
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    Gate("within_radius_agg", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("label", json_get_int(col("payload"), "label"))
        .filter(v_euclid(col("vector"), col("__qvec")) < lit(3.0))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.label AS BIGINT) AS label, COUNT(*) AS n
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0 AND list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) < 3.0
        |GROUP BY e.label ORDER BY label""".stripMargin),

    Gate("score_blend", (s, dir) => {
      val df = hom(s, dir)
      val q0 = qvecOf(df, "0", "__q0"); val q1 = qvecOf(df, "1", "__q1")
      df.filter(!col("id").isin("0", "1"))
        .crossJoin(broadcast(q0)).crossJoin(broadcast(q1))
        .withColumn("score", round(
          lit(0.7) * v_cosine(col("vector"), col("__q0")) +
            lit(0.3) * v_cosine(col("vector"), col("__q1")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(15)
    },
      """WITH q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        |     q1 AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 1)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(0.7 * list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q0.v)
        |           + 0.3 * list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q1.v), 6) AS score
        |FROM embeddings e, q0, q1 WHERE e.vec_id NOT IN (0, 1)
        |ORDER BY score DESC, id ASC LIMIT 15""".stripMargin),

    Gate("gauss_decay", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("decay",
          round(v_gauss_decay(v_euclid(col("vector"), col("__qvec")), lit(3.0)), 6))
        .select(col("id"), col("decay"))
        .orderBy(col("decay").desc, col("id").asc)
        .limit(20)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(exp(-0.6931471805599453 *
        |             pow(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) / 3.0, 2)), 6) AS decay
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY decay DESC, id ASC LIMIT 20""".stripMargin),

    // the other two decay kernels of the backend's formula family
    // (exp_decay / lin_decay; gauss_decay above) blended in one codegen
    // projection — same midpoint-0.5 convention, decay(scale) = 0.5
    Gate("decay_rescore", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("decay", round(
          lit(0.5) * v_exp_decay(v_euclid(col("vector"), col("__qvec")), lit(3.0)) +
            lit(0.5) * v_lin_decay(v_euclid(col("vector"), col("__qvec")), lit(3.0)), 6))
        .select(col("id"), col("decay"))
        .orderBy(col("decay").desc, col("id").asc)
        .limit(20)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(0.5 * exp(-0.6931471805599453 *
        |               ABS(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv)) / 3.0)
        |           + 0.5 * GREATEST(0.0, 1.0 -
        |               ABS(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv)) / (2.0 * 3.0)),
        |             6) AS decay
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY decay DESC, id ASC LIMIT 20""".stripMargin),

    // the backend's FORMULA query (score-boosting rescore: arbitrary
    // arithmetic over similarity, decay functions, and payload fields) —
    // re-expressed Spark-first: the Column algebra IS the formula
    // language, every term codegen'd in one projection. Weighted cosine
    // + gauss decay + payload-condition boost, ranked on the rounded
    // blend like the reference's rescore stage
    Gate("formula_rescore", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      df.filter(col("id") =!= "0").crossJoin(broadcast(q))
        .withColumn("score", round(
          lit(0.6) * v_cosine(col("vector"), col("__qvec")) +
            lit(0.3) * v_gauss_decay(
              v_euclid(col("vector"), col("__qvec")), lit(3.0)) +
            lit(0.1) * when(json_get_int(col("payload"), "label") <= 4,
              lit(1.0)).otherwise(lit(0.0)), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(15)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(0.6 * list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |             + 0.3 * exp(-0.6931471805599453 *
        |                   pow(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) / 3.0, 2))
        |             + 0.1 * (CASE WHEN e.label <= 4 THEN 1.0 ELSE 0.0 END), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, id ASC LIMIT 15""".stripMargin),

    Gate("random_sample", (s, dir) =>
      Search.randomSample(hom(s, dir), 20, seed = 42L).select("id"),
      """SELECT id FROM (SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings)
        |ORDER BY md5(id || '42'), id LIMIT 20""".stripMargin),

    // ~25% of every language stratum via a data-derived md5 permutation —
    // a pure map-side filter (no shuffle, no per-group state), exactly
    // reproducible in any engine (df.stat.sampleBy is per-partition RNG)
    Gate("stratified_sample", (s, dir) =>
      Search.stratifiedSample(docs(s, dir), "doc_id", "lang",
          fraction = 0.25, seed = 42L)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CAST(('0x' || substring(md5(lang || '|' || CAST(doc_id AS VARCHAR) || '42'), 1, 15)) AS UBIGINT) AS BIGINT)
        |      < 288230376151711744
        |ORDER BY doc_id""".stripMargin),

    // balanced training set: EXACTLY 40 docs per language by the same
    // engine-stable md5 draw (fractions keep skew; quotas equalize it)
    Gate("quota_sample", (s, dir) =>
      Search.quotaSample(docs(s, dir), "doc_id", "lang", n = 40, seed = 42L)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || '42'), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 40 ORDER BY doc_id""".stripMargin),

    // target-mixture rebalancing: per-source acceptance rates derived
    // from target weight / natural proportion (scaled so the
    // most-upweighted source keeps everything), accept decision via the
    // engine-stable md5 permutation — the data-mixing step of a training
    // pipeline, exactly reproducible at any layout
    Gate("mix_sources", (s, dir) =>
      Search.mixSources(docs(s, dir), "doc_id", "source",
          MixTargets, seed = 42L)
        .select(col("doc_id"), col("source")),
      // the mirror re-derives counts, ratios, and 60-bit thresholds with
      // the operator's exact double arithmetic (floor == toLong truncation
      // for positive rates), then applies the same md5-permutation accept
      {
      val vals = MixTargets.map { case (s0, w) =>
        s"('$s0', ${java.lang.Double.toString(w)}::DOUBLE)" }.mkString(", ")
      s"""WITH counts AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM counts),
         |tw(source, w) AS (VALUES $vals),
         |r AS (SELECT c.source, t.w / (c.c / tot.total) AS ratio
         |      FROM counts c JOIN tw t ON t.source = c.source, tot),
         |m AS (SELECT MAX(ratio) AS mr FROM r),
         |thr AS (SELECT source, CAST(floor((ratio / mr) * 1152921504606846976) AS BIGINT) AS thr
         |        FROM r, m)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN thr ON thr.source = d.source
         |WHERE CAST(CAST(('0x' || substring(md5(d.source || '|mix|' || CAST(d.doc_id AS VARCHAR) || '42'), 1, 15)) AS UBIGINT) AS BIGINT) < thr.thr
         |ORDER BY doc_id""".stripMargin
    }),

    // deterministic 80/10/10 split assignment: split = f(doc_id, seed),
    // stable under any partitioning/engine/rerun (dataset governance)
    Gate("split_assign", (s, dir) =>
      Search.assignSplit(docs(s, dir), "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), seed = 42L)
        .select(col("doc_id"), col("split")),
      {
      // thresholds computed by the SAME Scala arithmetic the operator uses
      val ts = graft.ops.Search.splitThresholds(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      s"""SELECT doc_id,
         |       CASE WHEN b < ${ts(0)} THEN 'train'
         |            WHEN b < ${ts(1)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |             CAST(CAST(('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR) || '42'), 1, 15)) AS UBIGINT) AS BIGINT) AS b
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // concat-then-chunk sequence packing: per-lang token stream sliced
    // into 1024-token training windows; docs carry the window their
    // first token lands in
    Gate("seq_pack", (s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
          "lang", budgetTokens = 1024L),
      """WITH t AS (SELECT lang, doc_id,
        |                  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                                 ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT lang, doc_id, n_tokens,
        |       CAST(cum - n_tokens AS BIGINT) AS token_offset,
        |       CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id
        |FROM c ORDER BY lang, doc_id""".stripMargin),

    // the END-TO-END ordering pipeline in one gate: Gopher quality
    // filter -> deterministic md5 training order -> token-budget packing
    // (the filter is map-side, the order+pack is ONE distributed range
    // sort + the partition-offset running sum — no global window)
    Gate("mix_pack", (s, dir) => {
      val kept = TextAnalysis.gopherFilter(docs(s, dir), "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"), col("n_tokens"))
      val hashed = kept.withColumn("__h",
        md5(concat(lit("mp:"), col("doc_id").cast(StringType))))
      graft.ops.Ranks.withRunningSum(hashed, "cum", col("n_tokens"),
          col("__h").asc, col("doc_id").asc)
        .withColumn("seq_id", expr("(cum - n_tokens) DIV 1024"))
        .select(col("doc_id"), col("cum"), col("seq_id"))
        .orderBy(col("doc_id"))
    },
      {
      val g = DuckMirror.gopherSql(minTokens = 50L, maxTokens = 5000L,
        minMeanLen = 3.0, maxMeanLen = 10.0, maxRep = 0.2)
      s"""WITH g AS (SELECT doc_id, n_tokens FROM ($g) WHERE keep),
         |c AS (SELECT doc_id, n_tokens,
         |             SUM(n_tokens) OVER (
         |               ORDER BY md5('mp:' || CAST(doc_id AS VARCHAR)), doc_id
         |               ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM g)
         |SELECT doc_id, CAST(cum AS BIGINT) AS cum,
         |       CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // packing-efficiency report over the seq_pack layout: per packed
    // sequence, doc count / token load / fill ratio vs the 1024 budget
    // (first-fit-by-offset packs may overflow where a doc straddles the
    // boundary — the fill column is the metric that says whether the
    // budget or the doc-length distribution needs tuning). One extra
    // partial-agg shuffle over the pack frame
    Gate("pack_stats", (s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
          "lang", budgetTokens = 1024L)
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .withColumn("fill", round(col("tokens") / lit(1024.0), 6))
        .orderBy(col("lang"), col("seq_id")),
      """WITH t AS (SELECT lang, doc_id,
        |                  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                                 ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t),
        |p AS (SELECT lang, CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id,
        |             n_tokens
        |      FROM c)
        |SELECT lang, seq_id, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / 1024.0, 6) AS fill
        |FROM p GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin),

    // context-window chunking: 16-token windows every 8 tokens (50%
    // overlap) — one map-side generate+explode, no shuffle
    Gate("chunk_docs", (s, dir) =>
      TextAnalysis.chunkDocs(docs(s, dir), "doc_id", "text",
          window = 16, stride = 8),
      """WITH t AS (SELECT doc_id,
        |                  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |             CAST(unnest(generate_series(0,
        |               CASE WHEN len(toks) <= 16 THEN 0
        |                    ELSE ((len(toks) - 16 + 7) // 8) * 8 END, 8)) AS INTEGER) AS start
        |      FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |       CAST(start // 8 AS INTEGER) AS chunk_id,
        |       start,
        |       CAST(len(toks[start + 1 : start + 16]) AS INTEGER) AS n_tokens,
        |       array_to_string(toks[start + 1 : start + 16], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // corpus vocabulary: top-50 tokens by occurrence with doc frequency;
    // two-level exact aggregation (map-side combine on (token, doc))
    Gate("vocab_topk", (s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text", k = 50),
      """WITH t AS (SELECT doc_id,
        |                  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |           FROM documents),
        |g AS (SELECT token, doc_id, COUNT(*) AS n FROM t GROUP BY 1, 2)
        |SELECT token, CAST(SUM(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY token
        |ORDER BY n DESC, token LIMIT 50""".stripMargin),

    // per-doc top-3 TF-IDF terms; integer micro-idf so the rank boundary
    // is exact cross-engine (corpus size folds into the job as a
    // broadcast one-row aggregate — no separate driver count pass)
    Gate("tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", perDoc = 3),
      """WITH t AS (SELECT doc_id,
        |                  unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
        |           FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT f.doc_id, f.token, f.tf,
        |             f.tf * CAST(floor(ln(CAST(n.n AS DOUBLE) / d.df) * 1000000 + 0.5) AS BIGINT) AS score_micro
        |      FROM tf f JOIN dft d USING (token), n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                  ORDER BY score_micro DESC, token) AS rank
        |      FROM s)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
        |       CAST(score_micro AS BIGINT) AS score_micro, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // V_SEARCH named-field form on the heterogeneous collection: score a
    // named vector column, NULL rows (points without that field) drop out
    Gate("named_field_search", (s, dir) => {
      val h = Collections.heterogeneous(s, dir)
      val q = h.filter(col("id") === "0").select(col("text_embedding").as("__qvec"))
      h.filter(col("id") =!= "0" && col("text_embedding").isNotNull)
        .crossJoin(broadcast(q))
        .withColumn("score", round(v_cosine(col("text_embedding"), col("__qvec")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 IN (0, 1)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // payload filter + vector search combo (tests.sql:56-59 shape)
    Gate("filtered_search", (s, dir) => {
      val df = hom(s, dir)
      val q = qvecOf(df, "0")
      df.filter(col("id") =!= "0" &&
          json_get_int(col("payload"), "label").isin(1, 2, 3))
        .crossJoin(broadcast(q))
        .withColumn("score", round(v_cosine(col("vector"), col("__qvec")), 6))
        .select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label IN (1, 2, 3)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the SQL path end-to-end: registered vector functions + scalar
    // subquery, transliterating the corpus's V_SEARCH call shape
    Gate("sql_vector_search", (s, dir) => {
      graft.functions.registerAll(s)
      hom(s, dir).createOrReplaceTempView("c")
      s.sql(
        """SELECT id, ROUND(v_cosine(vector,
          |         (SELECT vector FROM c WHERE id = '5')), 6) AS score
          |FROM c WHERE id <> '5'
          |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 5
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin),

    // the corpus's ->/->> JSON OPERATORS as real SQL syntax (tests.sql:
    // 56-58,219-224) via the injected GraftSqlParser: tight-form arrows
    // rewrite to json_get/json_as_text pre-delegation, chains nest —
    // requires the session built with spark.sql.extensions (Verify/Bench
    // are; ArrowSql + ExtensionsSpec pin the grammar rules)
    Gate("sql_arrow_ops", (s, dir) => {
      hom(s, dir).select(col("id"),
        to_json(struct(struct(
          json_get_int(col("payload"), "label").as("label")).as("meta")))
          .as("payload"))
        .createOrReplaceTempView("arrow_corpus")
      s.sql(
        """SELECT id, payload->'meta'->'label' AS label_json,
          |       payload->>'meta' AS meta_text
          |FROM arrow_corpus
          |WHERE payload->'meta'->>'label' = '7'
          |ORDER BY id""".stripMargin)
    },
      // arrow-operator semantics: ->'label' extracts the scalar as text,
      // ->>'meta' the nested object's raw JSON text (to_json formatting
      // matches Spark's, as the dsv2 payload oracles already rely on)
      """SELECT CAST(vec_id AS VARCHAR) AS id,
        |       CAST(label AS VARCHAR) AS label_json,
        |       to_json({'label': label}) AS meta_text
        |FROM embeddings WHERE label = 7 ORDER BY id""".stripMargin)
  )
}
