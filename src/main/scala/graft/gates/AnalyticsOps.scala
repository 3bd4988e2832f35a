package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.ops.{Dedup, Search, TextAnalysis}

/** Corpus-analytics and layout operators beyond the per-document
  * pipeline: substring-span dedup, fuzzy dedup, link-graph scoring,
  * OLAP grouping forms, multi-dimensional layout, temperature mixing.
  */
private[graft] object AnalyticsOps {
  import Fixtures._

  val gates: Seq[Gate] = Seq(
    // substring-level dedup (Lee et al.): token 3-shingles occurring in
    // >= 2 docs mark duplicated ranges; touching ranges merge into maximal
    // spans per doc. Planted: whole-doc dups (full-doc spans) + the shared
    // tail phrase (tail spans) — output is token-index intervals
    Gate("dedup_spans", (s, dir) =>
      Dedup.duplicatedSpans(docsWithSharedPhrase(s, dir), "doc_id", "text",
        w = 3),
      s"""WITH ${DuckMirror.spanCtes(SharedPhrase)}
         |SELECT doc_id, span_start, span_end, span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // the corpus-health roll-up of dedup_spans: how much of each affected
    // document is duplicated text (span count, duplicated tokens, ratio)
    Gate("span_stats", (s, dir) =>
      Dedup.spanStats(docsWithSharedPhrase(s, dir), "doc_id", "text", w = 3),
      s"""WITH ${DuckMirror.spanCtes(SharedPhrase)},
         |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
         |SELECT sp.doc_id AS doc_id, COUNT(*) AS n_spans,
         |       CAST(SUM(sp.span_len) AS BIGINT) AS dup_tokens,
         |       nt.n_tokens AS n_tokens,
         |       ROUND(CAST(SUM(sp.span_len) AS DOUBLE) /
         |             CAST(nt.n_tokens AS DOUBLE), 6) AS dup_ratio
         |FROM spans sp JOIN nt ON sp.doc_id = nt.doc_id
         |GROUP BY sp.doc_id, nt.n_tokens ORDER BY doc_id""".stripMargin),

    // the actionable substring dedup: duplicated spans REMOVED, one copy
    // (the min-doc owner's) kept corpus-wide; output value-checks the
    // reconstruction via kept-token count + rolling-hash fingerprint —
    // planted whole-doc copies lose every token and drop out
    Gate("span_strip", (s, dir) =>
      Dedup.stripDuplicatedSpans(docsWithSharedPhrase(s, dir), "doc_id",
        "text", w = 3),
      DuckMirror.spanStripSql(SharedPhrase)),

    // fuzzy (edit-distance) dedup: Levenshtein <= 2 on 60-char prefixes
    // within (lang, source, 8-char-prefix) blocks — catches the planted
    // single-character typo variants exact/minhash dedup both miss
    Gate("dedup_fuzzy", (s, dir) =>
      Dedup.fuzzyPairs(docsWithTypos(s, dir), "doc_id", "text",
        Seq("lang", "source"), prefixLen = 8, capLen = 60, maxDist = 2),
      """WITH c AS (SELECT doc_id, text, lang, source FROM documents
        |           UNION ALL
        |           SELECT doc_id + 2000000,
        |                  substring(text, 1, 10) || '~' || substring(text, 12),
        |                  lang, source
        |           FROM documents WHERE doc_id % 7 = 0),
        |b AS (SELECT doc_id, substring(text, 1, 60) AS t,
        |             substring(text, 1, 8) AS blk, lang, source FROM c)
        |SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |       CAST(levenshtein(a.t, b2.t) AS BIGINT) AS dist
        |FROM b a JOIN b b2
        |  ON a.lang = b2.lang AND a.source = b2.source AND a.blk = b2.blk
        | AND a.doc_id < b2.doc_id
        |WHERE levenshtein(a.t, b2.t) <= 2
        |ORDER BY a_id, b_id""".stripMargin),

    // link-graph quality scoring: integer-scaled PageRank (5 iterations,
    // d=0.85) over the undirected supplier<->part co-purchase graph; ranks
    // are scaled longs updated with pure integer arithmetic, so the result
    // is layout/order/engine independent. The materialized edge model
    // (checkpointed adjacency + degrees) is the per-dir stored artifact
    // all graph gates share — the ivfStored pattern.
    Gate("pagerank_topk", (s, dir) =>
      graft.ops.Graph.pageRank(edgeModel(s, dir), iterations = 5)
        .orderBy(col("rank_scaled").desc, col("id").asc)
        .limit(10),
      DuckMirror.pageRankSql(iterations = 5)),

    // OLAP grouping forms over lineitem — DECIMAL-accumulated quantity so
    // the super-aggregate rows are order-independent; gid disambiguates
    // NULL group cells from NULL data. Execution shape: the corpus is
    // aggregated ONCE at the finest grouping (flag, status); every
    // super-aggregate re-aggregates that tiny base (exact: decimal sums
    // of decimal sums, long sums of counts — the same values CUBE/ROLLUP
    // compute through Expand). Expand would push 3-4 copies of EVERY raw
    // row through the partial aggregate (and cast each to decimal); the
    // base+reagg form does the per-row work once — one corpus exchange,
    // then group-count-sized re-aggs (the branches reuse the base
    // exchange). gid reconstructed per branch (kept=0 bit, aggregated=1;
    // flag is the high bit), matching grouping_id().
    Gate("rollup_agg", (s, dir) =>
      olapReagg(Tables.load(s, dir, "lineitem"), Seq(0L, 1L, 3L)),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    Gate("cube_agg", (s, dir) =>
      olapReagg(Tables.load(s, dir, "lineitem"), Seq(0L, 1L, 2L, 3L)),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    Gate("grouping_sets_agg", (s, dir) =>
      // GROUPING SETS ((flag), (status), ()) == the gid 1/2/3 branches,
      // no gid column in the declared output
      olapReagg(Tables.load(s, dir, "lineitem"), Seq(1L, 2L, 3L))
        .drop("gid"),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),

    // z-order (Morton) clustering evidence: rows keyed by the interleaved
    // 10+10-bit key of (l_partkey, l_suppkey) mod 1024; per 64-key bucket,
    // the bounding box of BOTH dimensions stays small — the file-skipping
    // property ZORDER BY layouts buy (the key expression is emitted by the
    // same Scala loop as the oracle's SQL)
    Gate("zorder_key", (s, dir) => {
      val x = (col("l_partkey") % 1024).cast(LongType)
      val y = (col("l_suppkey") % 1024).cast(LongType)
      Tables.load(s, dir, "lineitem")
        .select(graft.ops.Layout.zorderKey(x, y, 10).as("zkey"),
          x.as("x"), y.as("y"))
        .groupBy(shiftright(col("zkey"), 14).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    },
      {
      val z = graft.ops.Layout.zorderSql("l_partkey % 1024", "l_suppkey % 1024", 10)
      s"""WITH z AS (SELECT $z AS zkey,
         |                  l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |           FROM lineitem)
         |SELECT zkey >> 14 AS zbucket, COUNT(*) AS n,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
    }),

    // temperature-scaled source mixing (T=2): per-source quota
    // proportional to sqrt(count) — the multilingual-rebalancing rule —
    // with exact integer quotas and the md5 permutation picking rows
    Gate("temperature_sample", (s, dir) =>
      Search.temperatureSample(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source", k = 200, seed = 11L)
        .select("doc_id", "source"),
      """WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source,
        |             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS ssq
        |      FROM cnt),
        |t AS (SELECT CAST(SUM(ssq) AS BIGINT) AS tot FROM w),
        |q AS (SELECT source, (200 * ssq) // tot AS quota FROM w, t),
        |r AS (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY md5('temp|' || CAST(doc_id AS VARCHAR) || '11'),
        |                        doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // domain histogram over planted URLs — the crawl-side provenance
    // aggregate (dedup-by-domain, robots audits, domain mixing all start
    // here); regexp capture-group extraction is identical in both engines
    Gate("domain_counts", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" see https://site"),
              (col("doc_id") % 5).cast(StringType), lit(".example.org/page")))
            .otherwise(col("text")).as("text"))
        .select(regexp_extract(col("text"),
          "https://([a-z0-9.]+)/", 1).as("domain"))
        .filter(col("domain") =!= "")
        .groupBy(col("domain")).agg(count(lit(1)).as("n")),
      """WITH c AS (SELECT doc_id,
        |                  CASE WHEN doc_id % 3 = 0
        |                       THEN text || ' see https://site' ||
        |                            CAST(doc_id % 5 AS VARCHAR) || '.example.org/page'
        |                       ELSE text END AS text
        |           FROM documents),
        |d AS (SELECT regexp_extract(text, 'https://([a-z0-9.]+)/', 1) AS domain FROM c)
        |SELECT domain, COUNT(*) AS n FROM d WHERE domain <> ''
        |GROUP BY domain ORDER BY domain""".stripMargin),

    // per-user inter-event gap profile: lag() deltas in exact integer
    // MICROSECONDS (unix_micros — second-granularity epoch would have to
    // round the sub-second part, which engines do differently), aggregated
    // per user — the sessionization diagnostic; (ts, event_id) ordering
    // makes ties deterministic
    Gate("lead_lag", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("gap",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sum_gap_us"),
          max(col("gap")).as("max_gap_us"))
    },
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |       CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
        |       max(gap) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // conversion funnel view -> click -> purchase: each step's timestamp
    // must strictly follow the user's previous step (exact integer
    // microseconds); per-step reached-user counts — the product-analytics
    // shape over the events table. Per-user aggregates + user-keyed joins
    // (co-partitioned, no skew: one row per user per step).
    Gate("funnel_steps", (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("t") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("t") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
      v.agg(count(lit(1)).as("users")).select(lit("1_view").as("step"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users"))
          .select(lit("2_click").as("step"), col("users")))
        .unionByName(p.agg(count(lit(1)).as("users"))
          .select(lit("3_purchase").as("step"), col("users")))
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view'
        |      GROUP BY user_id),
        |c AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id)
        |SELECT '1_view' AS step, COUNT(*) AS users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p
        |ORDER BY step""".stripMargin),

    // retention cohorts: users bucketed by first-seen day, activity
    // counted per (cohort day, day offset) — all integer date arithmetic
    Gate("retention_cohorts", (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("d")).as("c0"))
      e.join(cohorts, "user_id")
        .groupBy(col("c0").cast(StringType).as("cohort"),
          datediff(col("d"), col("c0")).cast(LongType).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |co AS (SELECT user_id, min(d) AS c0 FROM e GROUP BY user_id)
        |SELECT CAST(c0 AS VARCHAR) AS cohort,
        |       date_diff('day', c0, d) AS day_offset,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM e JOIN co USING (user_id)
        |GROUP BY c0, date_diff('day', c0, d)
        |ORDER BY cohort, day_offset""".stripMargin),

    // degree distribution of the supplier<->part graph — the structural
    // sanity report run before any graph algorithm at scale (reads the
    // shared edge model's degree table)
    Gate("graph_degrees", (s, dir) =>
      edgeModel(s, dir).outdeg
        .select(col("outdeg").as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")),
      """WITH pr AS (SELECT DISTINCT l_suppkey AS sk, l_partkey + 1000000 AS pk FROM lineitem),
        |e AS (SELECT sk AS src, pk AS dst FROM pr UNION ALL SELECT pk, sk FROM pr),
        |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src)
        |SELECT degree, COUNT(*) AS n_nodes FROM d
        |GROUP BY degree ORDER BY degree""".stripMargin),

    // ANALYZE-style column profile: one aggregation pass computes every
    // column's (rows, nulls, exact distinct, min, max), then unpivots —
    // the planner/ownership statistics report
    Gate("table_profile", (s, dir) =>
      graft.ops.Profile.tableProfile(docs(s, dir),
        Seq("doc_id", "lang", "source", "n_chars")),
      {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |       COUNT(*) - COUNT($c) AS n_null,
           |       COUNT(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }),

    // vocabulary folding through the shared-rule light stemmer (ONE rule
    // list drives the engine column and the oracle SQL)
    Gate("stemmed_vocab", (s, dir) =>
      TextAnalysis.stemmedVocab(docs(s, dir), "text", k = 25),
      {
      val stemmed = graft.ops.TextAnalysis.StemRules
        .foldLeft("tok") { case (e, (pat, suffix)) =>
          s"regexp_replace($e, '$pat', '\\1$suffix')"
        }
      s"""WITH tok AS (SELECT unnest(list_filter(
         |               string_split_regex(lower(text), '\\s+'),
         |               x -> len(x) > 0)) AS tok
         |             FROM documents),
         |st AS (SELECT $stemmed AS term FROM tok)
         |SELECT term, COUNT(*) AS cnt FROM st GROUP BY term
         |ORDER BY cnt DESC, term ASC LIMIT 25""".stripMargin
    }),

    // robust per-group mean: drop the bottom and top deciles by
    // (n_chars, doc_id) rank, average the integer middle — outlier-proof
    // corpus reporting with exact arithmetic
    Gate("trimmed_mean", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .filter(col("rn") > expr("cnt div 10") &&
          col("rn") <= col("cnt") - expr("cnt div 10"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("n_chars")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("trimmed_avg_chars"))
    },
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_kept,
        |       ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |         AS trimmed_avg_chars
        |FROM r WHERE rn > cnt // 10 AND rn <= cnt - cnt // 10
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // grouped continuous percentiles of document length — the corpus
    // length-profile report; interpolation is one IEEE multiply-add on
    // exact integers, identical in both engines
    Gate("doc_quantiles", (s, dir) => {
      docs(s, dir).createOrReplaceTempView("docs_q")
      s.sql(
        """SELECT lang,
          |       percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
          |       percentile_cont(0.5)  WITHIN GROUP (ORDER BY n_chars) AS p50,
          |       percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
          |FROM docs_q GROUP BY lang""".stripMargin)
    },
      """SELECT lang,
        |       percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
        |       percentile_cont(0.5)  WITHIN GROUP (ORDER BY n_chars) AS p50,
        |       percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Pearson correlation per group WITHOUT the order-dependent built-in:
    // centi-integer moments (2-dp money grid) summed exactly, combined in
    // one fixed double expression — the engine's stddev recipe extended to
    // covariance; bit-equal on any layout or engine
    Gate("corr_stats", (s, dir) => {
      val x = floor(col("l_quantity") * 100 + lit(0.5)).cast(LongType)
      val y = floor(col("l_extendedprice") * 100 + lit(0.5)).cast(LongType)
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        // per-row products fit a long; the SUMS go through exact DECIMAL
        // (sum of cents-squared passes 2^63 at sf >= 0.1)
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sx2"),
          sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("sy2"))
        .select(col("l_returnflag"),
          round((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
            (sqrt(col("n").cast(DoubleType) * col("sx2").cast(DoubleType) -
              col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
             sqrt(col("n").cast(DoubleType) * col("sy2").cast(DoubleType) -
               col("sy").cast(DoubleType) * col("sy").cast(DoubleType))), 6)
            .as("corr_qty_price"))
    },
      """WITH m AS (
        |  SELECT l_returnflag,
        |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
        |  FROM m GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) -
        |                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |              sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) -
        |                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |         AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin)
  )
}
