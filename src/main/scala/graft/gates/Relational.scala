package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._
import graft.streaming.EventsStream

/** §2.B relational surface + geo + text matching. */
private[graft] object Relational {
  import Fixtures._

  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // exact decimal sums compared as STRINGS: the final decimal->double
          // cast differs by 1 ulp between engines at sf0.1 magnitudes
          sum(dec(col("l_quantity"))).cast(StringType).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(StringType).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec(col("l_discount"))))
            .cast(StringType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Gate("join3_agg", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast(StringType).as("revenue"))
    },
      """SELECT n_name,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Gate("having_agg", (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast(StringType).as("total"))
        .filter(col("n") >= 3),
      """SELECT user_id, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS total
        |FROM events
        |GROUP BY user_id HAVING COUNT(*) >= 3
        |ORDER BY user_id""".stripMargin),

    Gate("window_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.load(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).drop("rn")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin),

    Gate("values_inline", (s, dir) => {
      Tables.load(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, CAST(w AS DOUBLE) AS w
          |FROM region JOIN (VALUES (0, 1.5), (1, 2.5), (3, 0.5)) AS t(rk, w)
          |  ON r_regionkey = rk
          |ORDER BY r_name""".stripMargin)
    },
      """SELECT r_name, CAST(w AS DOUBLE) AS w
        |FROM region JOIN (VALUES (0, 1.5), (1, 2.5), (3, 0.5)) t(rk, w)
        |  ON r_regionkey = rk
        |ORDER BY r_name""".stripMargin),

    Gate("case_boost", (s, dir) =>
      docs(s, dir).withColumn("score", round(
        col("n_chars").cast(DoubleType) / lit(100.0) +
          when(col("source").isin("src0", "src1"), lit(0.5))
            .when(col("lang") === "en", lit(0.25))
            .otherwise(lit(0.0)), 6))
        .select(col("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(25),
      """SELECT doc_id,
        |       ROUND(CAST(n_chars AS DOUBLE) / 100.0 +
        |             CASE WHEN source IN ('src0', 'src1') THEN 0.5
        |                  WHEN lang = 'en' THEN 0.25
        |                  ELSE 0.0 END, 6) AS score
        |FROM documents
        |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin),

    Gate("geo_distance", (s, dir) =>
      events(s, dir).withColumn("km", round(
        v_geo_distance(
          col("user_id").cast(DoubleType),
          (col("event_id") % 180).cast(DoubleType),
          lit(48.8566), lit(2.3522)) / lit(1000.0), 2))
        .select(col("event_id"), col("km"))
        .orderBy(col("km").asc, col("event_id").asc)
        .limit(50),
      """SELECT event_id,
        |       ROUND(12742000.0 * asin(sqrt(
        |         pow(sin(((48.8566 - CAST(user_id AS DOUBLE)) * 0.017453292519943295) / 2), 2) +
        |         cos(CAST(user_id AS DOUBLE) * 0.017453292519943295) *
        |         cos(48.8566 * 0.017453292519943295) *
        |         pow(sin(((2.3522 - CAST(event_id % 180 AS DOUBLE)) * 0.017453292519943295) / 2), 2)
        |       )) / 1000.0, 2) AS km
        |FROM events
        |ORDER BY km ASC, event_id ASC LIMIT 50""".stripMargin),

    Gate("match_text", (s, dir) =>
      docs(s, dir)
        .withColumn("relevance", round(match_text(col("text"), "spark join merge"), 6))
        .filter(col("relevance") > 0.0)
        .select(col("doc_id"), col("relevance"))
        .orderBy(col("relevance").desc, col("doc_id").asc)
        .limit(20),
      """SELECT doc_id,
        |       ROUND(CAST(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |                                     ['spark', 'join', 'merge'])) AS DOUBLE) / 3.0, 6) AS relevance
        |FROM documents
        |WHERE len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |                         ['spark', 'join', 'merge'])) > 0
        |ORDER BY relevance DESC, doc_id ASC LIMIT 20""".stripMargin),

    // consecutive-token phrase occurrences (MATCH_PHRASE) — the pattern
    // string is generated ONCE (phraseRegex) for both engines
    Gate("phrase_match", (s, dir) =>
      docs(s, dir)
        .withColumn("n_hits", match_phrase(col("text"), "the data"))
        .filter(col("n_hits") > 0)
        .select(col("doc_id"), col("n_hits")),
      {
      val pat = graft.functions.phraseRegex(Seq("the", "data"))
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(lower(text), '$pat')) AS INTEGER) AS n_hits
         |FROM documents
         |WHERE len(regexp_extract_all(lower(text), '$pat')) > 0
         |ORDER BY doc_id""".stripMargin
    }),

    // the INDEXED phrase path: token-position adjacency joins over
    // term-pruned postings (token semantics, vs the regex scan above)
    Gate("phrase_index", (s, dir) =>
      graft.ops.TextIndex.phraseMatch(
        docs(s, dir), "doc_id", "text", Seq("the", "data")),
      // positions over the UNFILTERED split (empties keep their slot, like
      // posexplode), one (doc, pos) equi-join per adjacent term pair
      """WITH t AS (SELECT doc_id, unnest(ls) AS tok, unnest(range(0, len(ls))) AS pos
        |           FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ls
        |                 FROM documents)),
        |a AS (SELECT doc_id, pos FROM t WHERE tok = 'the'),
        |b AS (SELECT doc_id, pos - 1 AS pos FROM t WHERE tok = 'data')
        |SELECT a.doc_id, count(*) AS n_hits
        |FROM a JOIN b ON a.doc_id = b.doc_id AND a.pos = b.pos
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),

    Gate("window_agg_events", (s, dir) =>
      EventsStream.windowedAggBatch(s, dir),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // bounded form of the mapGroupsWithState running user stats: the
    // final state after a full pass is exactly the per-user aggregate
    // (StreamingSpec proves stream==batch on the same data); DECIMAL sum
    // so the total is order-independent
    Gate("user_stats_final", (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast(StringType).as("total")),
      """SELECT user_id, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // bounded form of the streaming watermark dedup (dedupedEvents):
    // (user_id, props) bursts within the 2h horizon keep only the first
    // event — session_window, the operator that runs incrementally under
    // a watermark in streaming (StreamingSpec covers the unbounded form)
    Gate("stream_dedup", (s, dir) =>
      EventsStream.dedupWithinHorizonFromDir(s, dir),
      // Spark side truncates nanos to micros before session_window, so the
      // oracle compares truncated values too); burst = first event kept
      """WITH g AS (
        |  SELECT user_id, props, ts, epoch_ns(ts) // 1000 AS tus,
        |         CASE WHEN epoch_ns(ts) // 1000
        |                   - LAG(epoch_ns(ts) // 1000)
        |                     OVER (PARTITION BY user_id, props ORDER BY ts)
        |                   >= 7200000000
        |              OR LAG(ts) OVER (PARTITION BY user_id, props ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |-- island sum ordered by the SAME full-resolution ts as the lag
        |-- windows: ordering by truncated micros would tie-break
        |-- arbitrarily on same-microsecond events
        |i AS (SELECT user_id, props, tus,
        |             SUM(brk) OVER (PARTITION BY user_id, props ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g)
        |SELECT user_id, props, MIN(tus) AS kept_ts_us, COUNT(*) AS n_dups
        |FROM i GROUP BY user_id, props, sid
        |ORDER BY user_id, props, kept_ts_us""".stripMargin),

    // stream-stream interval join (event-time purchase attribution): the
    // bounded gate form of EventsStream.attributedPairs — the SAME join
    // runs unbounded with watermark-evicted state (StreamingSpec); one
    // co-partitioned shuffle of both streams on user_id
    Gate("stream_join", (s, dir) =>
      EventsStream.attributedPurchasesBatch(
        s.read.parquet(s"$dir/events.parquet")),
      // gaps-and-islands per (user_id, props) at MICROsecond precision (the
      // event-time attribution join at MICROSECOND precision on both sides
      // (Spark's ts DIV 1000 == DuckDB's epoch_ns // 1000; the 30-minute
      // horizon is the integer 1800000000 us — no interval-type ambiguity)
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_ns(ts) // 1000 AS tus FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |       COUNT(*) AS n_clicks, MIN(c.event_id) AS first_click
        |FROM e p JOIN e c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.tus <= p.tus AND c.tus >= p.tus - 1800000000
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // sessionization: Spark's native session_window (map-side state merge,
    // one shuffle on the key; the same expression runs incrementally under
    // Structured Streaming) vs the oracle's gaps-and-islands SQL
    Gate("session_agg", (s, dir) =>
      graft.ops.TimeSeries.sessionAgg(events(s, dir), "user_id", "ts", "24 hours")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          col("n_events"), col("span_us")),
      // gaps-and-islands: a session breaks when the gap to the previous
      // event is >= 24h (Spark merges while next < prev + gap)
      """WITH g AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   >= INTERVAL 24 HOURS
        |              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |i AS (SELECT user_id, ts,
        |             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g)
        |SELECT user_id,
        |       epoch_ns(MIN(ts)) // 1000 AS session_start_us,
        |       COUNT(*) AS n_events,
        |       epoch_ns(MAX(ts)) // 1000 - epoch_ns(MIN(ts)) // 1000 AS span_us
        |FROM i GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin),

    // as-of join: latest purchase at-or-before each click per user; no
    // native Spark operator — union + one per-key ranking window carries
    // the last right-side payload forward (no row explosion)
    Gate("asof_join", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"), col("ts"))
      graft.ops.TimeSeries.asofJoin(clicks, purchases, "user_id", "ts",
          Seq("p_event_id", "ts"), tiebreakCol = Some("p_event_id"))
        .select(col("event_id"), col("asof_p_event_id").as("p_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("lag_us"))
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS p_event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, p.p_event_id,
        |       CASE WHEN p.p_event_id IS NOT NULL
        |            THEN epoch_ns(c.ts) // 1000 - epoch_ns(p.ts) // 1000 END AS lag_us
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // keyless point-in-interval join: errors landing inside 2h incident
    // windows opened by big purchases — NO equi key, the shape Spark
    // plans as an O(N·M) BroadcastNestedLoopJoin; intervalJoin's
    // time-chunk rewrite runs it as a hash equi-join on the chunk id
    Gate("interval_join", (s, dir) => {
      val e = events(s, dir)
      val incidents = e.filter(col("event_type") === "purchase" && col("value") > 300)
        .select(col("event_id").as("incident_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"))
      graft.ops.TimeSeries.intervalJoin(errors, "ts", incidents,
          "start_ts", "end_ts", Seq("incident_id"), bucket = "1 hour")
        .groupBy(col("iv_incident_id").as("incident_id"))
        .agg(count(lit(1)).as("n_errors"), min(col("event_id")).as("first_error"))
    },
      // naive inequality join — the semantics intervalJoin's chunked
      // equi-join rewrite must reproduce exactly (half-open [start, end))
      """WITH i AS (SELECT event_id AS incident_id, ts AS s,
        |                  ts + INTERVAL 2 HOURS AS e
        |           FROM events WHERE event_type = 'purchase' AND value > 300),
        |     p AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        |SELECT i.incident_id, COUNT(*) AS n_errors, MIN(p.event_id) AS first_error
        |FROM i JOIN p ON p.ts >= i.s AND p.ts < i.e
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // wide-format per-language source counts (groupBy + pivot with an
    // explicit value list — map-side partial aggregation, one shuffle)
    Gate("pivot_stats", (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .pivot("source", Seq("src0", "src1", "src2", "src3"))
        .agg(count(lit(1)))
        .select(col("lang"),
          coalesce(col("src0"), lit(0L)).as("src0_n"),
          coalesce(col("src1"), lit(0L)).as("src1_n"),
          coalesce(col("src2"), lit(0L)).as("src2_n"),
          coalesce(col("src3"), lit(0L)).as("src3_n")),
      """SELECT lang,
        |       CAST(COALESCE(SUM(CASE WHEN source = 'src0' THEN 1 END), 0) AS BIGINT) AS src0_n,
        |       CAST(COALESCE(SUM(CASE WHEN source = 'src1' THEN 1 END), 0) AS BIGINT) AS src1_n,
        |       CAST(COALESCE(SUM(CASE WHEN source = 'src2' THEN 1 END), 0) AS BIGINT) AS src2_n,
        |       CAST(COALESCE(SUM(CASE WHEN source = 'src3' THEN 1 END), 0) AS BIGINT) AS src3_n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // literal CROSS JOIN LATERAL correlated-top-k (tests.sql:340-344 shape)
    Gate("lateral_topk", (s, dir) => {
      Tables.load(s, dir, "region").createOrReplaceTempView("region")
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
      s.sql(
        """SELECT r.r_name, t.n_name FROM region r,
          |LATERAL (SELECT n_name FROM nation n
          |         WHERE n.n_regionkey = r.r_regionkey
          |         ORDER BY n_name LIMIT 2) t
          |ORDER BY r_name, n_name""".stripMargin)
    },
      """SELECT r.r_name, t.n_name FROM region r,
        |LATERAL (SELECT n_name FROM nation n
        |         WHERE n.n_regionkey = r.r_regionkey
        |         ORDER BY n_name LIMIT 2) t
        |ORDER BY r_name, n_name""".stripMargin),

    // JSON array containment: payload->'tags' @> '["..."]' (tests.sql:224)
    Gate("json_containment", (s, dir) =>
      docs(s, dir)
        .withColumn("payload", to_json(struct(array(col("lang"), col("source")).as("tags"))))
        .select(col("doc_id"),
          json_contains_value(col("payload"), "tags", "en").as("has_en"),
          json_contains_value(col("payload"), "tags", "src3").as("has_src3")),
      """SELECT doc_id,
        |       list_contains(CAST(json_extract(to_json({'tags': [lang, source]}), '$.tags') AS VARCHAR[]), 'en') AS has_en,
        |       list_contains(CAST(json_extract(to_json({'tags': [lang, source]}), '$.tags') AS VARCHAR[]), 'src3') AS has_src3
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the backend's NESTED filter: conditions binding to ONE element of
    // an array-of-objects payload (key = 'src7' AND even, inside the
    // same element). The payload JSON derives deterministically from
    // documents; the oracle re-states the nested semantics from base
    // columns — flat per-condition matching would admit extra rows
    // (JsonSpec pins the distinction)
    Gate("nested_filter", (s, dir) => {
      val elem = StructType(Seq(
        StructField("key", StringType), StructField("even", BooleanType)))
      docs(s, dir)
        .withColumn("payload", to_json(array(
          struct(col("lang").as("key"), (col("n_chars") % 2 === 0).as("even")),
          struct(col("source").as("key"), (col("n_chars") % 3 === 0).as("even")))))
        .filter(graft.ops.Json.nestedExists(col("payload"), elem,
          x => x.getField("key") === "src7" && x.getField("even")))
        .select(col("doc_id"))
    },
      // nested semantics from first principles: the only element whose key
      // can be 'src7' is the source element, whose `even` flag is
      // n_chars % 3 = 0 — both conditions on the SAME element
      """SELECT doc_id FROM documents
        |WHERE source = 'src7' AND n_chars % 3 = 0
        |ORDER BY doc_id""".stripMargin)
  )
}
